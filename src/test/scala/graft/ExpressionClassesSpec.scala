package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.catalyst.expressions.Expression
import org.scalatest.funsuite.AnyFunSuite

/** Lint: a kernel under `graft.expressions` is a static function called
  * through [[graft.expressions.Kernel.call]], not a hand-written Catalyst
  * `Expression` class. Every class, trait and object a source file there
  * declares is loaded, with the classes nested in it, and none may be an
  * `Expression`. */
class ExpressionClassesSpec extends AnyFunSuite {

  /** names of the classes, traits and objects declared in `src` */
  private def declared(src: String): Seq[String] =
    """\b(?:class|trait|object)\s+(\w+)""".r.findAllMatchIn(src)
      .map(_.group(1)).toSeq.distinct

  /** every loadable class of package `pkg` named in `names`, with its
    * module class and all classes nested in them */
  private def classesOf(pkg: String, names: Seq[String]): Seq[Class[_]] = {
    def nested(c: Class[_]): Seq[Class[_]] =
      c +: c.getDeclaredClasses.toSeq.flatMap(nested)
    names.flatMap(n => Seq(n, n + "$")).flatMap { n =>
      Try(Class.forName(s"$pkg.$n", false,
        getClass.getClassLoader)).toOption
    }.flatMap(nested).distinct
  }

  private def expressions(names: Seq[String],
      pkg: String = "graft.expressions"): Seq[String] =
    classesOf(pkg, names).filter(classOf[Expression].isAssignableFrom(_))
      .map(_.getName).sorted

  /** the project root: the nearest ancestor of the test classes that
    * holds `src/main/scala` */
  private lazy val expressionSources: Path = {
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala/graft/expressions"))
      .find(Files.isDirectory(_)).get
  }

  test("the scanner finds declarations and the Expression classes " +
       "among them, nested ones included") {
    assert(declared("case class A(x: Int)\n  extends B with C\n" +
      "object D {\n  private[graft] final class E\n}\ntrait F") ==
      Seq("A", "D", "E", "F"))
    assert(expressions(Seq("Kernel", "JsonFacts")).isEmpty)
    // Spark's own expression classes are found
    assert(expressions(Seq("Literal", "Cast", "ScalaUDF"),
      "org.apache.spark.sql.catalyst.expressions") ==
      Seq("org.apache.spark.sql.catalyst.expressions.Cast",
        "org.apache.spark.sql.catalyst.expressions.Literal",
        "org.apache.spark.sql.catalyst.expressions.ScalaUDF"))
    assert(expressions(Seq("NoSuchClass")).isEmpty)
  }

  test("graft.expressions defines no Expression class") {
    val files = scala.util.Using.resource(Files.list(expressionSources)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    }
    assert(files.exists(_.getFileName.toString == "Kernel.scala"))
    val found = files.flatMap { f =>
      expressions(declared(
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
        .map(_ -> f.getFileName.toString)
    }
    assert(found.isEmpty, s"Expression classes under graft.expressions: $found")
  }
}
