package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lint: nothing under `src/main/scala` swallows `Throwable`. A
  * `case x: Throwable =>` handler must rethrow `x` (cleanup-then-rethrow,
  * as in `Dedup.components`); anything else catches `NonFatal`. `Bench`
  * and `Verify` are the frozen harness and keep their handlers. */
class NoSwallowedThrowableSpec extends AnyFunSuite {

  private val frozen = Set("Bench.scala", "Verify.scala")

  /** 1-based lines of the `case x: Throwable =>` handlers in `src` whose
    * body does not `throw x`. */
  private def swallowed(src: String): Seq[Int] =
    """case\s+(\w+)\s*:\s*Throwable\s*=>""".r.findAllMatchIn(src)
      .filterNot { m =>
        val v = m.group(1)
        v != "_" && s"""\\bthrow\\s+$v\\b""".r
          .findFirstIn(handlerBody(src, m.end)).isDefined
      }
      .map(m => src.take(m.start).count(_ == '\n') + 1).toSeq

  /** `src` from `from` to the close of the enclosing block or the next
    * `case` at the same depth. */
  private def handlerBody(src: String, from: Int): String = {
    var depth = 0
    var i = from
    while (i < src.length && depth >= 0 &&
           !(depth == 0 && src.startsWith("case ", i))) {
      if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
      i += 1
    }
    src.substring(from, i)
  }

  /** the project root: the nearest ancestor of the test classes that
    * holds `src/main/scala` */
  private lazy val mainSources: Path = {
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .map(_.resolve("src/main/scala")).find(Files.isDirectory(_)).get
  }

  test("the scanner flags swallowing handlers and passes rethrowing ones") {
    assert(swallowed("try f() catch { case _: Throwable => -1L }") == Seq(1))
    assert(swallowed("try f()\ncatch { case e: Throwable =>\n  log(e)\n}") ==
      Seq(2))
    assert(swallowed(
      "try f() catch { case t: Throwable =>\n  close(); throw t\n}").isEmpty)
    assert(swallowed("try f() catch { case NonFatal(e) => log(e) }").isEmpty)
    // a rethrow in a LATER handler does not excuse an earlier one
    assert(swallowed("try f() catch {\n case e: Throwable => log(e)\n" +
      " case t: Exception => throw t\n}") == Seq(2))
  }

  test("no Throwable handler outside the frozen harness swallows it") {
    val files = scala.util.Using.resource(Files.walk(mainSources)) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    }
    assert(files.exists(_.getFileName.toString == "Dedup.scala"))
    val offenders = for {
      f <- files if !frozen(f.getFileName.toString)
      line <- swallowed(
        new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    } yield s"${mainSources.relativize(f)}:$line"
    assert(offenders.isEmpty,
      s"Throwable swallowed (catch NonFatal or rethrow): $offenders")
  }
}
