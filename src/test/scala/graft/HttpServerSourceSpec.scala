package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Lint: every JDK `HttpServer` in `src/main` and `src/test` comes from
  * `graft.service.HttpServers.create`. The JDK reads its `TCP_NODELAY`
  * switch once per JVM, when the first server is created, so one server
  * created elsewhere before the service (a fake server in an earlier
  * suite) would bring back the ~40 ms delayed-ACK stall for the whole
  * run. */
class HttpServerSourceSpec extends AnyFunSuite {

  private val helper = "HttpServers.scala"

  /** 1-based lines of `src` that create a JDK server directly. */
  private def creations(src: String): Seq[Int] =
    """\bHttps?Server\s*\.\s*create\s*\(|\bcreateHttps?Server\s*\(""".r
      .findAllMatchIn(src).map(m => src.take(m.start).count(_ == '\n') + 1)
      .toSeq

  /** the project root: the nearest ancestor of the test classes that
    * holds `src/main/scala` */
  private lazy val root: Path = {
    val classes = Paths.get(
      getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala"))).get
  }

  // the samples are split so that this file does not match its own scan
  test("the scanner flags direct server creation and passes the helper") {
    assert(creations("val s = HttpServer" + ".create(addr, 0)") == Seq(1))
    assert(creations("x\nHttpsServer" + "\n  .create(addr, 0)") == Seq(2))
    assert(creations("HttpServerProvider.provider().createHttp" +
      "Server(a, 0)") == Seq(1))
    assert(creations("val s = HttpServers.create(addr)").isEmpty)
  }

  test("only graft.service.HttpServers creates a JDK HttpServer") {
    val files = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      scala.util.Using.resource(Files.walk(root.resolve(d))) {
        _.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      }
    }
    val counts = files.map(f => f -> creations(
      new String(Files.readAllBytes(f), StandardCharsets.UTF_8)))
    val (inHelper, elsewhere) =
      counts.partition(_._1.getFileName.toString == helper)
    assert(inHelper.map(_._2.size) == Seq(1),
      s"$helper must create the one server: $inHelper")
    val offenders = for ((f, lines) <- elsewhere; line <- lines)
      yield s"${root.relativize(f)}:$line"
    assert(offenders.isEmpty,
      s"create servers through graft.service.HttpServers.create: $offenders")
  }
}
