package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The local-mode executor shares the driver JVM; under GC pauses or
      // neighbor load its heartbeats to HeartbeatReceiver can fail
      // repeatedly, and Executor.reportHeartBeat calls
      // System.exit(ExecutorExitCode.HEARTBEAT_FAILURE=56) after
      // spark.executor.heartbeat.maxFailures consecutive misses -- killing
      // the whole sbt test fork even when every test passed. Heartbeats
      // carry only liveness/metrics in tests; make the killer unreachable.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "1200s")
      .config("spark.executor.heartbeat.maxFailures", s"${Int.MaxValue}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the oracle dumps are read back only inside this JVM
    sys.addShutdownHook(SparkEntry.OracleDump.delete())
    s
  }
}

/** Temporary directories a suite creates, deleted with everything in them
  * after its last test. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val dirs = new ConcurrentLinkedQueue[Path]()

  def tempDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d
  }

  override def afterAll(): Unit =
    try dirs.forEach { d =>
      if (Files.exists(d))
        scala.util.Using.resource(Files.walk(d)) {
          _.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => { Files.deleteIfExists(p); () })
        }
    } finally super.afterAll()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
