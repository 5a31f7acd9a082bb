package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.SparkConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder attached to an unmodified product main from the outside:
  *
  * {{{
  *   java ... -Dspark.extraListeners=perfbench.SpanListener \
  *     -Dspark.sql.queryExecutionListeners=perfbench.QeListener \
  *     -Dperfbench.trace.out=trace.json  graft.cli.Main ...
  * }}}
  *
  * Spark copies `spark.*` system properties into the session conf, so both
  * listeners load without any change to the product. Spans (SQL execution
  * > job > stage) and counters are kept in memory and written as one JSON
  * document when the application ends, or when the JVM shuts down (the
  * service never stops on its own). Cumulative JVM counters (GC time,
  * codegen classes and compile time) are sampled at every SQL execution
  * start and end, so a caller can difference them over any time window.
  */
object Trace {
  final case class Span(id: String, name: String, kind: String,
                        start: Long, var end: Long, parent: String,
                        attrs: mutable.LinkedHashMap[String, Any] =
                          mutable.LinkedHashMap.empty)

  private val spans = mutable.LinkedHashMap.empty[String, Span]
  // QueryExecutionListener output, joined to SQL execution spans through
  // the QueryExecution object each SQLExecutionEnd event carries
  private val plans = new java.util.IdentityHashMap[QueryExecution, Map[String, Any]]
  private val sqlQe = mutable.HashMap.empty[String, QueryExecution]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val written = new AtomicBoolean(false)
  @volatile var appId: String = ""

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** (compiled classes, total compile ms) from Spark's codegen histogram;
    * its reservoir holds every sample until 1028 compilations. */
  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  private def counters(prefix: String): Seq[(String, Any)] = {
    val (classes, ms) = codegen
    Seq(s"${prefix}_gc_ms" -> gcMs, s"${prefix}_codegen_classes" -> classes,
      s"${prefix}_codegen_ms" -> ms)
  }

  def sqlStart(e: SparkListenerSQLExecutionStart): Unit = synchronized {
    val s = Span(s"sql-${e.executionId}", e.description, "sql", e.time, -1L,
      e.rootExecutionId.filter(_ != e.executionId).map(r => s"sql-$r").orNull)
    s.attrs ++= counters("start")
    spans(s.id) = s
  }

  /** The event's `qe` is `private[sql]`; its accessor is public bytecode. */
  private def qeOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.getClass.getMethod("qe").invoke(e)).collect {
      case q: QueryExecution => q
    }

  def sqlEnd(e: SparkListenerSQLExecutionEnd): Unit = synchronized {
    qeOf(e).foreach(sqlQe(s"sql-${e.executionId}") = _)
    spans.get(s"sql-${e.executionId}").foreach { s =>
      s.end = e.time
      s.attrs ++= counters("end")
      e.errorMessage.foreach(m => s.attrs("error") = m)
    }
  }

  /** Planning phases and a label for one query execution. */
  def planned(func: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val written = (Option(qe.commandExecuted).toSeq ++ Seq(qe.analyzed))
      .flatMap(_.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
        c.outputPath.getName })
      .headOption
    val label = written.map("write:" + _).getOrElse(
      s"$func:" + qe.analyzed.output.map(_.name).mkString(","))
    synchronized {
      plans.put(qe, Map("func" -> func, "label" -> label) ++
        phases.map { case (k, v) => s"${k}_ms" -> v })
    }
  }

  def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    val sql = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    spans(s"job-${e.jobId}") = Span(s"job-${e.jobId}", s"job ${e.jobId}",
      "job", e.time, -1L, sql.map(id => s"sql-$id").orNull)
  }

  def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    spans.get(s"job-${e.jobId}").foreach(_.end = e.time)
  }

  def stageDone(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    val s = Span(s"stage-${i.stageId}", i.name, "stage",
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      stageJob.get(i.stageId).map(j => s"job-$j").orNull)
    val times = stageTaskMs.remove(i.stageId).getOrElse(mutable.ArrayBuffer.empty)
    val sorted = times.sorted
    s.attrs ++= Seq(
      "tasks" -> i.numTasks,
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "records_read" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
      "shuffle_write_bytes" ->
        (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_bytes" ->
        (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "task_max_ms" -> sorted.lastOption.getOrElse(0L),
      "task_median_ms" ->
        (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
    spans(s.id) = s
  }

  def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  /** Write every span (atomically: temp file + rename). Called at
    * application end and again from a shutdown hook; the first call wins. */
  def flush(): Unit = {
    val out = sys.props.get("perfbench.trace.out")
    if (out.isEmpty || !written.compareAndSet(false, true)) return
    val doc = synchronized {
      val (classes, ms) = codegen
      Map(
        "app_id" -> appId,
        "end_gc_ms" -> gcMs,
        "end_codegen_classes" -> classes,
        "end_codegen_ms" -> ms,
        "spans" -> spans.values.map { s =>
          val plan = sqlQe.get(s.id).flatMap(q => Option(plans.get(q)))
            .getOrElse(Map.empty[String, Any])
          (Map("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
            "start" -> s.start, "end" -> s.end, "parent" -> s.parent,
            "trace" -> appId) ++ s.attrs ++ plan).asJava
        }.toSeq.asJava).asJava
    }
    val path = Paths.get(out.get)
    val tmp = Paths.get(out.get + ".tmp")
    Files.write(tmp, new ObjectMapper().writeValueAsString(doc).getBytes(UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

/** The `spark.extraListeners` half: spans and task counters. */
class SpanListener(conf: SparkConf) extends SparkListener {
  Trace.appId = conf.getOption("spark.app.id").getOrElse("")
  sys.addShutdownHook(Trace.flush())

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => Trace.sqlStart(e)
    case e: SparkListenerSQLExecutionEnd => Trace.sqlEnd(e)
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnd(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Trace.stageDone(e)
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    Trace.flush()
}

/** The `spark.sql.queryExecutionListeners` half: planning phases and what
  * each SQL execution wrote or returned. */
class QeListener extends QueryExecutionListener {
  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    Trace.planned(func, qe)
  override def onFailure(func: String, qe: QueryExecution,
                         e: Exception): Unit = Trace.planned(func, qe)
}
