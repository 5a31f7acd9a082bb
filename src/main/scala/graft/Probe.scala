package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import graft.catalog.{EtsRules, KpiRules, OfflineLinkProbe}
import graft.engine.{DatasetRules, Validator}
import graft.sources.RecordTable

/** The measurement main: `sbt "runMain graft.Probe MODE ARGS"`, MODE one
  * of `suite [q1,...]`, `plans OUT_DIR [q1,...]`, `validator ROWS PASSES`,
  * `rules ROWS` or `skew ROWS` (README "Measuring" says what each
  * prints). One [[StageListener]] serves every mode. `SPARK_GRAFT_CPUS`
  * sets the local thread count (default 32); `suite` and `plans` read
  * `SPARK_GRAFT_SF_DIR`. A step that throws non-fatally is reported on
  * stderr and the run goes on. Not driver contract: `Bench`, `Verify`
  * and `Scaling` stay the frozen instruments. */
object Probe {

  /** One completed stage: task-metric totals plus every task's wall ms
    * (sorted), from which max/median skew is read. */
  final case class Stage(id: Int, name: String, wallMs: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, deserMs: Long,
      shuffleReadBytes: Long, shuffleReadRecords: Long,
      shuffleWriteBytes: Long, spillBytes: Long, taskMs: Vector[Long]) {
    def line: String =
      f"[stage] id=$id%4d tasks=${taskMs.size}%4d wall=${wallMs / 1e3}%6.2fs " +
      f"run=${runMs / 1e3}%7.2fs cpu=${cpuMs / 1e3}%7.2fs " +
      f"gc=${gcMs / 1e3}%5.2fs deser=${deserMs / 1e3}%5.2fs " +
      s"shuffle_read=${shuffleReadBytes}B/${shuffleReadRecords}rec " +
      s"shuffle_write=${shuffleWriteBytes}B spill=${spillBytes}B " +
      s"task_ms_max/med=${taskMs.lastOption.getOrElse(0L)}/${median(taskMs)} " +
      name
  }

  private def median(sorted: Seq[Long]): Long =
    if (sorted.isEmpty) 0L else sorted(sorted.length / 2)

  /** Collects stages as they complete. Events arrive on the listener-bus
    * thread; [[take]] drains the bus first, so it sees every stage of
    * the actions that returned before it. */
  final class StageListener extends SparkListener {
    private val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val done = mutable.ArrayBuffer.empty[Stage]

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime)
          yield b - a).getOrElse(0L)
        val tasks = taskMs.remove((si.stageId, si.attemptNumber()))
          .fold(Vector.empty[Long])(_.toVector.sorted)
        done += Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60),
          wall, m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, m.executorDeserializeTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, tasks)
      }

    def take(spark: SparkSession): Seq[Stage] = {
      shims.drainListeners(spark.sparkContext)
      synchronized { val out = done.toVector; done.clear(); out }
    }
  }

  /** Runs one mode on `spark`. `sfDir` is read only by `suite` and
    * `plans`. */
  def run(spark: SparkSession, args: Seq[String], sfDir: => String): Unit = {
    val stages = new StageListener
    spark.sparkContext.addSparkListener(stages)
    try args match {
      case Seq("suite", qs @ _*) => suite(spark, stages, sfDir, names(qs))
      case Seq("plans", out, qs @ _*) => plans(spark, sfDir, out, names(qs))
      case Seq("validator", rows, passes) =>
        validator(spark, rows.toLong, passes.toInt)
      case Seq("rules", rows) => rules(spark, rows.toLong)
      case Seq("skew", rows) => skew(spark, stages, rows.toLong)
      case _ => throw new IllegalArgumentException("usage: graft.Probe " +
        "suite [q1,...] | plans OUT_DIR [q1,...] | validator ROWS PASSES " +
        "| rules ROWS | skew ROWS")
    } finally spark.sparkContext.removeSparkListener(stages)
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try run(spark, args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR")))
    finally spark.stop()
  }

  private def names(args: Seq[String]): Seq[String] = {
    val picked = args.flatMap(_.split(',')).filter(_.nonEmpty)
    if (picked.isEmpty) SparkEntry.queries.keys.toSeq.sorted else picked
  }

  /** Runs one step; a non-fatal throw is printed, not raised. */
  private def attempt(step: String)(body: => Unit): Unit =
    try body
    catch {
      case NonFatal(e) => Console.err.println(s"[probe] $step FAILED: $e")
    }

  /** Wall seconds of `body` and the stages it completed. */
  private def measured(spark: SparkSession, stages: StageListener)(
      body: => Unit): (Double, Seq[Stage]) = {
    stages.take(spark)
    val (_, sec) = Bench.time(body)
    (sec, stages.take(spark))
  }

  private def suite(spark: SparkSession, stages: StageListener, sfDir: String,
                    queries: Seq[String]): Unit = {
    // the one-off dumps run once, outside the timings, as in Bench
    Seq("image_media" -> SparkEntry.imageMediaTable _,
        "simhash_sigs" -> SparkEntry.simhashSigTable _,
        "minhash_bands" -> SparkEntry.minhashBandTable _,
        "emb_sigs" -> SparkEntry.embSigTable _,
        "adpcm_ref" -> SparkEntry.adpcmRefTable _).foreach {
      case (name, dump) => attempt(s"dump $name")(dump(spark, sfDir).count())
    }
    val actions = Seq[(String, DataFrame => Unit)](
      "cold" -> (_.count()), "warm" -> (_.count()),
      "noop" -> (_.write.format("noop").mode("overwrite").save()))
    for (q <- queries; (what, action) <- actions) attempt(s"$q $what") {
      val (sec, ss) = measured(spark, stages)(
        action(SparkEntry.queries(q)(spark, sfDir)))
      println(f"[suite] $q%-28s $what%-4s $sec%7.2fs stages=${ss.size}%3d " +
        f"run=${ss.map(_.runMs).sum / 1e3}%.2fs " +
        f"cpu=${ss.map(_.cpuMs).sum / 1e3}%.2fs " +
        f"gc=${ss.map(_.gcMs).sum / 1e3}%.2fs")
      ss.foreach(s => println(s.line))
    }
  }

  private def plans(spark: SparkSession, sfDir: String, out: String,
                    queries: Seq[String]): Unit = {
    val dir = Files.createDirectories(Paths.get(out))
    queries.foreach { q =>
      attempt(s"plans $q") {
        val text = SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        val file = dir.resolve(s"$q.txt")
        Files.write(file, text.getBytes(StandardCharsets.UTF_8))
        println(s"[plans] $q -> $file")
      }
    }
  }

  private def nodes(e: Expression): Int = 1 + e.children.map(nodes).sum
  private def planNodes(p: LogicalPlan): Int =
    p.collect { case n => n.expressions.map(nodes).sum }.sum

  private def validator(spark: SparkSession, rows: Long, passes: Int): Unit = {
    val records = RecordTable.synthesize(spark, rows)
    def outputs(): Seq[(String, DataFrame)] = {
      val v = Validator.validate(records)
      Seq("validate" -> v, "violations" -> Validator.violations(v),
        "verdicts" -> Validator.partitionVerdicts(v))
    }
    // driver-side planning (analysis + optimization + physical planning)
    // of fresh frames: first use in this JVM, then again after the passes
    def planning(when: String): Unit = println(s"[plan] $when " +
      outputs().tail.map { case (name, df) =>
        f"$name=${Bench.time(df.queryExecution.executedPlan)._2}%.2fs"
      }.mkString(" "))
    planning("first")
    // planning cost grows with expression nodes x optimizer passes
    outputs().foreach { case (name, df) =>
      println(s"[tree] $name analyzed=${planNodes(df.queryExecution.analyzed)}" +
        s" optimized=${planNodes(df.queryExecution.optimizedPlan)}")
    }
    Validator.validate(records).queryExecution.optimizedPlan.foreach {
      _.expressions.foreach { e =>
        val n = nodes(e)
        val name = e match { case a: Alias => a.name; case o => o.prettyName }
        if (n > 200) println(f"[tree]   $name%-24s $n%6d nodes")
      }
    }
    val rates = Bench.validatorPasses(spark, rows, passes)
    println(s"[validator] rows=$rows rows_per_s=" +
      rates.map(r => f"$r%.0f").mkString(","))
    planning("warm")
    val qe = Validator.partitionVerdicts(Validator.validate(records))
      .queryExecution
    qe.executedPlan
    qe.tracker.rules.toSeq.sortBy(-_._2.totalTimeNs).take(20).foreach {
      case (rule, m) => println(f"[ruletime] ${m.totalTimeNs / 1e6}%8.1f ms " +
        f"inv=${m.numInvocations}%4d eff=${m.numEffectiveInvocations}%3d " +
        rule.split('.').last)
    }
  }

  /** The frame and columns `rules` times: every catalog rule's result
    * over the validator's own barriers, in `ets_tests` then `kpi_tests`
    * element order. */
  private[graft] def ruleColumns(records: DataFrame)
      : (DataFrame, Seq[(String, Column)]) = {
    val (base, rc) = Validator.withKernels(records)
    (base, EtsRules.catalog(rc).map(r => s"ets:${r.name}" -> r.result) ++
      KpiRules.catalog(rc, OfflineLinkProbe)
        .map(r => s"kpi:${r.name}" -> r.result))
  }

  private def rules(spark: SparkSession, rows: Long): Unit = {
    val (base, columns) = ruleColumns(RecordTable.synthesize(spark, rows))
    // the crc32(to_json) sink keeps column pruning from skipping the rule
    def pass(c: Column): Double =
      Bench.time(base.agg(sum(crc32(to_json(struct(c.as("v")))))).collect())._2
    (("BASE(parse+kernels)" -> lit(1)) +: columns).foreach { case (name, c) =>
      attempt(s"rules $name") {
        pass(c) // warm once, then best of 2
        val s = math.min(pass(c), pass(c))
        println(f"[rules] $name%-28s $s%6.2fs (${rows / s}%.0f rows/s)")
      }
    }
  }

  private def skew(spark: SparkSession, stages: StageListener,
                   rows: Long): Unit = {
    val corpus = RecordTable.synthesize(spark, rows)
      .withColumn("lang",
        when(pmod(xxhash64(col("path")), lit(10)) < 9, "en").otherwise("zh"))
    // warm codegen + JIT on the full catalog before measuring
    Validator.partitionVerdicts(Validator.validate(corpus)).collect()
    def measure(name: String)(action: => Unit): String = {
      val (wall, ss) = measured(spark, stages)(action)
      val durs = ss.flatMap(_.taskMs).sorted
      val (med, max) = (median(durs), durs.lastOption.getOrElse(0L))
      val spread = if (med > 0) max.toDouble / med else 0.0
      s""""$name":{"wall_sec":${Bench.dec1(wall)},"tasks":${durs.length},""" +
        s""""task_ms_median":$med,"task_ms_max":$max,""" +
        s""""task_spread":${Bench.dec1(spread)},""" +
        s""""shuffle_records":${ss.map(_.shuffleReadRecords).sum}}"""
    }
    val parts = Seq(
      measure("partition_verdicts") {
        Validator.partitionVerdicts(Validator.validate(corpus)).collect()
      },
      measure("lang_drift")(DatasetRules.langDrift(corpus).collect()),
      measure("uniqueness")(DatasetRules.uniquenessViolations(corpus).count()))
    println(s"""{"metric":"skew_resilience","rows":$rows,""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      s""""hot_lang_share":0.9,${parts.mkString(",")}}""")
  }
}
