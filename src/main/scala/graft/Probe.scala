package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import graft.catalog.{EtsRules, KpiRules}
import graft.engine.{CompiledCatalog, DatasetRules, Validator}
import graft.service.Wcmp2Service
import graft.sources.RecordTable

/** The measurement main: `sbt "runMain graft.Probe MODE ARGS"`, MODE one
  * of `suite [q1,...]`, `plans OUT_DIR [q1,...]`, `validator ROWS PASSES`,
  * `rules ROWS`, `skew ROWS` or `service POSTS` (README
  * "Measuring" says what each prints). One [[StageListener]] serves
  * every mode. `SPARK_GRAFT_CPUS` sets the local thread count (default
  * 32); `suite` and `plans` read
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
      case Seq("service", posts) => service(spark, posts.toInt)
      case _ => throw new IllegalArgumentException("usage: graft.Probe " +
        "suite [q1,...] | plans OUT_DIR [q1,...] | validator ROWS PASSES " +
        "| rules ROWS | skew ROWS | service POSTS")
    } finally spark.sparkContext.removeSparkListener(stages)
  }

  def main(args: Array[String]): Unit = {
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try run(spark, args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("set SPARK_GRAFT_SF_DIR")))
    finally {
      spark.stop()
      SparkEntry.OracleDump.delete()
    }
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

  private type Dump = (SparkSession, String) => DataFrame

  /** Each one-off dump `suite` can write, with the queries that read it. */
  private val dumps: Seq[(String, Seq[String], Dump)] = Seq(
    ("image_media", Seq("q_image_neardup"), SparkEntry.imageMediaTable _),
    ("simhash_sigs", Seq("q_simhash_pairs"), SparkEntry.simhashSigTable _),
    ("minhash_bands", Seq("q_minhash_pairs", "q_lsh_bucket_stats"),
      SparkEntry.minhashBandTable _),
    ("emb_sigs", Seq("q_embedding_neardup"), SparkEntry.embSigTable _),
    ("adpcm_ref", Seq("q_audio_adpcm"), SparkEntry.adpcmRefTable _))

  private def suite(spark: SparkSession, stages: StageListener, sfDir: String,
                    queries: Seq[String]): Unit = {
    // the one-off dumps the picked queries read run once, outside the
    // timings, as in Bench; one line per dump requested
    for ((name, readers, dump) <- dumps;
         picked = readers.filter(queries.contains) if picked.nonEmpty) {
      println(s"[dump] $name for ${picked.mkString(",")}")
      attempt(s"dump $name")(dump(spark, sfDir).count())
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
  /** expression nodes of every operator of `p` */
  private[graft] def planNodes(p: LogicalPlan): Int =
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
    println("[tree] compiled_catalog optimized=" +
      planNodes(graft.engine.CompiledCatalog.optimizedPlan(spark)))
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
    * element order. The rule walks run in the frame's third barrier, so
    * they count in its BASE line. */
  private[graft] def ruleColumns(records: DataFrame)
      : (DataFrame, Seq[(String, Column)]) = {
    val (base, rc) = Validator.withKernels(records)
    (base, EtsRules.catalog(rc).map(r => s"ets:${r.name}" -> r.result) ++
      KpiRules.catalog(rc)
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

  /** `n` threads, each making `calls` calls `call(thread, i)` back to
    * back: the sorted per-call ms, the wall seconds, and how many calls
    * returned false or threw. */
  private def closedLoop(n: Int, calls: Int)(call: (Int, Int) => Boolean)
      : (Seq[Double], Double, Int) = {
    val ns = Array.ofDim[Long](n, calls)
    val bad = new AtomicInteger
    val threads = (0 until n).map { t =>
      new Thread(() => for (i <- 0 until calls) {
        val t0 = System.nanoTime()
        val ok = try call(t, i) catch { case NonFatal(_) => false }
        ns(t)(i) = System.nanoTime() - t0
        if (!ok) bad.incrementAndGet()
      })
    }
    val (_, wall) = Bench.time {
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    (ns.flatten.sorted.toSeq.map(_ / 1e6), wall, bad.get)
  }

  /** The service under closed-loop load. Builds the catalog and starts
    * [[Wcmp2Service]] on an ephemeral port. The requests cycle through
    * ETS, ETS with `fail_on_schema_validation=false` and KPI over a
    * passing and a failing record. After a warm-up (the 32-client level,
    * unreported) it prints one line per load level: p50 and p99 ms,
    * requests per second, and the calls that failed or answered other
    * than the warm-up did.
    *  - `direct threads=1|4`: `CompiledCatalog.run` called in process,
    *    no HTTP; 4 is the server's pool size, so this is what the
    *    evaluator lock lets the server reach.
    *  - `direct idle=200ms`: up to 50 calls of `run`, and as many of the
    *    bare evaluator, one at a time after a 200 ms idle gap each (an
    *    open-loop request at a low rate). It prints both p50s: their
    *    difference is the cost of the request's SQL execution span.
    *    `bad` counts calls whose two answers differ.
    *  - `http clients=1|8|32`: that many threads each send `posts` POSTs
    *    back to back through one shared JDK `HttpClient` (HTTP/1.1: one
    *    kept-alive connection per busy thread). */
  private def service(spark: SparkSession, posts: Int): Unit = {
    val runDatetime = "2026-01-01T00:00:00Z"
    val catalog = CompiledCatalog.build(spark)
    val server = Wcmp2Service.start(0, catalog, runDatetime)
    def report(level: String, r: (Seq[Double], Double, Int)): Unit = {
      val (ms, wall, bad) = r
      println(f"[service] $level calls=${ms.length} " +
        f"p50_ms=${ms(ms.length / 2)}%.2f " +
        f"p99_ms=${ms(math.min(ms.length - 1, ms.length * 99 / 100))}%.2f " +
        f"req_per_s=${ms.length / wall}%.0f bad=$bad")
    }
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/processes"
      val records = Seq("wcmp2-passing.json", "wcmp2-failing.json")
        .map(RecordTable.fixtureContent)
      val requests = for {
        record <- records
        (id, extra) <- Seq(Wcmp2Service.EtsProcessId -> "",
          Wcmp2Service.EtsProcessId -> ""","fail_on_schema_validation":false""",
          Wcmp2Service.KpiProcessId -> "")
      } yield HttpRequest.newBuilder(URI.create(s"$base/$id/execution"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"inputs":{"record":$record$extra}}""")).build()
      val client = HttpClient.newBuilder()
        .version(HttpClient.Version.HTTP_1_1).build()
      def send(r: HttpRequest): (Int, String) = {
        val resp = client.send(r, HttpResponse.BodyHandlers.ofString())
        (resp.statusCode, resp.body)
      }
      val expected = requests.map(send)
      def http(n: Int) = closedLoop(n, posts) { (t, i) =>
        val k = (t + i) % requests.size
        send(requests(k)) == expected(k)
      }
      // the JIT keeps speeding the evaluator up for thousands of requests
      http(32)
      for (n <- Seq(1, 4))
        report(s"direct threads=$n", closedLoop(n, posts) { (t, i) =>
          catalog.run(records((t + i) % records.size), runDatetime).parseOk
        })
      def afterGap[T](f: => T): (T, Double) = {
        Thread.sleep(200)
        val t0 = System.nanoTime()
        val r = f
        (r, (System.nanoTime() - t0) / 1e6)
      }
      val idle = (0 until math.min(posts, 50)).map { i =>
        val record = records(i % records.size)
        val (ran, runMs) = afterGap(catalog.run(record, runDatetime))
        val (bare, evalMs) = afterGap(catalog.evaluate(record, runDatetime))
        (runMs, evalMs, ran == bare)
      }
      def p50(ms: Seq[Double]): Double = ms.sorted.apply(ms.length / 2)
      println(f"[service] direct idle=200ms calls=${idle.length} " +
        f"run_p50_ms=${p50(idle.map(_._1))}%.2f " +
        f"evaluate_p50_ms=${p50(idle.map(_._2))}%.2f " +
        s"bad=${idle.count(!_._3)}")
      for (n <- Seq(1, 8, 32)) report(s"http clients=$n", http(n))
    } finally server.stop(0)
  }
}
