package graft.cli

import java.util.concurrent.{Callable, ExecutionException, Executors, Future,
  TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.engine.{DatasetRules, Reports, Validator}
import graft.ledger.MetricsLedger
import graft.sources.RecordTable

/** spark-submit entry point — the engine lifecycle of SURVEY.md §3.4.
  *
  * {{{
  * spark-submit --class graft.cli.Main pywcmpspark.jar \
  *   --input  /data/records            \  # (repo,path,commit,lang,content)
  *   --output /data/out                \  # violations/reports/verdicts/stats
  *   --ledger /data/out/_ledger        \  # resumable partition commits
  *   [--run-datetime 2026-08-16T00:00:00Z] [--no-fail-on-ets]
  * }}}
  *
  * Resumability (north rule): partitions (langs) with a committed ledger
  * entry are skipped on restart; each completed partition commits its row
  * count + sha fingerprint atomically. Exit code = min(total ETS FAILED
  * count, 255), matching the reference CLI contract
  * (`/root/reference/pywcmp/ets.py:83-84`).
  *
  * One pass: the input is read with the fixed records schema (no inference
  * job), emptiness is decided from the `lang` partition listing (no job),
  * and the validator result is cached once without `content`.
  * `column_stats` and `lang_drift`, which read the input, start first and
  * run beside the verdicts `collect` that fills the cache; then violations,
  * reports and `partition_verdicts` run side by side over the cache. The
  * ledger commits only after every write has succeeded.
  *
  * Single-record mode (the reference's per-file `pywcmp ets validate` /
  * `pywcmp kpi validate [--kpi name]`, `ets.py:53-84`, `kpi.py:640-686`):
  * {{{
  *   ... graft.cli.Main --one record.json [--kpi title] [--no-fail-on-ets]
  * }}}
  * prints the ETS report (and the KPI report unless gated) as JSON and
  * exits with the record's ETS FAILED count.
  */
object Main {
  private[graft] def options(args: Array[String]): Map[String, String] =
    Options.parse(args, flags = Set("no-fail-on-ets"), valued = Set(
      "input", "output", "ledger", "run-datetime", "one", "kpi",
      "bundle-sync", "schema-url", "codelists-url", "topics-url", "iana-url"))

  def main(args: Array[String]): Unit = sys.exit {
    val opts = options(args)
    if (opts.contains("bundle-sync")) bundleSync(opts)
    else {
      val builder = SparkSession.builder()
        .appName("graft-wcmp2-validate")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
      // spark-submit injects spark.master; fall back to local for direct runs
      val spark = (if (sys.props.contains("spark.master")) builder
        else builder.master(
          s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
        .getOrCreate()
      try run(spark, args) finally spark.stop()
    }
  }

  /** `pywcmp bundle sync` analog (no Spark session needed):
    * `--bundle-sync DEST [--schema-url U] [--codelists-url U]
    * [--topics-url U] [--iana-url U]`, then run the engine with
    * `-Dgraft.dims.dir=DEST`. */
  private def bundleSync(opts: Map[String, String]): Int = {
    import graft.sources.BundleSync
    val dest = opts("bundle-sync")
    val defaults = BundleSync.Sources()
    val r = BundleSync.sync(new java.io.File(dest), BundleSync.Sources(
      schemaUrl = opts.getOrElse("schema-url", defaults.schemaUrl),
      codelistsZipUrl =
        opts.getOrElse("codelists-url", defaults.codelistsZipUrl),
      topicsZipUrl = opts.getOrElse("topics-url", defaults.topicsZipUrl),
      ianaUrl = opts.getOrElse("iana-url", defaults.ianaUrl)))
    r.files.foreach(f => println(s"synced $dest/$f"))
    r.errors.foreach(e => System.err.println(s"sync error: $e"))
    if (r.errors.nonEmpty) 1 else 0
  }

  /** One CLI run in `spark` (left running); returns the exit code. A failed
    * output write is rethrown, and then nothing is committed. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    val opts = options(args)
    val runDt = opts.getOrElse("run-datetime", Reports.stampNow())
    val failOnEts = !opts.contains("no-fail-on-ets")

    opts.get("one") match {
      case Some(path) =>
        val json = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), "UTF-8")
        val (ets, kpi, code) = Reports.validateOneWithCode(spark, json, runDt,
          failOnEts = failOnEts, kpi = opts.get("kpi"))
        println(ets)
        kpi.foreach(println)
        math.min(code, 255)
      case None =>
        val output = opts("output")
        val ledgerDir = opts.getOrElse("ledger", s"$output/_ledger")
        val ledger = new MetricsLedger(ledgerDir)
        val all = RecordTable.readParquet(spark, opts("input"))
        val pending = ledger.pendingOnly(all)
        // an input not partitioned by `lang` needs a job to tell
        if (ledger.pendingLangs(all).fold(pending.isEmpty)(_.isEmpty)) {
          println(s"[graft] all partitions committed in $ledgerDir; nothing to do")
          0
        } else {
          val code = validateAll(pending, ledger, output, runDt, failOnEts)
          println(s"[graft] done; ETS FAILED total (exit code) = $code")
          code
        }
    }
  }

  /** The validator result the outputs read, cached by [[validateAll]]:
    * everything but `content`, which nothing after validation reads. */
  private[graft] def validated(pending: DataFrame, failOnEts: Boolean)
      : DataFrame =
    Reports.withEtsGate(Validator.validate(pending), failOnEts).drop("content")

  /** The violations output over [[validated]]: per-record, uniqueness and
    * referential rows, the last reading the cached `metadata_id`. */
  private[graft] def violations(validated: DataFrame): DataFrame =
    Validator.violations(validated)
      .unionAll(DatasetRules.uniquenessViolations(validated))
      .unionAll(DatasetRules.referentialViolations(validated,
        col("metadata_id")))

  private def validateAll(pending: DataFrame, ledger: MetricsLedger,
      output: String, runDt: String, failOnEts: Boolean): Int = {
    val spark = pending.sparkSession
    def append(df: DataFrame, name: String): Unit =
      df.write.mode("append").parquet(s"$output/$name")
    val pass = new Pass(spark, threads = 5)
    try {
      // started before `cache()` plans the validator on this thread, so
      // most of their work is done before the fill needs the cores
      val stats = pass.start(
        append(DatasetRules.columnStats(pending), "column_stats"))
      val drift = pass.start(
        append(DatasetRules.langDrift(pending), "lang_drift"))
      val cached = validated(pending, failOnEts).cache()
      try {
        // |langs| rows, aggregated once: written as one file, committed,
        // and the exit code. This job fills the cache the writes below read.
        val verdicts = Validator.partitionVerdicts(cached)
        val verdictRows = pass.await(pass.start(verdicts.collect()))
        val writes = Seq(
          pass.start(append(violations(cached), "violations")),
          pass.start(append(Reports.reports(cached, runDt), "reports")),
          pass.start(append(spark.createDataFrame(
            java.util.List.of(verdictRows: _*), verdicts.schema).coalesce(1),
            "partition_verdicts")))
        (Seq(stats, drift) ++ writes).foreach(pass.await)
        ledger.commitVerdicts(verdictRows)
        Reports.exitCode(verdictRows)
      } finally cached.unpersist()
    } finally pass.close()
  }

  /** A fixed pool of named daemon driver threads running one run's Spark
    * actions side by side. Every job they start carries one tag: the first
    * failure cancels the tag's running jobs, stops tasks that have not
    * begun, and is what [[await]] rethrows. */
  private final class Pass(spark: SparkSession, threads: Int)
      extends AutoCloseable {
    private val sc = spark.sparkContext
    private val tag = s"graft-cli-${java.util.UUID.randomUUID}"
    private val failure = new AtomicReference[Throwable]()
    private val pool = {
      val n = new AtomicInteger()
      Executors.newFixedThreadPool(threads, { (r: Runnable) =>
        val t = new Thread(r, s"graft-cli-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    }

    def start[T](body: => T): Future[T] = pool.submit(new Callable[T] {
      def call(): T = {
        Option(failure.get()).foreach(f => throw f)
        sc.addJobTag(tag)
        try body
        catch {
          case t: Throwable =>
            if (failure.compareAndSet(null, t)) sc.cancelJobsWithTag(tag)
            throw t
        }
      }
    })

    def await[T](f: Future[T]): T =
      try f.get()
      catch { case _: ExecutionException => throw failure.get() }

    def close(): Unit = {
      sc.cancelJobsWithTag(tag)
      pool.shutdown()
      if (!pool.awaitTermination(2, TimeUnit.MINUTES)) pool.shutdownNow()
    }
  }
}
