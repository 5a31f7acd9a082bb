package graft.cli

import org.apache.spark.sql.SparkSession
import graft.engine.{DatasetRules, Reports, Validator}
import graft.ledger.MetricsLedger

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
  * Single-record mode (the reference's per-file `pywcmp ets validate` /
  * `pywcmp kpi validate [--kpi name]`, `ets.py:53-84`, `kpi.py:640-686`):
  * {{{
  *   ... graft.cli.Main --one record.json [--kpi title] [--no-fail-on-ets]
  * }}}
  * prints the ETS report (and the KPI report unless gated) as JSON and
  * exits with the record's ETS FAILED count.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val flagNames = Set("--no-fail-on-ets")
    val flags = args.filter(flagNames).toSet
    val opts = args.filterNot(flagNames).grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val runDt = opts.getOrElse("run-datetime",
      java.time.Instant.now().toString)
    val failOnEts = !flags.contains("--no-fail-on-ets")

    // `pywcmp bundle sync` analog (no Spark session needed):
    //   --bundle-sync DEST [--schema-url U] [--codelists-url U]
    //   [--topics-url U] [--iana-url U]
    // then run the engine with -Dgraft.dims.dir=DEST
    opts.get("bundle-sync").foreach { dest =>
      import graft.sources.BundleSync
      val defaults = BundleSync.Sources()
      val r = BundleSync.sync(new java.io.File(dest), BundleSync.Sources(
        schemaUrl = opts.getOrElse("schema-url", defaults.schemaUrl),
        codelistsZipUrl =
          opts.getOrElse("codelists-url", defaults.codelistsZipUrl),
        topicsZipUrl = opts.getOrElse("topics-url", defaults.topicsZipUrl),
        ianaUrl = opts.getOrElse("iana-url", defaults.ianaUrl)))
      r.files.foreach(f => println(s"synced $dest/$f"))
      r.errors.foreach(e => System.err.println(s"sync error: $e"))
      sys.exit(if (r.errors.nonEmpty) 1 else 0)
    }

    val builder = SparkSession.builder()
      .appName("graft-wcmp2-validate")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    // spark-submit injects spark.master; fall back to local for direct runs
    val spark = (if (sys.props.contains("spark.master")) builder
      else builder.master(
        s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .getOrCreate()

    opts.get("one").foreach { path =>
      val json = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val (ets, kpi, code) = Reports.validateOneWithCode(spark, json, runDt,
        failOnEts = failOnEts, kpi = opts.get("kpi"))
      println(ets)
      kpi.foreach(println)
      spark.stop()
      sys.exit(math.min(code, 255))
    }

    val input = opts("input")
    val output = opts("output")
    val ledgerDir = opts.getOrElse("ledger", s"$output/_ledger")

    val ledger = new MetricsLedger(ledgerDir)
    val all = spark.read.parquet(input)
    val pending = ledger.pendingOnly(all)

    if (pending.isEmpty) {
      println(s"[graft] all partitions committed in $ledgerDir; nothing to do")
      spark.stop(); sys.exit(0)
    }

    val validated = Reports.withEtsGate(
      Validator.validate(pending), failOnEts).cache()

    Validator.violations(validated)
      .unionAll(DatasetRules.uniquenessViolations(pending))
      .unionAll(DatasetRules.referentialViolations(pending))
      .write.mode("append").parquet(s"$output/violations")

    Reports.reports(validated, runDt)
      .write.mode("append").parquet(s"$output/reports")

    DatasetRules.columnStats(pending)
      .write.mode("append").parquet(s"$output/column_stats")
    DatasetRules.langDrift(pending)
      .write.mode("append").parquet(s"$output/lang_drift")

    // |langs| rows, aggregated once: written as one file, committed, and
    // the exit code
    val verdicts = Validator.partitionVerdicts(validated)
    val verdictRows = verdicts.collect()
    spark.createDataFrame(java.util.List.of(verdictRows: _*), verdicts.schema)
      .coalesce(1).write.mode("append").parquet(s"$output/partition_verdicts")
    ledger.commitVerdicts(verdictRows)

    val code = Reports.exitCode(verdictRows)
    validated.unpersist()
    println(s"[graft] done; ETS FAILED total (exit code) = $code")
    spark.stop()
    sys.exit(code)
  }
}
