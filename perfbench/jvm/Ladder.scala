package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{DatasetRules, Reports, Validator}
import graft.expressions.JsonFacts
import graft.ledger.MetricsLedger

/** In-process layer ladder over the public functions of `sources`,
  * `expressions`, `catalog`, `engine` and `ledger`, each rung drained into
  * Spark's `noop` sink:
  *
  * {{{
  *   perfbench.Ladder <records parquet dir> <out.json> <scratch dir>
  * }}}
  *
  * Every rung runs once to plan and compile, then is timed on its second
  * run; layer costs are differences between rungs. Writes one JSON object
  * of `<module>.<what>` numbers.
  */
object Ladder {
  def main(args: Array[String]): Unit = {
    val Array(input, out, scratch) = args
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("perfbench-ladder")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val m = mutable.LinkedHashMap.empty[String, Double]

    def secs(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def rung(df: => DataFrame): Double = {
      def drain(): Unit =
        df.write.format("noop").mode("overwrite").save()
      drain()
      secs(drain())
    }

    val records = spark.read.parquet(input)
    val n = records.count().toDouble
    val validated = Validator.validate(records)
    val scan = rung(records)
    val parse = rung(records.select(JsonFacts.jsonFacts(col("content"))))
    val ets = rung(validated.select("parse_ok", "validation", "ets_tests",
      "ets_summary"))
    val kpi = rung(validated.select("parse_ok", "kpi_tests", "kpi_summary"))
    m("sources.scan_s") = scan
    m("expressions.parse_s") = parse - scan
    m("catalog.ets_s") = ets - parse
    m("catalog.kpi_s") = kpi - parse
    m("engine.validate_s") = rung(validated)

    val cached = Reports.withEtsGate(validated).cache()
    cached.count()
    m("engine.cache_mb") = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    m("engine.violations_s") = rung(Validator.violations(cached))
    m("engine.violation_rows_per_record") =
      Validator.violations(cached).count() / n
    m("engine.reports_s") = rung(Reports.reports(cached, "2026-01-01T00:00:00Z"))
    m("engine.verdicts_s") = rung(Validator.partitionVerdicts(cached))
    m("engine.uniqueness_s") = rung(DatasetRules.uniquenessViolations(records))
    m("engine.referential_s") = rung(DatasetRules.referentialViolations(records))
    m("engine.column_stats_s") = rung(DatasetRules.columnStats(records))
    m("engine.lang_drift_s") = rung(DatasetRules.langDrift(records))
    m("engine.dataset_rules_s") = Seq("uniqueness", "referential",
      "column_stats", "lang_drift").map(k => m(s"engine.${k}_s")).sum

    // ledger: the resume check (Main's pendingOnly + isEmpty) on an empty
    // ledger, then committing every partition verdict; twice each, the
    // second timed, into a fresh directory per attempt
    def ledgerAt(i: Int) = new MetricsLedger(Paths.get(scratch, s"ledger$i").toString)
    val pending = (0 to 1).map(i => secs(ledgerAt(i).pendingOnly(records).isEmpty))
    m("ledger.pending_s") = pending.last
    val verdicts = Validator.partitionVerdicts(cached)
    val commit = (2 to 3).map(i => secs(ledgerAt(i).commitVerdicts(verdicts)))
    m("ledger.commit_s") = commit.last
    cached.unpersist()

    Files.write(Paths.get(out),
      new ObjectMapper().writeValueAsString(m.asJava).getBytes(UTF_8))
    spark.stop()
  }
}
