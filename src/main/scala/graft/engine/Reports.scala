package graft.engine

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Report emission (S7): one JSON document per record per suite, matching
  * the reference's report shapes (`/root/reference/pywcmp/resources/
  * ets-report.json:1-83`, `kpi-report.json:1-106`).
  *
  * Nondeterminism injection (SURVEY.md §7.4-9): the reference stamps
  * `uuid4()` + wall-clock datetime (`ets.py:81,111`, `kpi.py:522-525`);
  * here the report id is a deterministic function of the record identity
  * (reproducible reruns, testable goldens) and the datetime is an
  * injectable run timestamp — pass the driver's clock once per job.
  */
object Reports {

  val GeneratedBy =
    "graft-wcmp2spark 0.1.0 (Spark-native WCMP2 validation engine)"

  private val stampFormat = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
    .withZone(java.time.ZoneOffset.UTC)

  /** `t` as an ISO-8601 UTC stamp with exactly 6 fractional digits, so
    * every report stamp has the same width (`Instant.toString` drops
    * trailing zero groups). */
  def stamp(t: java.time.Instant): String = stampFormat.format(t)

  /** the wall-clock run datetime of a report emitted now */
  def stampNow(): String = stamp(java.time.Instant.now())

  private def reportId(suite: String): Column =
    // deterministic uuid-shaped id from the record identity + suite
    concat(
      substring(col("sha256"), 1, 8), lit("-"),
      substring(col("sha256"), 9, 4), lit("-"),
      substring(sha2(concat(col("repo"), col("path"), col("commit"),
        lit(suite)), 256), 1, 4), lit("-"),
      substring(col("sha256"), 13, 4), lit("-"),
      substring(col("sha256"), 17, 12))

  /** ETS report JSON column per validated record (`ets.py:78-114`). Reads
    * [[Validator.validate]]'s columns, `metadata_id` among them. */
  def etsReportJson(runDatetime: String): Column =
    etsReportJson(lit(runDatetime))

  /** [[etsReportJson]] stamped with a datetime column (one clock per row,
    * e.g. per service request). */
  def etsReportJson(runDatetime: Column): Column =
    to_json(struct(
      reportId("ets").as("id"),
      lit("ets").as("report_type"),
      col("ets_summary").as("summary"),
      col("ets_tests").as("tests"),
      runDatetime.as("datetime"),
      col("metadata_id"),
      lit(GeneratedBy).as("generated_by")), Map("ignoreNullFields" -> "true"))

  /** KPI report JSON column per validated record (`kpi.py:521-557`). */
  def kpiReportJson(runDatetime: String): Column =
    kpiReportJson(lit(runDatetime))

  /** [[kpiReportJson]] stamped with a datetime column. */
  def kpiReportJson(runDatetime: Column): Column =
    to_json(struct(
      reportId("kpi").as("id"),
      lit("kpi").as("report_type"),
      col("metadata_id"),
      runDatetime.as("datetime"),
      lit(GeneratedBy).as("generated_by"),
      col("kpi_tests").as("tests"),
      col("kpi_summary").as("summary")), Map("ignoreNullFields" -> "true"))

  /** Reports table: one row per record with both JSON documents. */
  def reports(validated: DataFrame, runDatetime: String): DataFrame =
    validated.where(col("parse_ok"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("sha256"),
        etsReportJson(runDatetime).as("ets_report"),
        kpiReportJson(runDatetime).as("kpi_report"))

  /** The KPI ETS gate (`/root/reference/pywcmp/kpi.py:81-87` with
    * `--fail-on-ets`, default true): KPI evaluation is refused for records
    * that fail the schema-validation gate. The reference raises ValueError
    * per record; at table scale the refusal becomes a null kpi payload +
    * the schema-gate violation row that [[Validator.violations]] already
    * emits. */
  def withEtsGate(validated: DataFrame, failOnEts: Boolean = true): DataFrame =
    if (!failOnEts) validated
    else validated
      .withColumn("kpi_gated", col("validation.code") === "FAILED")
      .withColumn("kpi_tests",
        when(!col("kpi_gated"), col("kpi_tests")))
      .withColumn("kpi_summary",
        when(!col("kpi_gated"), col("kpi_summary")))

  /** KPI names accepted by [[selectKpi]] — the reference's `kpi_*` method
    * suffixes (`/root/reference/pywcmp/wcmp2/kpi.py:502-517`). */
  val KpiNames: Seq[String] = graft.catalog.KpiRules.Ids.map(_._1)

  /** KPI single-selection (the `--kpi` flag, `kpi.py:510-517`): keep only
    * the named KPI in `kpi_tests` and recompute `kpi_summary` over that
    * single test. An unknown name throws, mirroring the reference's
    * ValueError (`kpi.py:512-514`). */
  def selectKpi(validated: DataFrame, kpi: String): DataFrame = {
    if (!KpiNames.contains(kpi))
      throw new IllegalArgumentException(
        s"Invalid KPI number: kpi_$kpi is not in " +
          KpiNames.map("kpi_" + _).mkString("[", ", ", "]"))
    val targetId = graft.catalog.KpiRules.idOf(kpi)
    Validator.withKpiSummary(validated
      .withColumn("kpi_tests", graft.expressions.Summaries
        .selectByIdColumn(col("kpi_tests"), targetId)))
  }

  /** The record identity a single-record call validates under (the report
    * ids derive from it). */
  val AdhocRepo = "adhoc"
  val AdhocPath = "record.json"
  val AdhocCommit: String = "0" * 40
  val AdhocLang = "und"

  /** Single-record entry point — the analog of the reference's pygeoapi
    * processors and per-file CLI (`/root/reference/pywcmp/
    * pygeoapi_plugin.py:207-258`, `ets.py:53-84`): validate ONE WCMP2
    * JSON document with the exact table catalog (a 1-row frame — same
    * semantics at every scale) and return the (etsReport, kpiReport)
    * JSON documents. Unparseable input throws, like `parse_wcmp`
    * (`util.py:203-219`); with `failOnEts` (the KPI `--fail-on-ets`
    * default) a schema-gate failure yields `None` for the KPI report in
    * place of the reference's per-record ValueError (`kpi.py:81-87`).
    * Pass `kpi` to restrict the KPI report to one indicator. */
  def validateOne(spark: org.apache.spark.sql.SparkSession, json: String,
                  runDatetime: String = "1970-01-01T00:00:00Z",
                  probe: graft.catalog.LinkProbe = graft.catalog.OfflineLinkProbe,
                  failOnEts: Boolean = true,
                  kpi: Option[String] = None): (String, Option[String]) = {
    val (ets, kpiRep, _) =
      validateOneWithCode(spark, json, runDatetime, probe, failOnEts, kpi)
    (ets, kpiRep)
  }

  /** [[validateOne]] plus the record's ETS FAILED count — the CLI exit
    * code (`/root/reference/pywcmp/ets.py:83-84`), taken from the computed
    * `ets_summary` rather than re-parsed out of the serialized report
    * (report formatting must not be able to change the exit code). */
  def validateOneWithCode(spark: org.apache.spark.sql.SparkSession,
                  json: String,
                  runDatetime: String = "1970-01-01T00:00:00Z",
                  probe: graft.catalog.LinkProbe = graft.catalog.OfflineLinkProbe,
                  failOnEts: Boolean = true,
                  kpi: Option[String] = None): (String, Option[String], Int) = {
    import spark.implicits._
    val df = Seq((AdhocRepo, AdhocPath, AdhocCommit, AdhocLang, json))
      .toDF("repo", "path", "commit", "lang", "content")
    val row = answers(df, runDatetime, probe, failOnEts, kpi).head()
    if (!row.getAs[Boolean]("parse_ok"))
      throw new IllegalArgumentException(
        "Encoding error: record is not valid JSON")
    (row.getAs[String]("ets"), Option(row.getAs[String]("kpi")),
      row.getAs[Int]("failed"))
  }

  /** [[validateOneWithCode]]'s answers for every record of a table:
    * `(content, parse_ok, ets, kpi, failed)`, with `kpi` null where
    * [[validateOne]] returns `None`. */
  def answers(records: DataFrame,
              runDatetime: String = "1970-01-01T00:00:00Z",
              probe: graft.catalog.LinkProbe = graft.catalog.OfflineLinkProbe,
              failOnEts: Boolean = true,
              kpi: Option[String] = None): DataFrame = {
    val gated = withEtsGate(Validator.validate(records, probe), failOnEts)
    val selected = kpi.map(selectKpi(gated, _)).getOrElse(gated)
    selected.select(col("content"), col("parse_ok"),
      etsReportJson(runDatetime).as("ets"),
      when(col("kpi_summary").isNotNull, kpiReportJson(runDatetime))
        .as("kpi"),
      coalesce(col("ets_summary.FAILED"), lit(0)).as("failed"))
  }

  /** Driver exit code semantics: the reference CLI exits with the FAILED
    * count (`/root/reference/pywcmp/ets.py:83-84`). A record that fails to
    * parse ABORTS the reference run (`json.loads` raises through
    * `parse_wcmp`, `/root/reference/pywcmp/util.py:203-219` — there is no
    * "count it as one failure" path), so any parse error here maps to the
    * abort code 255. Read off the collected
    * [[Validator.partitionVerdicts]] rows (`parse_errors`, `failed_tests`);
    * no rows (empty input) exits 0. */
  def exitCode(verdicts: Array[Row]): Int =
    if (verdicts.exists(_.getAs[Long]("parse_errors") > 0)) 255
    else math.min(verdicts.map(_.getAs[Long]("failed_tests")).sum, 255L).toInt
}
