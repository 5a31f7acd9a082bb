package graft

import org.apache.spark.sql.functions._
import graft.engine.{Reports, Validator}
import graft.sources.RecordTable

class ReportsSpec extends SparkSpec {
  import spark.implicits._

  lazy val validated = Validator.validate(RecordTable.fixtures(spark))

  test("ets report JSON matches the reference report shape " +
       "(resources/ets-report.json)") {
    val json = Reports.reports(validated, "2026-08-16T00:00:00Z")
      .where(col("path").endsWith("wcmp2-passing.json"))
      .select("ets_report").as[String].head()
    val m = spark.read.json(Seq(json).toDS()).collect().head
    val schema = m.schema.fieldNames.toSet
    assert(Set("id", "report_type", "summary", "tests", "datetime",
      "metadata_id", "generated_by").subsetOf(schema))
    assert(m.getAs[String]("report_type") == "ets")
    assert(m.getAs[String]("metadata_id") ==
      "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime")
    // uuid-shaped deterministic id
    assert(m.getAs[String]("id")
      .matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    val summary = m.getStruct(m.fieldIndex("summary"))
    assert(summary.getAs[Long]("PASSED") == 12)
    assert(summary.getAs[Long]("FAILED") == 0)
  }

  test("kpi report JSON carries tests array in execution order + summary " +
       "with grade") {
    val json = Reports.reports(validated, "2026-08-16T00:00:00Z")
      .where(col("path").endsWith("wcmp2-passing.json"))
      .select("kpi_report").as[String].head()
    assert(json.contains(""""report_type":"kpi""""))
    assert(json.contains(""""grade":"A""""))
    assert(json.contains(""""total":32"""))
    assert(json.contains(""""score":32"""))
  }

  test("reports are deterministic across runs (injected clock, " +
       "identity-derived ids)") {
    val a = Reports.reports(validated, "2026-08-16T00:00:00Z")
      .select("ets_report", "kpi_report").collect().toSeq
    val b = Reports.reports(Validator.validate(RecordTable.fixtures(spark)),
      "2026-08-16T00:00:00Z").select("ets_report", "kpi_report")
      .collect().toSeq
    assert(a.map(_.toString) == b.map(_.toString))
  }

  test("ETS gate (fail_on_ets default): KPI refused for schema-failing " +
       "records (kpi.py:81-87)") {
    val gated = Reports.withEtsGate(validated)
    val failing = gated.where(col("path").endsWith("wcmp2-failing.json"))
      .select(col("kpi_summary").isNull, col("kpi_gated"))
      .as[(Boolean, Boolean)].head()
    assert(failing == (true, true))
    // passing records keep their KPI payload
    val passing = gated.where(col("path").endsWith("wcmp2-passing.json"))
      .select(col("kpi_summary.score")).as[Int].head()
    assert(passing == 32)
    // --no-fail-on-ets: everything evaluated
    val ungated = Reports.withEtsGate(validated, failOnEts = false)
    assert(ungated.where(col("path").endsWith("wcmp2-failing.json"))
      .select(col("kpi_summary.score")).as[Int].head() == 25)
  }

  test("validateOne: single-record API returns both reports " +
       "(pygeoapi_plugin.py:207-258)") {
    val json = RecordTable.fixtureContent("wcmp2-passing.json")
    val (ets, kpiOpt) = Reports.validateOne(spark, json,
      "2026-08-16T00:00:00Z")
    val e = spark.read.json(Seq(ets).toDS()).collect().head
    val sm = e.getStruct(e.fieldIndex("summary"))
    assert((sm.getLong(sm.fieldIndex("PASSED")),
            sm.getLong(sm.fieldIndex("FAILED"))) == (12L, 0L))
    assert(e.getAs[String]("metadata_id") ==
      "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime")
    val k = spark.read.json(Seq(kpiOpt.get).toDS()).collect().head
    val ks = k.getStruct(k.fieldIndex("summary"))
    assert(ks.getLong(ks.fieldIndex("score")) == 32L)
    assert(ks.getAs[String]("grade") == "A")
  }

  test("validateOne: ETS gate refuses the KPI report for schema-failing " +
       "records; parse errors throw (kpi.py:81-87, util.py:203-219)") {
    val failing = RecordTable.fixtureContent("wcmp2-failing.json")
    val (ets, kpiOpt) = Reports.validateOne(spark, failing)
    assert(ets.contains("\"FAILED\":3"))
    assert(kpiOpt.isEmpty)                      // gated
    assert(Reports.validateOne(spark, failing, failOnEts = false)
      ._2.nonEmpty)                             // --no-fail-on-ets
    intercept[IllegalArgumentException] {
      Reports.validateOne(spark, "{not json")
    }
  }

  test("selectKpi: --kpi single selection recomputes the summary " +
       "(kpi.py:510-517)") {
    val one = Reports.selectKpi(validated, "title")
      .where(col("path").endsWith("wcmp2-passing.json"))
      .select(col("kpi_summary.total"), col("kpi_summary.score"),
        size(col("kpi_tests"))).as[(Int, Int, Int)].head()
    assert(one == ((8, 8, 1)))                  // title KPI alone: 8/8
    intercept[IllegalArgumentException] {
      Reports.selectKpi(validated, "nope")
    }
  }

  test("exit code = ETS FAILED count, like the reference CLI " +
       "(pywcmp/ets.py:83-84); parse errors abort (util.py:203-219)") {
    def exitCode(records: org.apache.spark.sql.DataFrame): Int =
      Reports.exitCode(Validator.partitionVerdicts(records).collect())
    // fixtures include a not-json record: the reference run would raise,
    // so the table run maps it to the abort code
    assert(exitCode(validated) == 255)
    // without the parse-error record: 3 (failing) + 6 single-failure => 9
    assert(exitCode(validated.where(col("parse_ok"))) == 9)
    // empty input: no verdict rows, exit 0
    assert(exitCode(validated.where(lit(false))) == 0)
  }
}
