package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{CompiledCatalog, Reports, Validator}
import graft.sources.RecordTable

/** One compiled catalog per test JVM (building it plans and compiles the
  * whole row-local catalog). */
object TestCatalog {
  lazy val compiled: CompiledCatalog = CompiledCatalog.build(TestSpark.spark)
}

/** The plan-once evaluator against the DataFrame path it replaces in the
  * service: byte-identical reports, equal schema-gate fields. */
class CompiledCatalogSpec extends SparkSpec {
  private def catalog = TestCatalog.compiled
  private val Dt = "2026-08-16T00:00:00Z"

  private val Fixtures = Seq(
    "wcmp2-passing.json", "wcmp2-passing-test-centre-id.json",
    "wcmp2-failing.json", "wcmp2-failing-created-none.json",
    "wcmp2-failing-invalid-centre-id.json",
    "wcmp2-failing-invalid-geometry-range.json",
    "wcmp2-failing-invalid-identifier-empty.json",
    "wcmp2-failing-invalid-identifier-space.json",
    "wcmp2-failing-invalid-link-channel-wis2-topic.json",
    "not-json.csv")

  /** Records as the service validates them: under the ad-hoc identity of
    * [[Reports.validateOne]], so rows are keyed by their content. */
  private def adhoc(contents: DataFrame): DataFrame = contents.select(
    lit(Reports.AdhocRepo).as("repo"), lit(Reports.AdhocPath).as("path"),
    lit(Reports.AdhocCommit).as("commit"), lit(Reports.AdhocLang).as("lang"),
    col("content"))

  /** `content -> (gate code, gate errors)` from [[Validator.validate]]. */
  private def gates(records: DataFrame): Map[String, (String, String)] =
    Validator.validate(records)
      .select(col("content"),
        coalesce(col("validation.code"), lit("PASSED")),
        concat_ws(", ", col("validation.errors")))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
      .toMap

  test("single records: reports byte-identical to validateOne(failOnEts = " +
       "false), gate fields equal Validator.validate's") {
    val contents = Fixtures.map(RecordTable.fixtureContent) ++
      Seq("", "null", "[]", "{}")
    import spark.implicits._
    val gate = gates(adhoc(contents.toDF("content")))
    val parsed = contents.zipWithIndex.map { case (content, i) =>
      val got = catalog.run(spark, content, Dt)
      assert((got.gate, got.gateErrors) == gate(content), s"record $i")
      Try(Reports.validateOne(spark, content, Dt, failOnEts = false)) match {
        case Success((ets, kpi)) =>
          assert(got.parseOk, s"record $i")
          assert(got.ets == ets, s"record $i")
          assert(kpi.contains(got.kpi), s"record $i")
        case Failure(_: IllegalArgumentException) =>
          assert(!got.parseOk, s"record $i")
        case Failure(e) => throw e
      }
      got.parseOk
    }
    // every reference fixture parses; not-json and "" do not
    assert(parsed.take(9).forall(identity))
    assert(!parsed(9) && !parsed(10))
  }

  test("table parity: 400 synthesized records (all six failing buckets) " +
       "and the schema-gate edge records") {
    val table = adhoc(RecordTable.synthesize(spark, 400, partitions = 4)
      .unionByName(RecordTable.gateEdgeRecords(spark)))
    val want = Reports.answers(table, Dt, failOnEts = false).collect()
    assert(want.map(_.getAs[String]("content")).distinct.length == 406)
    assert(want.count(_.getAs[Int]("failed") > 0) >=
      RecordTable.expectedFailing(400))
    val gate = gates(table)
    assert(gate.values.exists(_._1 == "FAILED"))
    for ((w, i) <- want.zipWithIndex) {
      val content = w.getAs[String]("content")
      val got = catalog.run(spark, content, Dt)
      assert(got.parseOk == w.getAs[Boolean]("parse_ok"), s"record $i")
      assert(got.ets == w.getAs[String]("ets"), s"record $i")
      assert(got.kpi == w.getAs[String]("kpi"), s"record $i")
      assert((got.gate, got.gateErrors) == gate(content), s"record $i")
    }
  }

  test("a plan node the evaluator cannot compile fails the build") {
    val agg = spark.range(3).groupBy().count()
    intercept[IllegalStateException](
      new CompiledCatalog(agg.queryExecution.optimizedPlan))
  }
}
