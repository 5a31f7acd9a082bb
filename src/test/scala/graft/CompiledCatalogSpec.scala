package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{CompiledCatalog, Reports, Validator}
import graft.service.Wcmp2Service
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
      val got = catalog.run(content, Dt)
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
      val got = catalog.run(content, Dt)
      assert(got.parseOk == w.getAs[Boolean]("parse_ok"), s"record $i")
      assert(got.ets == w.getAs[String]("ets"), s"record $i")
      assert(got.kpi == w.getAs[String]("kpi"), s"record $i")
      assert((got.gate, got.gateErrors) == gate(content), s"record $i")
    }
  }

  test("a plan node the evaluator cannot compile fails the build") {
    val agg = spark.range(3).groupBy().count()
    intercept[IllegalStateException](
      new CompiledCatalog(agg.queryExecution.optimizedPlan, spark))
  }

  test("non-ASCII and 4-byte UTF-8 text with escaped quotes and " +
       "backslashes: byte-identical to validateOne through run and through " +
       "a POST of the record as a JSON string") {
    val mapper = new ObjectMapper()
    val doc = mapper.readTree(RecordTable.fixtureContent("wcmp2-passing.json"))
    val props = doc.get("properties").asInstanceOf[ObjectNode]
    props.put("title", "地上気象観測 \"SYNOP\" 🌦 a\\b")
    props.put("description", "Наблюдения 観測所 😀🌍 with \"quotes\", " +
      "a \\backslash\\ and C:\\\\data, ação")
    val record = mapper.writeValueAsString(doc)
    assert(record.contains("\\\"") && record.contains("\\\\"))
    val (ets, kpi) = Reports.validateOne(spark, record, Dt, failOnEts = false)
    assert(kpi.exists(_.contains("地上気象観測")))

    val got = catalog.run(record, Dt)
    assert(got.parseOk)
    assert(got.ets == ets)
    assert(kpi.contains(got.kpi))

    val server = Wcmp2Service.start(port = 0, catalog, Dt)
    def post(process: String): (Int, String) = {
      val inputs = mapper.createObjectNode().put("record", record)
        .put("fail_on_schema_validation", false)
      val body = mapper.createObjectNode().set[ObjectNode]("inputs", inputs)
      val conn = URI.create(s"http://localhost:${server.getAddress.getPort}" +
        s"/processes/$process/execution").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      val os = conn.getOutputStream
      try os.write(mapper.writeValueAsBytes(body)) finally os.close()
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      try (code, new String(in.readAllBytes(), UTF_8)) finally in.close()
    }
    try {
      assert(post(Wcmp2Service.EtsProcessId) == ((200, ets)))
      assert(post(Wcmp2Service.KpiProcessId) == ((200, kpi.get)))
    } finally server.stop(0)
  }
}
