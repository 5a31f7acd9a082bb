package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cli.Main
import graft.engine.{DatasetRules, Reports, Validator}
import graft.sources.RecordTable

/** The record id, `metadata_id`, is the id the one JsonFacts parse reads
  * (`rec.id`, which the ETS identifier test judges). Every reader agrees
  * on it: the batch reports, `Reports.validateOne`, `CompiledCatalog.run`
  * and the CLI's referential rule. It equals `get_json_object(content,
  * '$.id')` for every kind of id except two, pinned below: duplicate `id`
  * keys (the last one wins, as in `json.loads`) and text that is not valid
  * JSON (no id). */
class IdParitySpec extends SparkSpec {

  private val mapper = new ObjectMapper()
  private val Dt = "2026-08-16T00:00:00Z"
  private val passing = RecordTable.fixtureContent("wcmp2-passing.json")
  private val RealId =
    "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"
  private val Alien = "urn:wmo:md:no-such-centre:x"

  private def withId(id: Option[String]): String = {
    val doc = mapper.readTree(passing).asInstanceOf[ObjectNode]
    id match {
      case Some(raw) => doc.set("id", mapper.readTree(raw))
      case None => doc.remove("id")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(doc)
  }

  /** id kind -> record text */
  private val Kinds: Seq[(String, String)] = Seq(
    "string" -> withId(Some(s""""$RealId"""")),
    "escaped" -> withId(Some(""""urn:wmo:md:int-wmo-test:a\"b\\c\tq"""")),
    "non-ascii" -> withId(Some(""""urn:wmo:md:int-wmo-test:café über 中文"""")),
    "int" -> withId(Some("42")),
    "float" -> withId(Some("1.5E10")),
    "bigint" -> withId(Some("123456789012345678901234567890")),
    "bool" -> withId(Some("true")),
    "object" -> withId(Some("""{ "a" : 1, "b" : [ 1, "x:y" ] }""")),
    "array" -> withId(Some("""[ "urn:wmo:md:x", 2, null ]""")),
    "null" -> withId(Some("null")),
    "missing" -> withId(None),
    "nested" -> {
      val doc = mapper.readTree(withId(None)).asInstanceOf[ObjectNode]
      doc.`with`("properties").put("id", RealId)
      mapper.writeValueAsString(doc)
    },
    "array-root" -> s"[$passing]")

  /** `"id": Alien` in front of the fixture's real id */
  private val Duplicate = "{\"id\": \"" + Alien + "\"," +
    passing.trim.stripPrefix("{")
  private val Trailing = passing + " trailing"

  private lazy val records: DataFrame = spark.createDataFrame(
    (Kinds ++ Seq("duplicate" -> Duplicate, "trailing" -> Trailing)).map {
      case (kind, text) => ("repo", kind, "0" * 40, "en", text)
    }).toDF("repo", "path", "commit", "lang", "content")

  /** `metadata_id` of an ETS report, null when the report omits it */
  private def reportId(report: String): String = {
    val n = mapper.readTree(report).path("metadata_id")
    if (n.isMissingNode) null else n.asText
  }

  /** kind -> (metadata_id, get_json_object's $.id, ETS report id) */
  private lazy val batch: Map[String, (String, String, String)] = {
    val validated = Validator.validate(records)
    val reports = Reports.reports(validated, Dt)
      .select(col("path"), col("ets_report")).collect()
      .map(r => r.getString(0) -> reportId(r.getString(1))).toMap
    validated.select(col("path"), col("metadata_id"),
        get_json_object(col("content"), "$.id")).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getString(2), reports.getOrElse(r.getString(0),
          null))))
      .toMap
  }

  test("every id kind: metadata_id and the batch ETS report equal " +
       "get_json_object's $.id") {
    for ((kind, _) <- Kinds) {
      val (meta, gjo, report) = batch(kind)
      assert(meta == gjo, kind)
      assert(report == gjo, kind)
    }
    assert(batch("string")._1 == RealId)
    assert(batch("object")._1 == """{"a":1,"b":[1,"x:y"]}""")
    assert(Seq("null", "missing", "nested", "array-root")
      .forall(k => batch(k)._1 == null))
  }

  test("every id kind: validateOne and CompiledCatalog.run report the " +
       "batch id") {
    for ((kind, text) <- Kinds ++ Seq("duplicate" -> Duplicate)) {
      val id = batch(kind)._1
      assert(reportId(Reports.validateOne(spark, text, Dt)._1) == id, kind)
      val r = TestCatalog.compiled.run(text, Dt)
      assert(r.parseOk, kind)
      assert(reportId(r.ets) == id, kind)
    }
  }

  test("duplicate id keys: the last one wins, so the identifier test, the " +
       "report and the referential rule judge the same id") {
    val (meta, gjo, report) = batch("duplicate")
    assert(gjo == Alien)
    assert(meta == RealId)
    assert(report == RealId)
    val identifier = Validator.validate(records)
      .where(col("path") === "duplicate")
      .select(filter(col("ets_tests"), t =>
        t.getField("id").endsWith("/identifier")).getItem(0)
        .getField("code")).head().getString(0)
    assert(identifier == "PASSED")
    val (ets, _) = Reports.validateOne(spark, Duplicate, Dt)
    assert(reportId(ets) == RealId)
    assert(reportId(TestCatalog.compiled.run(Duplicate, Dt).ets) == RealId)
  }

  test("trailing garbage: no id, and only the parse_error row is left") {
    val (meta, gjo, report) = batch("trailing")
    assert(gjo == RealId)
    assert(meta == null)
    assert(report == null)
    intercept[IllegalArgumentException](
      Reports.validateOne(spark, Trailing, Dt))
    val r = TestCatalog.compiled.run(Trailing, Dt)
    assert(!r.parseOk)
    assert(reportId(r.ets) == null)
  }

  test("the CLI's violations: per-record rows plus referential rows equal " +
       "the get_json_object default's, except for the duplicate and the " +
       "trailing record") {
    val cli = Main.violations(Main.validated(records, failOnEts = true))
    def rows(df: DataFrame, kinds: Seq[String]): Seq[String] =
      df.where(col("path").isin(kinds: _*)).collect().map(_.toString).toSeq
        .sorted
    val kinds = Kinds.map(_._1)
    val validated = Reports.withEtsGate(Validator.validate(records))
    val reference = Validator.violations(validated)
      .unionAll(DatasetRules.referentialViolations(records))
    assert(rows(cli, kinds) == rows(reference, kinds))
    assert(rows(cli, kinds).exists(_.contains("referential:centre_id")))

    val byRule = cli.where(col("path").isin("duplicate", "trailing"))
      .select(col("path"), col("rule_id")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq.sorted
    assert(byRule == Seq("trailing" -> "parse_error"))
    // the get_json_object default judges the first id of the duplicate
    // and the still-extracted id of the trailing record
    assert(DatasetRules.referentialViolations(records)
      .where(col("path").isin("duplicate", "trailing"))
      .select("diagnostic").collect().map(_.getString(0)).toSeq ==
      Seq("unknown centre_id no-such-centre"))
  }
}
