package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.sources.RecordTable

/** `graft.Probe` at tiny scale on the shared session: every mode runs to
  * completion and prints its lines, `rules` times the production rule
  * expressions, and failures surface on stderr without aborting the run. */
class ProbeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val queries = "q_agg_summary,q_broadcast_join"

  /** (stdout, stderr) of one `Probe.run` */
  private def probe(args: String*)(sfDir: String = sf): (String, String) = {
    val out = new ByteArrayOutputStream
    val err = new ByteArrayOutputStream
    Console.withOut(new PrintStream(out, true, "UTF-8")) {
      Console.withErr(new PrintStream(err, true, "UTF-8")) {
        Probe.run(spark, args, sfDir)
      }
    }
    (out.toString("UTF-8"), err.toString("UTF-8"))
  }

  private def lines(text: String, prefix: String): Seq[String] =
    text.linesIterator.filter(_.startsWith(prefix)).toSeq

  test("suite: cold/warm/noop per query, each with its stage lines") {
    val (out, err) = probe("suite", queries)()
    assert(!err.contains("FAILED"), err)
    for (q <- queries.split(','); what <- Seq("cold", "warm", "noop"))
      assert(lines(out, s"[suite] $q").exists(_.split("\\s+")(2) == what),
        s"no $q $what line in:\n$out")
    assert(lines(out, "[stage] ").nonEmpty)
  }

  test("plans: one formatted plan file per query") {
    val dir = Files.createTempDirectory("probe-plans")
    val (out, err) = probe("plans", dir.toString, queries)()
    assert(!err.contains("FAILED"), err)
    for (q <- queries.split(',')) {
      assert(lines(out, s"[plans] $q").size == 1)
      assert(new String(Files.readAllBytes(dir.resolve(s"$q.txt")), "UTF-8")
        .contains("== Physical Plan =="))
    }
  }

  test("validator: planning, tree sizes, passes and rule times") {
    val (out, err) = probe("validator", "200", "1")()
    assert(!err.contains("FAILED"), err)
    Seq("[plan] first", "[tree] validate", "[tree] violations",
        "[tree] verdicts", "[validator] rows=200", "[plan] warm",
        "[ruletime]").foreach(p => assert(lines(out, p).nonEmpty, p))
    assert(lines(out, "[ruletime]").size == 20)
  }

  test("rules: the barrier baseline plus one line per ETS and KPI rule") {
    val (out, err) = probe("rules", "100")()
    assert(!err.contains("FAILED"), err)
    val (_, columns) = Probe.ruleColumns(RecordTable.synthesize(spark, 1))
    assert(lines(out, "[rules] ").size == 1 + columns.size)
    assert(lines(out, "[rules] BASE(parse+kernels)").size == 1)
  }

  test("skew: one JSON line with task spread and shuffle volume") {
    val (out, err) = probe("skew", "2000")()
    assert(!err.contains("FAILED"), err)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(lines(out, """{"metric":"skew_resilience"""").head)
    assert(json.get("rows").asLong == 2000L)
    Seq("partition_verdicts", "lang_drift", "uniqueness").foreach { k =>
      assert(json.get(k).get("tasks").asInt > 0, k)
    }
    // the lang-keyed aggregate shuffles map-side partials only
    val verdicts = json.get("partition_verdicts")
    assert(verdicts.get("shuffle_records").asLong > 0)
    assert(verdicts.get("shuffle_records").asLong < 2000L)
  }

  test("rules parity: each timed rule column equals its element of " +
       "Validator.validate's ets_tests / kpi_tests") {
    val records = RecordTable.synthesize(spark, 100)
    val (base, columns) = Probe.ruleColumns(records)
    val timed = base.select(col("path") +: columns.map(_._2): _*)
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    val validated = Validator.validate(records)
      .where(col("parse_ok"))
      .select("path", "ets_tests", "kpi_tests")
      .collect()
    assert(validated.length > 50)
    val nEts = columns.count(_._1.startsWith("ets:"))
    assert(nEts > 0 && nEts < columns.size)
    validated.foreach { r =>
      val expected = r.getSeq[Row](1) ++ r.getSeq[Row](2)
      assert(expected.size == columns.size)
      assert(timed(r.getString(0)) == expected, r.getString(0))
    }
  }

  test("suite over a missing sf dir reports every failing dump and query " +
       "on stderr and returns normally") {
    val missing = Files.createTempDirectory("probe-missing")
      .resolve("sf").toString
    val (out, err) = probe("suite", queries)(missing)
    assert(lines(out, "[suite]").isEmpty)
    assert(err.contains("[probe] dump image_media FAILED"), err)
    for (q <- queries.split(','); what <- Seq("cold", "warm", "noop"))
      assert(err.contains(s"[probe] $q $what FAILED"), err)
  }
}
