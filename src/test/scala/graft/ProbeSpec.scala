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
class ProbeSpec extends SparkSpec with TempDirs {

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
    // queries that read no one-off dump request none; a dump reader
    // requests only its own (asserted on the requests, not on files:
    // another test may have written the dumps already)
    assert(lines(out, "[dump]").isEmpty, out)
    val (embOut, embErr) = probe("suite", "q_embedding_neardup")()
    assert(!embErr.contains("FAILED"), embErr)
    assert(lines(embOut, "[dump]") ==
      Seq("[dump] emb_sigs for q_embedding_neardup"), embOut)
  }

  test("plans: one formatted plan file per query") {
    val dir = tempDir("probe-plans")
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
        "[tree] verdicts", "[tree] compiled_catalog optimized=",
        "[validator] rows=200", "[plan] warm",
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

  test("service: p50, p99 and req/s calling the catalog directly and over " +
       "HTTP at 1, 8 and 32 clients, every answer right") {
    val (out, err) = probe("service", "3")()
    assert(err.isEmpty, err)
    val table = lines(out, "[service] ")
    assert(table.map(_.split("\\s+").slice(1, 3).mkString(" ")) == Seq(
      "direct threads=1", "direct threads=4", "direct idle=200ms",
      "http clients=1", "http clients=8", "http clients=32"), out)
    val (idle, loaded) = table.partition(_.contains(" idle="))
    loaded.foreach { l =>
      for (k <- Seq("p50_ms=", "p99_ms=", "req_per_s="))
        assert(l.contains(k), l)
    }
    idle.foreach { l =>
      for (k <- Seq("calls=3 ", "run_p50_ms=", "evaluate_p50_ms="))
        assert(l.contains(k), l)
    }
    table.foreach(l => assert(l.endsWith(" bad=0"), l))
  }

  test("suite over a missing sf dir reports every failing dump and query " +
       "on stderr and returns normally") {
    val missing = tempDir("probe-missing")
      .resolve("sf").toString
    val (out, err) = probe("suite", s"$queries,q_image_neardup")(missing)
    assert(lines(out, "[suite]").isEmpty)
    assert(err.contains("[probe] dump image_media FAILED"), err)
    for (q <- queries.split(','); what <- Seq("cold", "warm", "noop"))
      assert(err.contains(s"[probe] $q $what FAILED"), err)
  }
}
