package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{DatasetRules, Validator}
import graft.ledger.MetricsLedger
import graft.sources.RecordTable

/** Dataset-level rules, sha256 invariant, scale synthesis, resumability. */
class EngineSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  test("sha256 invariant: engine output sha equals independently computed " +
       "input sha for every record (BASELINE.json input_hint)") {
    val records = RecordTable.fixtures(spark)
    val out = Validator.validate(records)
      .select(col("path"), col("sha256"))
    val expected = records.select(col("path"),
      sha2(col("content"), 256).as("sha_in"))
    assert(out.join(expected, Seq("path"))
      .where(col("sha256") =!= col("sha_in")).count() == 0)
    // and a driver-side recomputation off-Spark agrees
    val one = records.where(col("path").endsWith("wcmp2-passing.json"))
      .select("content").as[String].head()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(one.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val got = Validator.validate(records)
      .where(col("path").endsWith("wcmp2-passing.json"))
      .select("sha256").as[String].head()
    assert(got == hex)
  }

  test("synthesized scale table: expected verdict counts in closed form") {
    val n = 4000L
    val v = Validator.validate(RecordTable.synthesize(spark, n))
    val failed = v.where(col("ets_summary.FAILED") > 0).count()
    assert(failed == SynthExpect.expectedFailing(n))
    // each failing bucket fails exactly its designated rule
    val byRule = Validator.violations(v)
      .groupBy("rule_id").count().collect()
      .map(r => r.getString(0).split("/").last -> r.getLong(1)).toMap
    assert(byRule("identifier") == n / 20 * 2)
    assert(byRule("record_created_datetime") == n / 20)
    assert(byRule("extent_geospatial") == n / 20)
    assert(byRule("data_policy") == n / 20)
    assert(byRule("links") == n / 20)
  }

  test("column stats: one-pass long-form profile") {
    val stats = DatasetRules.columnStats(RecordTable.synthesize(spark, 1000))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(stats.keySet ==
      Set("repo", "path", "commit", "lang", "content"))
    val path = stats("path")
    assert(path.getLong(path.fieldIndex("n_rows")) == 1000)
    assert(path.getLong(path.fieldIndex("null_count")) == 0)
    // HLL++ approx-distinct within ~2 x default rsd of 1000 distinct paths
    val ad = path.getLong(path.fieldIndex("approx_distinct"))
    assert(math.abs(ad - 1000) <= 100)
    val content = stats("content")
    assert(content.getLong(content.fieldIndex("len_min")) > 0)
    val q50 = content.getDouble(content.fieldIndex("len_q50"))
    val q95 = content.getDouble(content.fieldIndex("len_q95"))
    val q99 = content.getDouble(content.fieldIndex("len_q99"))
    assert(q50 > 0 && q50 <= q95 && q95 <= q99)
  }

  test("sketch column stats: mergeable HLL/KLL profile per lang") {
    val rows = DatasetRules.columnStatsSketch(
      RecordTable.synthesize(spark, 2000)).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("en", "fr", "de", "zh"))
    val en = rows("en")
    assert(en.getLong(en.fieldIndex("n_rows")) == 1400)
    // every path distinct within lang
    assert(math.abs(en.getLong(en.fieldIndex("path_distinct")) - 1400)
      <= 1400 * 0.05)
    val q = Seq("content_len_q50", "content_len_q95", "content_len_q99")
      .map(f => en.getDouble(en.fieldIndex(f)))
    assert(q(0) > 0 && q(0) <= q(1) && q(1) <= q(2))
  }

  test("uniqueness: duplicated (repo,path,commit) surfaces as violation") {
    val base = RecordTable.synthesize(spark, 100)
    val withDup = base.unionAll(base.limit(3))
    val v = DatasetRules.uniquenessViolations(withDup).collect()
    assert(v.length == 3)
    assert(v.forall(_.getString(6).startsWith("duplicate identity x2")))
    // clean table -> no violations
    assert(DatasetRules.uniquenessViolations(base).count() == 0)
  }

  test("referential: unknown centre-id surfaces; -test bypass honored") {
    val records = RecordTable.fixtures(spark)
    val v = DatasetRules.referentialViolations(records).collect()
    assert(v.length == 1)
    assert(v.head.getString(6) == "unknown centre_id bad-centre-id")
  }

  test("lang drift: skewed partition drifts against global") {
    // bucket 16 mutation removes ~30 chars from content; give one lang a
    // disproportionate share of mutated rows by filtering
    val base = RecordTable.synthesize(spark, 2000)
    val skewed = base.where(col("lang") =!= "en" ||
      pmod(xxhash64(col("path")), lit(10)) < 2)
    val drift = DatasetRules.langDrift(skewed).collect()
    assert(drift.map(_.getString(0)).toSet.subsetOf(Set("en", "fr", "de", "zh")))
    // psi finite and non-negative-ish for all langs
    drift.foreach(r => assert(!r.isNullAt(1)))
  }

  test("link health via probe-table join (production path for K4/K5)") {
    val records = RecordTable.fixtures(spark)
      .where(col("path").endsWith("wcmp2-passing.json"))
    val probe = Seq(
      ("https://dd.weather.gc.ca/observations/doc/swob-xml_station_list.csv", true, "text/csv"),
      ("https://dd.weather.gc.ca/observations/swob-ml", true, "text/html"),
      ("https://api.weather.gc.ca/collections/swob-realtime/items", true, "application/json"),
      ("https://eccc-msc.github.io/open-data/msc-data/obs_station/readme_obs_insitu_swobdatamart_en", false, "text/html")
    ).toDF("href", "accessible", "mime")
    val h = DatasetRules.linkHealthJoin(records, probe).collect().head
    // K5's pool: the 4 http record links, the 2 theme schemes and the
    // contact link; only record links are probed accessible or declare
    // a type
    assert(h.getLong(h.fieldIndex("n_http_links")) == 7)
    assert(h.getLong(h.fieldIndex("n_accessible")) == 3)
    assert(h.getLong(h.fieldIndex("n_valid_mime")) == 4)
  }

  /** K5's (total, score) in the one record of a validated frame */
  private def k5(v: DataFrame): (Int, Int) = {
    val t = v.select(explode(col("kpi_tests")).as("t"))
      .where(col("t.id").endsWith("links_health")).collect().head
      .getStruct(0)
    (t.getInt(t.fieldIndex("total")), t.getInt(t.fieldIndex("score")))
  }

  test("link health join and recordLinkUrls count K5's pool: concept urls, " +
       "theme schemes, contact links") {
    // the passing fixture plus a theme concept url; it already carries two
    // http theme schemes and an http contact link
    val mapper = new ObjectMapper()
    val doc = mapper.readTree(RecordTable.fixtureContent("wcmp2-passing.json"))
    val props = doc.get("properties")
    props.get("themes").get(0).get("concepts").get(0).asInstanceOf[ObjectNode]
      .put("url", "https://codes.wmo.int/concept/weather")
    val records = Seq(("r", "p", "c", "en", mapper.writeValueAsString(doc)))
      .toDF("repo", "path", "commit", "lang", "content")
    // the pool's hrefs read straight off the JSON
    def hrefs(node: JsonNode, field: String) =
      node.findValues(field).asScala.map(_.asText)
    val pool = (hrefs(doc.get("links"), "href") ++
        hrefs(props.get("themes"), "url") ++
        hrefs(props.get("themes"), "scheme") ++
        hrefs(props.get("contacts"), "href")).filter(_.startsWith("http")).toSeq
    assert(pool.exists(_.endsWith("concept/weather")) &&
      pool.exists(_.contains("earth-system-discipline")) &&
      pool.contains("https://eccc-msc.github.io/open-data"))
    assert(DatasetRules.recordLinkUrls(records).collect().toSet == pool.toSet)

    // one probe row per pooled href: alternate accessibility, a valid and
    // an invalid probed mime
    val probe = pool.distinct.zipWithIndex.map { case (href, i) =>
      (href, i % 2 == 0, if (i % 3 == 0) "text/html" else "x-unknown/x")
    }.toDF("href", "accessible", "mime")
    val (total, score) = k5(Validator.validate(records,
      graft.catalog.MapLinkProbe.fromTable(probe)))
    val h = DatasetRules.linkHealthJoin(records, probe).collect().head
    def n(f: String) = h.getLong(h.fieldIndex(f))
    assert(n("n_http_links") == pool.size)
    assert(2 * n("n_http_links") == total)
    assert(n("n_accessible") + n("n_valid_mime") == score)
    assert(k5(Validator.validate(records))._1 == total)
  }

  test("a probe table with two rows for one href scores K5 the same by " +
       "join and in plan, whatever the row order") {
    val records = RecordTable.fixtures(spark)
      .where(col("path").endsWith("wcmp2-passing.json"))
    val pool = DatasetRules.recordLinkUrls(records).collect().sorted.toSeq
    assert(pool.size >= 3)
    // one row per href, then conflicting second rows for two of them:
    // accessibility and mime disagree, and one first row has no mime
    val rows = pool.zipWithIndex.map { case (href, i) =>
      (href, i % 2 == 1, if (i == 0) null else "x-unknown/x")
    } ++ Seq((pool(0), true, "text/html"), (pool(1), false, "text/csv"))
    val accessible = pool.count(h => rows.exists(r => r._1 == h && r._2))
    val answers = Seq(rows, rows.reverse).map { ordered =>
      val probe = ordered.toDF("href", "accessible", "mime")
      val h = DatasetRules.linkHealthJoin(records, probe).collect().head
      def n(f: String) = h.getLong(h.fieldIndex(f))
      val (total, score) =
        k5(Validator.validate(records,
          graft.catalog.MapLinkProbe.fromTable(probe)))
      assert(n("n_http_links") == pool.size)
      assert(n("n_accessible") == accessible)
      assert(2 * n("n_http_links") == total)
      assert(n("n_accessible") + n("n_valid_mime") == score)
      (total, score)
    }
    assert(answers.distinct.size == 1, answers)
  }

  test("metrics ledger: atomic commit + resume skips verified partitions " +
       "(north rule resumability)") {
    val dir = tempDir("ledger").toString
    val ledger = new MetricsLedger(dir)
    val records = RecordTable.synthesize(spark, 400)
    val verdicts = Validator.partitionVerdicts(Validator.validate(records))
    ledger.commitVerdicts(verdicts.where(col("lang").isin("en", "fr")))
    assert(ledger.committedLangs() == Set("en", "fr"))
    val pending = ledger.pendingOnly(records)
    assert(pending.select("lang").distinct().as[String].collect().toSet ==
      Set("de", "zh"))
    // full resume: commit the rest, nothing pending, fingerprints stable
    ledger.commitVerdicts(Validator.partitionVerdicts(
      Validator.validate(pending)))
    assert(ledger.pendingOnly(records).count() == 0)
    val recommitted = Validator.partitionVerdicts(
      Validator.validate(records)).collect()
      .map(r => r.getString(0) -> r.getLong(r.fieldIndex("sha_fingerprint")))
    recommitted.foreach { case (lang, fp) =>
      assert(ledger.read(lang).get.contains(s""""sha_fingerprint":$fp"""))
    }
  }

  test("metrics ledger: a lang with a quote and a backslash commits as " +
       "valid JSON and reads back field for field") {
    val ledger = new MetricsLedger(
      tempDir("ledger").toString)
    val lang = "x\"y\\z"
    ledger.commit(ledger.Entry(lang, 12L, 3L, -42L, "FAIL"))
    assert(ledger.committedLangs() == Set(lang))
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(ledger.read(lang).get)
    assert(back.get("lang").asText == lang)
    assert(back.get("records").asLong == 12L)
    assert(back.get("failed_records").asLong == 3L)
    assert(back.get("sha_fingerprint").asLong == -42L)
    assert(back.get("verdict").asText == "FAIL")
  }

  test("metrics ledger: langs with path separators, dots, spaces and " +
       "non-ASCII letters round-trip and stay inside the ledger directory") {
    val parent = tempDir("ledger-parent")
    val root = parent.resolve("ledger")
    val ledger = new MetricsLedger(root.toString)
    val langs = Seq("a/b", "a/../../x", "x y", "\u00e9")
    langs.foreach(l => ledger.commit(ledger.Entry(l, 5L, 1L, 7L, "FAIL")))
    assert(ledger.committedLangs() == langs.toSet)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    langs.foreach { l =>
      assert(mapper.readTree(ledger.read(l).get).get("lang").asText == l, l)
    }
    val files = scala.util.Using.resource(Files.walk(parent))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
    assert(files.map(_.getParent).toSet == Set(root), files)
    assert(files.size == langs.size, files)
  }
}
