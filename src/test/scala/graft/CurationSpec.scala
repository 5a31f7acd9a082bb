package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = (0L until 400L).map { i =>
    val lang = Seq("en", "de", "es", "zh")(i.toInt % 4)
    (i, s"src${i % 10}", lang, s"document $i body with language $lang")
  }.toDF("doc_id", "source", "lang", "text")

  test("thresholdHex edges and rounding") {
    assert(Curation.thresholdHex(0.0) == "00000000")
    assert(Curation.thresholdHex(1.0) == "g") // above every hex string
    assert(Curation.thresholdHex(0.5) == "80000000")
    assert(Curation.thresholdHex(0.25) == "40000000")
    // 0.1 * 2^32 = 429496729.6 rounds up
    assert(Curation.thresholdHex(0.1) == "1999999a")
    intercept[IllegalArgumentException](Curation.thresholdHex(1.5))
  }

  /** a flat sample: every stratum at `rate` */
  private def hashSample(df: DataFrame, keyCol: String, rate: Double,
                         seed: String = ""): DataFrame =
    Curation.stratifiedSample(df, "lang", Map.empty, rate, keyCol, seed)

  test("hashSample is deterministic, rate-accurate, seed-sensitive") {
    val a1 = hashSample(docs, "doc_id", 0.5, "s1")
      .select("doc_id").as[Long].collect().toSet
    val a2 = hashSample(docs, "doc_id", 0.5, "s1")
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == a2) // same seed = identical set
    val b = hashSample(docs, "doc_id", 0.5, "s2")
      .select("doc_id").as[Long].collect().toSet
    assert(a1 != b) // different seed = different sample
    // 400 rows at rate .5: binomial(400,.5) is within ±60 at ~10 sigma
    assert(math.abs(a1.size - 200) < 60)
    // rate 0 keeps nothing; rate 1 keeps everything
    assert(hashSample(docs, "doc_id", 0.0).count() == 0)
    assert(hashSample(docs, "doc_id", 1.0).count() == 400)
  }

  test("stratifiedSample applies the per-stratum threshold exactly") {
    val sampled = Curation.stratifiedSample(docs, "lang",
      Map("en" -> 1.0, "de" -> 0.0), defaultRate = 0.3,
      keyCol = "doc_id", seed = "x")
    val byLang = sampled.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    assert(byLang("en") == 100) // rate 1.0: all 100 en docs kept
    assert(!byLang.contains("de")) // rate 0.0: none
    // default strata: same rows as the flat sampler at the default rate
    val flat = hashSample(
      docs.where(col("lang").isin("es", "zh")), "doc_id", 0.3, "x")
      .select("doc_id").as[Long].collect().toSet
    val strat = sampled.where(col("lang").isin("es", "zh"))
      .select("doc_id").as[Long].collect().toSet
    assert(strat == flat)
  }

  test("perSourceCap equals the plain single-window cap (pre-prune is " +
       "conservative) and respects the cap under a hot source") {
    import org.apache.spark.sql.expressions.Window
    // hot source: src0 holds half the corpus
    val hot = docs.withColumn("source",
      when(col("doc_id") < 200, "src0").otherwise(col("source")))
    val got = Curation.perSourceCap(hot, "source", "doc_id", k = 7, salts = 4)
      .select("doc_id").as[Long].collect().toSet
    val naive = hot.withColumn("rn", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")))
      .where(col("rn") <= 7).select("doc_id").as[Long].collect().toSet
    assert(got == naive)
    val caps = Curation.perSourceCap(hot, "source", "doc_id", k = 7, salts = 4)
      .groupBy("source").count().as[(String, Long)].collect()
    assert(caps.forall(_._2 <= 7))
    assert(caps.find(_._1 == "src0").get._2 == 7)
  }

  test("tokenBudgetSample bucketed path equals the naive full window") {
    val withTok = docs.withColumn("n_tok",
      size(graft.operators.TextAnalysis.tokens(col("text"))))
    val budgets = Map("en" -> 50L, "de" -> 1000000L, "es" -> 0L)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val bucketed = ids(Curation.tokenBudgetSample(
      withTok, "lang", "n_tok", budgets, 37L, "doc_id", "tb"))
    val naive = ids(CurationReference.tokenBudgetSampleNaive(
      withTok, "lang", "n_tok", budgets, 37L, "doc_id", "tb"))
    assert(bucketed == naive)
    // per-stratum semantics: de budget huge -> all kept; es budget 0 ->
    // none; en budget 50 at ~6 tokens/doc -> the crossing doc is KEPT
    val byLang = Curation.tokenBudgetSample(
        withTok, "lang", "n_tok", budgets, 37L, "doc_id", "tb")
      .groupBy("lang").agg(count(lit(1)).as("n"), sum("n_tok").as("tok"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
      .toMap
    assert(byLang("de")._1 == 100)
    assert(!byLang.contains("es"))
    assert(byLang("en")._2 >= 50) // greedy fill crosses the budget
    // removing the crossing doc dips below budget: minimal over-fill
    val enDocs = Curation.tokenBudgetSample(
        withTok, "lang", "n_tok", budgets, 37L, "doc_id", "tb")
      .where(col("lang") === "en").select("n_tok").as[Int].collect()
    assert(enDocs.map(_.toLong).sum - enDocs.max < 50)
  }

  test("filterFunnel attributes each drop to the FIRST rejecting rule") {
    val d = Seq(
      (1L, "keep", 10),   // passes both
      (2L, "short", 1),   // fails rule1 AND rule2 -> attributed to rule1
      (3L, "keep", 1),    // fails rule2 only
      (4L, null, 5)       // null text: rule1 predicate null -> drop at rule1
    ).toDF("id", "text", "n")
    val funnel = Curation.filterFunnel(d, Seq(
      "text_ok" -> (col("text") === "keep"),
      "n_ok" -> (col("n") >= 2)))
      .orderBy("rule_seq")
      .as[(Int, String, Long, Long, Long)].collect()
    assert(funnel(0) == ((1, "text_ok", 4L, 2L, 2L)))
    assert(funnel(1) == ((2, "n_ok", 2L, 1L, 1L)))
    // survivors match the conjunctive filter, and drops telescope to
    // n_in - n_out
    val kept = d.where(col("text") === "keep" && col("n") >= 2).count()
    assert(kept == funnel.last._5)
    assert(funnel.map(_._4).sum == 4L - kept)
  }
}
