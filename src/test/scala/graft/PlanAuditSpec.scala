package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.engine.Validator
import graft.operators.Dedup
import graft.sources.RecordTable

/** Mechanical plan-shape audits — the invariants that make the engine
  * 100 TB-credible, asserted on the PLANS (no execution) so a regression
  * is a red test, not a slow cluster:
  *
  *  - single-parse: exactly one JsonFacts kernel, zero JsonToStructs on
  *    every validator output path (the round-1 33x-reparse regression,
  *    mechanically guarded; `graft.Probe validator` prints the same
  *    plan's expression-tree sizes);
  *  - shuffle budget: exact dedup is ONE exchange (groupBy on the
  *    content hash; the operator's ranked-member window shares that
  *    partitioning);
  *  - broadcastability: small-dimension joins plan as broadcast joins,
  *    never sort-merge over a shuffled dim;
  *  - scan hygiene: column pruning reaches the parquet scan (a
  *    2-column aggregation must not read the whole documents schema) and
  *    filters reach PushedFilters;
  *  - no accidental cartesian products anywhere in the lazily-planned
  *    driver queries (the ANN queries' broadcast nested-loop is the one
  *    INTENDED cross join).
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def countParseExprs(df: DataFrame): (Int, Int) = {
    var facts = 0; var js = 0
    df.queryExecution.optimizedPlan.foreach { node =>
      node.expressions.foreach { e =>
        facts += e.collect { case f: graft.expressions.JsonFacts => f }.size
        js += e.collect {
          case j: org.apache.spark.sql.catalyst.expressions.JsonToStructs => j
        }.size
      }
    }
    (facts, js)
  }

  test("single-parse invariant: one JsonFacts, zero JsonToStructs on " +
       "every validator output path") {
    val v = Validator.validate(RecordTable.fixtures(spark))
    for (df <- Seq(
        Validator.violations(v),
        Validator.partitionVerdicts(v),
        v.select("ets_tests", "ets_summary", "kpi_tests", "kpi_summary",
          "validation", "sha256"))) {
      val (facts, js) = countParseExprs(df)
      assert(facts == 1, s"expected exactly 1 JsonFacts, got $facts")
      assert(js == 0, s"expected 0 JsonToStructs, got $js")
    }
  }

  /** Exchange-node count from the formatted explain's node-detail
    * headers (`(4) Exchange`) — `sparkPlan` predates EnsureRequirements
    * (no exchanges inserted yet) and AdaptiveSparkPlanExec hides its
    * initial plan from collect(), so the formatted dump is the stable
    * surface. */
  private def shuffleCount(df: DataFrame): Int =
    formatted(df).linesIterator
      .count(_.trim.matches("""\(\d+\) Exchange( .*)?"""))

  test("exact dedup is a single shuffle; the operator's bounded-member " +
       "window shares the groupBy's hash partitioning") {
    assert(shuffleCount(q("q_dedup_exact")) == 1,
      formatted(q("q_dedup_exact")))
    // the operator variant: window rank + groupBy both keyed on
    // content_sha -> ONE exchange total
    val op = Dedup.exact(
      spark.read.parquet(s"$dir/documents.parquet"), "text", "doc_id")
    assert(shuffleCount(op) == 1, formatted(op))
  }

  test("small-dimension joins broadcast (no sort-merge over a dim)") {
    for (name <- Seq("q_broadcast_join", "q_anti_referential")) {
      val p = formatted(q(name))
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name:\n$p")
    }
    // the semi-join's probe side is a filtered fact table small enough at
    // test SF for AQE/static broadcast either way; just pin the semi
    assert(formatted(q("q_semi_join")).contains("LeftSemi"))
  }

  test("column pruning reaches the parquet scan") {
    // q_token_count aggregates tokens per lang: the scan must read ONLY
    // (lang, text) — source/n_chars/doc_id in ReadSchema would mean the
    // 100 TB scan reads every byte of the table
    val p = formatted(q("q_token_count"))
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(readSchema.contains("lang") && readSchema.contains("text"), p)
    assert(!readSchema.contains("n_chars") && !readSchema.contains("source")
      && !readSchema.contains("doc_id"), readSchema)
  }

  test("filters reach PushedFilters on the scan") {
    val p = formatted(q("q_jaccard_exact"))
    assert(p.contains("PushedFilters") &&
      p.contains("LessThan(doc_id,50)"), p)
    val p2 = formatted(q("q_semi_join"))
    assert(p2.contains("GreaterThan(o_totalprice,100000"), p2)
  }

  test("minhash signature stage is narrow: no hash/range shuffle of " +
       "document text before banding; native shingle+signature kernels " +
       "in the projection") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = formatted(
      Dedup.minhashBandRows(docs, "text", "doc_id", 64, 16, 3))
    // the only exchange allowed is the small-input parallelism guard
    // (round-robin repartition, a no-op at real scale when splits >=
    // cores); a hash/range exchange here would shuffle corpus text
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the signature projection runs the NATIVE kernels (one call per
    // row each, r6) — the pre-r6 shape needed two Generate barriers to
    // keep the interpreted HOF chain single-evaluation; the kernels make
    // the barrier question moot (each output is referenced once)
    assert(p.contains("shingles("), p)
    assert(p.contains("minhash_sig("), p)
  }

  test("decontamination joins the corpus against a BROADCAST benchmark " +
       "gram set — the corpus side never shuffles for the join") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = formatted(graft.operators.TextAnalysis.contamination(
      docs.where(col("doc_id") % 41 =!= 0),
      docs.where(col("doc_id") % 41 === 0)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text analysis scans its one-file documents input without a " +
       "round-robin repartition") {
    val p = formatted(q("q_text_quality"))
    assert(!p.contains("RoundRobinPartitioning"), p)
  }

  test("no accidental cartesian products in lazily-planned driver " +
       "queries; ANN's broadcast nested-loop is the one intended cross") {
    val lazyQueries = Seq("q_agg_summary", "q_broadcast_join", "q_semi_join",
      "q_anti_referential", "q_uniqueness", "q_colstats", "q_grade_bucket",
      "q_rule_violations", "q_window_rank", "q_topk", "q_top_terms",
      "q_set_ops", "q_sessionize", "q_rollup", "q_outer_join",
      "q_date_parts", "q_dedup_exact", "q_jaccard_exact", "q_cosine_exact",
      "q_token_count", "q_token_bpe", "q_langid_confusion",
      "q_text_quality", "q_multimodal")
    for (name <- lazyQueries) {
      val p = formatted(q(name))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
    val ann = formatted(q("q_ann_bruteforce"))
    assert(ann.contains("BroadcastNestedLoopJoin") ||
           ann.contains("BroadcastHashJoin"), ann)
    assert(!ann.contains("CartesianProduct"), ann)
  }

  test("bucket-member aggregation pins its partitioning with an " +
       "explicit-N repartition — the AQE byte-based-coalescing guard " +
       "that keeps the quadratic pair explode parallel — and the " +
       "groupBy reuses that exchange instead of adding its own") {
    // the round-5 pathology this pins: AQE sized the members exchange by
    // its (small) bytes and coalesced the downstream in-bucket pair
    // explode onto ONE task (125 s vs ~2 s at sf0.1, stack-sampled)
    val rows = spark.range(0, 1000).select(
      (col("id") % 7).as("chunk"), (col("id") % 50).as("chunk_val"),
      col("id").as("sig"))
    val members = graft.operators.Dedup.boundedBucketMembers(
      rows, Seq("chunk", "chunk_val"), col("sig"), 100)
    val p = formatted(members)
    assert(p.contains("REPARTITION_BY_NUM"),
      s"explicit-N repartition missing (AQE may coalesce the explode):\n$p")
    // exactly 2 exchanges: the bucket-count aggregate's, and the pinned
    // repartition the final collect_list aggregate rides (the kept-keys
    // join broadcasts). A third exchange = the groupBy stopped reusing
    // the pinned partitioning.
    assert(shuffleCount(members) == 2, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
