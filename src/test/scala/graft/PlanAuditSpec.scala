package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, GetJsonObject,
  HigherOrderFunction, JsonToStructs, Length}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import graft.cli.Main
import graft.engine.{DatasetRules, Reports, Validator}
import graft.expressions.JsonFacts
import graft.operators.Dedup
import graft.sources.RecordTable

/** Mechanical plan-shape audits — the invariants that make the engine
  * 100 TB-credible, asserted on the PLANS (no execution) so a regression
  * is a red test, not a slow cluster:
  *
  *  - single-parse: exactly one `JsonFacts.facts` call, zero JsonToStructs on
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

  private def count(plan: LogicalPlan)(p: Expression => Boolean): Int =
    plan.flatMap(_.expressions).map(_.collect { case e if p(e) => e }.size).sum
  private def count(df: DataFrame)(p: Expression => Boolean): Int =
    count(df.queryExecution.optimizedPlan)(p)

  private val isFacts: Expression => Boolean = {
    case f: StaticInvoke =>
      f.staticObject == JsonFacts.getClass && f.functionName == "facts"
    case _ => false
  }
  private val isJsonObject: Expression => Boolean =
    _.isInstanceOf[GetJsonObject]

  private def countParseExprs(df: DataFrame): (Int, Int) =
    (count(df)(isFacts), count(df)(_.isInstanceOf[JsonToStructs]))

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

  test("validator + reports and the compiled catalog: one JsonFacts, no " +
       "get_json_object") {
    val reports = Reports.reports(
      Validator.validate(RecordTable.fixtures(spark)), "2026-01-01T00:00:00Z")
    assert(countParseExprs(reports) == ((1, 0)))
    assert(count(reports)(isJsonObject) == 0)
    val catalog = graft.engine.CompiledCatalog.optimizedPlan(spark)
    assert(count(catalog)(isFacts) == 1)
    assert(count(catalog)(isJsonObject) == 0)
  }

  test("link-probe path: one JsonFacts parse, no from_json or " +
       "get_json_object over content") {
    val records = RecordTable.fixtures(spark)
    val probe = spark.range(1).select(lit("https://x").as("href"),
      lit(true).as("accessible"), lit("text/html").as("mime"))
    for (df <- Seq(graft.engine.DatasetRules.recordLinkUrls(records).toDF(),
        graft.engine.DatasetRules.linkHealthJoin(records, probe))) {
      assert(countParseExprs(df) == ((1, 0)))
      assert(count(df)(isJsonObject) == 0)
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
    // a hash/range exchange here would shuffle corpus text
    assert(!p.contains("hashpartitioning"), p)
    assert(!p.contains("rangepartitioning"), p)
    // the signature projection runs the NATIVE kernels (one call per
    // row each, r6) — the pre-r6 shape needed two Generate barriers to
    // keep the interpreted HOF chain single-evaluation; the kernels make
    // the barrier question moot (each output is referenced once)
    assert(p.contains("Ngrams.computeStrings("), p)
    assert(p.contains("MinHashSig.compute("), p)
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

  test("image near-dup, MinHash band and embedding sketch signature " +
       "stages scan their one-split inputs without a round-robin " +
       "repartition") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // the band and sketch frames are what the q_minhash_pairs and
    // q_embedding_neardup dumps write; the images are encoded over the
    // one-file documents scan, not read from q_image_neardup's dump,
    // which arrives as one split per file
    val images = docs.select(col("doc_id"),
      graft.expressions.ImageOps.synthMedia(col("doc_id"), lit(6))
        .as("media"))
    val repartitioned = Seq(
        "imageDedup" -> Dedup.imageDedup(images),
        "minhashBandRows" ->
          Dedup.minhashBandRows(docs, "text", "doc_id", 64, 16, 3),
        "embeddingSigRows" ->
          Dedup.embeddingSigRows(emb, "embedding", "vec_id", 8))
      .filter(f => formatted(f._2).contains("RoundRobinPartitioning"))
    assert(repartitioned.isEmpty, repartitioned.map(_._1))
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

  /** The CLI's five outputs over its cached validator result. */
  private def cliOutputs(records: DataFrame, cached: DataFrame): Seq[DataFrame] =
    Seq(Main.violations(cached),
      Reports.reports(cached, "2026-01-01T00:00:00Z"),
      DatasetRules.columnStats(records), DatasetRules.langDrift(records),
      Validator.partitionVerdicts(cached))

  test("CLI pass: no get_json_object and one JsonFacts across the " +
       "validated plan and its five output plans") {
    val records = RecordTable.synthesize(spark, 100)
    // counted before the cache exists, which would replace this plan
    val validated = Main.validated(records, failOnEts = true)
    val before = Seq(count(validated)(isFacts), count(validated)(isJsonObject))
    val cached = Main.validated(records, failOnEts = true).cache()
    try {
      val outputs = cliOutputs(records, cached)
      assert(before(0) + outputs.map(count(_)(isFacts)).sum == 1)
      assert(before(1) + outputs.map(count(_)(isJsonObject)).sum == 0)
    } finally cached.unpersist()
  }

  test("CLI pass: the cached relation the outputs read holds no content") {
    val records = RecordTable.synthesize(spark, 100)
    val cached = Main.validated(records, failOnEts = true).cache()
    try {
      val relations = cliOutputs(records, cached)
        .flatMap(_.queryExecution.optimizedPlan.collect {
          case r: InMemoryRelation => r
        })
      assert(relations.size == 5)
      relations.foreach(r => assert(!r.output.exists(_.name == "content")))
    } finally cached.unpersist()
  }

  test("column stats: one length(content), projected below the aggregate") {
    val stats = DatasetRules.columnStats(RecordTable.synthesize(spark, 100))
    assert(count(stats)(_.isInstanceOf[Length]) == 1)
    stats.queryExecution.optimizedPlan.foreach {
      case a: Aggregate =>
        assert(!a.aggregateExpressions.exists(_.exists(_.isInstanceOf[Length])))
      case _ =>
    }
  }

  private val isHof: Expression => Boolean =
    _.isInstanceOf[HigherOrderFunction]

  test("native rule walks: no higher-order function in the validator, " +
       "CLI, --kpi and compiled catalog plans") {
    val records = RecordTable.synthesize(spark, 100)
    val validated = Main.validated(records, failOnEts = true)
    val plans = Seq(
      "Validator.validate" -> Validator.validate(RecordTable.fixtures(spark))
        .queryExecution.optimizedPlan,
      "Main.validated" -> validated.queryExecution.optimizedPlan,
      "Main.violations" -> Main.violations(validated)
        .queryExecution.optimizedPlan,
      "Reports.selectKpi" -> Reports.selectKpi(validated, "contacts")
        .queryExecution.optimizedPlan,
      "CompiledCatalog.optimizedPlan" ->
        graft.engine.CompiledCatalog.optimizedPlan(spark))
    val hofs = plans.map { case (n, p) => n -> count(p)(isHof) }
    assert(hofs.forall(_._2 == 0), s"higher-order functions: $hofs")
  }

  test("the compiled catalog plan stays within its expression-node " +
       "ceiling") {
    // `graft.Probe validator` prints this count as
    // `[tree] compiled_catalog optimized=N`: 1,684 with the native rule
    // walks, 3,763 with the higher-order ones
    val nodes = Probe.planNodes(graft.engine.CompiledCatalog.optimizedPlan(spark))
    assert(nodes <= 1800, s"$nodes expression nodes")
  }
}
