package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.catalog.{EtsRules, KpiRules, LinkProbe, OfflineLinkProbe, RecordCols}

/** The constraint-suite engine.
  *
  * Input: the records table `(repo, path, commit, lang, content)`
  * (BASELINE.json input_hint). Output: one wide row per record carrying the
  * full ETS + KPI evaluation, from which violations / reports / partition
  * verdicts are derived.
  *
  * Scaling design (SURVEY.md §3.4): the entire row-local rule catalog —
  * both report arrays, both summaries, the sha256 invariant — compiles into
  * ONE narrow projection over the scan. No shuffle, no UDF: a 1000-executor
  * cluster runs it embarrassingly parallel at scan speed. The reference
  * evaluates the same catalog one record at a time in a Python interpreter,
  * re-reading every codelist per record (`ets.py:226-227,376-377,450`).
  * Exchanges appear only in the dataset-level constraints
  * ([[DatasetRules]]) and the per-partition verdict aggregation.
  */
object Validator {

  /** The two Generate barriers every row-local rule reads through, and
    * the [[RecordCols]] that point the catalog at them: `_p`, the parse
    * products, and `_k`, the per-row kernels several rules share.
    * [[validate]] builds on this frame; `graft.Probe rules` times each
    * rule over the same one, so it measures the production expressions. */
  private[graft] def withKernels(records: DataFrame): (DataFrame, RecordCols) = {
    // PLAN-SHAPE CRITICAL: the parse products are materialized behind an
    // `explode(array(struct(...)))` Generate barrier. CollapseProject
    // happily re-inlines expensive expressions into every downstream
    // reference (measured: 33 JsonToStructs copies, i.e. 33 full JSON
    // parses per row, ~25x slower); a Generate node is a boundary it
    // cannot merge through, so the parse runs exactly once per row while
    // deterministic predicates (e.g. partition pruning on `lang`) still
    // push through to the scan.
    // EXACTLY ONE parse of `content` per row: the
    // [[graft.expressions.JsonFacts]] kernel — one streaming tokenize
    // producing the from_json-parity `rec` struct, parse_ok (json.loads
    // strictness), the missing-vs-null key channels, the raw geometry
    // slice + flattened positions, and the complete schema-gate error
    // array. (Previously the same text was tokenized up to five ways —
    // from_json, try_parse_json building a whole-document variant binary,
    // json_tuple, json_object_keys x2 — measured ~60% of hot-path CPU.)
    val parsedStruct =
      graft.expressions.JsonFacts.jsonFacts(col("content"))
    // second barrier: per-row kernels that multiple rule expressions
    // reference (spellcheck x3 refs each, the K5 link pool x3, K1 title
    // words/stripped x4/x4, K4 previews x3) — materialized ONCE each.
    val rc0 = RecordCols(col("content"), col("_p.rec"),
      col("_p.geom_raw"),
      col("_p.geo_positions"),
      col("_p.props_keys"))
    val titleCol = col("_p.rec.properties.title")
    val kernels = struct(
      // native kernels (one JVM call each; the declarative formulations
      // in Wcmp2Functions / KpiRules.httpLinkPool are the documented
      // reference impls, parity-tested in FunctionsSpec) — everything in
      // this struct is evaluated interpreted inside the Generate barrier,
      // so composite HOF/regex chains here are hot-path poison
      graft.expressions.Misspelled.misspelled(titleCol).as("title_mis"),
      graft.expressions.Misspelled.misspelled(
        col("_p.rec.properties.description")).as("desc_mis"),
      graft.expressions.TitleWords.titleWords(titleCol).as("title_kernel"),
      graft.expressions.LinkPoolExpr.linkPool(
        col("_p.rec.links"),
        col("_p.rec.properties.themes"),
        col("_p.rec.properties.contacts")).as("http_links"),
      graft.expressions.Previews.previews(col("_p.rec.links"))
        .as("previews"))

    val withParsed = records
      .select(col("*"), explode(array(parsedStruct)).as("_p"))
      .select(col("*"), explode(array(kernels)).as("_k"))

    val rc = rc0.copy(
      titleMisspelledOpt = Some(col("_k.title_mis")),
      descMisspelledOpt = Some(col("_k.desc_mis")),
      pre = Map(
        "title_words" -> col("_k.title_kernel.words"),
        "title_stripped" -> col("_k.title_kernel.stripped"),
        "title_all_alnum" -> col("_k.title_kernel.all_alnum"),
        "title_cap_ok" -> col("_k.title_kernel.cap_ok"),
        "title_n_acronyms" -> col("_k.title_kernel.n_acronyms"),
        "title_has_bulletin" -> col("_k.title_kernel.has_bulletin"),
        "http_links" -> col("_k.http_links"),
        "previews" -> col("_k.previews")))
    (withParsed, rc)
  }

  /** Per-record evaluation: adds sha256, parse status, ETS results +
    * summary, KPI results + summary + grade. Pure narrow projection. */
  def validate(records: DataFrame,
               probe: LinkProbe = OfflineLinkProbe): DataFrame = {
    val (withParsed, rc) =
      withKernels(records.withColumn("sha256", sha2(col("content"), 256)))

    // `json.loads` failure => RuntimeError in the reference
    // (`/root/reference/pywcmp/util.py:203-219`); here: a parse_error row.
    // `from_json` PERMISSIVE yields an all-null struct (not null) on
    // malformed input, so validity comes from the facts kernel's strict
    // whole-document probe; referenced here as an attribute (guards 3
    // columns). A NULL `content` (e.g. a failed URL fetch row) propagates
    // NULL through the kernel — coalesce restores `parse_ok = false`.
    val parseOk = coalesce(col("_p.parse_ok"), lit(false))

    val ets = EtsRules.catalog(rc)
    val etsTests = array(ets.map(_.result): _*)
    // gate errors come straight off the facts kernel struct (a cheap
    // field access — safe to reference multiple times)
    val validation = graft.catalog.SchemaGate.result(
      graft.catalog.SchemaGate.errors(col("_p")))

    val kpis = KpiRules.catalog(rc, probe)
    val kpiTests = array(kpis.map(_.result): _*)

    // PLAN-SHAPE CRITICAL: every downstream expression references the
    // materialized `ets_tests` / `kpi_tests` ATTRIBUTES, never the rule
    // expression trees again. Re-inlining the trees multiplies the
    // (expensive, non-codegen) `from_json` across the projection —
    // measured 128 JsonToStructs copies and a ~300x slowdown.
    val stage1 = withParsed
      .withColumn("parse_ok", parseOk)
      .withColumn("ets_tests", when(parseOk, etsTests))
      .withColumn("validation", when(parseOk, validation))
      .withColumn("kpi_tests", when(parseOk, kpiTests))
      .drop("_p", "_k")

    def countCode(codeVal: String): Column =
      size(filter(col("ets_tests"), t => t.getField("code") === codeVal))

    stage1
      .withColumn("ets_summary", when(col("parse_ok"), struct(
        countCode("PASSED").as("PASSED"),
        countCode("FAILED").as("FAILED"),
        countCode("SKIPPED").as("SKIPPED"))))
      // summary over the materialized kpi_tests attribute, incl. the
      // comments-clobber quirk (kpi.py:573-576) — see KpiRules.summaryOf
      .withColumn("kpi_summary",
        when(col("parse_ok"), KpiRules.summaryOf(col("kpi_tests"))))
  }

  /** Violation rows `(repo, path, commit, lang, rule_id, severity,
    * diagnostic)` — the north-rule output shape. Severity is ERROR for all
    * three sources: ETS test failures (the reference CLI exit code is the
    * FAILED count, `/root/reference/pywcmp/ets.py:83-84`), schema-gate
    * failures, and parse failures.
    *
    * SINGLE-PASS: one per-row array of violation structs (parse error |
    * schema-gate failure followed by failed ETS tests) exploded once. The
    * previous three-branch union re-evaluated the validate() projection
    * per branch — three scans and a duplicated parse stage; this shape
    * scans and evaluates the catalog exactly once, which matters because
    * violations is half of the engine's forced end-to-end output. */
  def violations(validated: DataFrame): DataFrame = {
    val v = struct(lit("x").as("rule_id"), lit("x").as("diagnostic"))
    val empty = array_except(array(v), array(v)) // typed empty array
    val parseV = array(struct(
      lit("parse_error").as("rule_id"),
      lit("Encoding error: content is not valid JSON").as("diagnostic")))
    val schemaV = when(col("validation.code") === "FAILED", array(struct(
        col("validation.id").as("rule_id"),
        concat(col("validation.message"), lit(": "),
          concat_ws("; ", col("validation.errors"))).as("diagnostic"))))
      .otherwise(empty)
    val etsV = transform(
      filter(col("ets_tests"), t => t.getField("code") === "FAILED"),
      t => struct(t.getField("id").as("rule_id"),
        t.getField("message").as("diagnostic")))
    val perRow = when(!col("parse_ok"), parseV)
      .otherwise(concat(schemaV, etsV))
    validated
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        explode(perRow).as("_v"))
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        col("_v.rule_id").as("rule_id"), lit("ERROR").as("severity"),
        col("_v.diagnostic").as("diagnostic"))
  }

  /** Partition fingerprint: xor of each row's sha256 64-bit prefix (15
    * hex chars, positive in signed 64). Chosen over crc32-of-sha because
    * ANY engine can recompute it from the content column alone, so the
    * north-rule sha256 invariant stays externally verifiable end-to-end
    * (the DuckDB oracle does). Order-independent: the xor of per-window
    * fingerprints equals the fingerprint of their union. */
  private[graft] val shaFingerprint: Column =
    bit_xor(conv(substring(col("sha256"), 1, 15), 16, 10)
      .cast(LongType)).as("sha_fingerprint")

  /** PASS iff the group has no failed record and no parse error. */
  private[graft] val verdict: Column =
    when(col("failed_records") + col("parse_errors") === 0, "PASS")
      .otherwise("FAIL")

  /** Per-partition (lang) verdicts + the resumability fingerprint: row
    * count and [[shaFingerprint]], carried to the metrics ledger (north
    * rule: per-partition lineage + metrics). */
  def partitionVerdicts(validated: DataFrame): DataFrame = {
    validated.groupBy(col("lang")).agg(
      count(lit(1)).as("records"),
      sum(when(!col("parse_ok"), 1).otherwise(0)).as("parse_errors"),
      sum(when(col("parse_ok") && col("ets_summary.FAILED") === 0, 1)
        .otherwise(0)).as("passed_records"),
      sum(when(col("parse_ok") && col("ets_summary.FAILED") > 0, 1)
        .otherwise(0)).as("failed_records"),
      sum(coalesce(col("ets_summary.FAILED"), lit(0))).as("failed_tests"),
      bround(avg(col("kpi_summary.percentage")), 3).as("mean_kpi_percentage"),
      shaFingerprint)
    .withColumn("verdict", verdict)
  }
}
