package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dims.Dims

/** Dataset-level constraints (SURVEY.md §2.4 A6-A9) — the checks that only
  * exist at table scale, mandated by the north rule: per-column stats,
  * key uniqueness, referential integrity, distribution drift. These are the
  * only shuffling stages of the engine; each is written for the 100 TB
  * shape:
  *
  *  - stats: ONE pass, sketch-based (HLL++ approx-distinct,
  *    `percentile_approx` quantiles from Spark's Greenwald–Khanna
  *    `QuantileSummaries`) — no per-column jobs.
  *  - uniqueness: two-phase salted aggregation so a hot (repo,path) prefix
  *    cannot pin a reducer; AQE finishes the job.
  *  - referential: broadcast LEFT ANTI against the dims (dims are KB-sized;
  *    if one ever outgrows the broadcast threshold Spark falls back to SMJ
  *    — the plan shape is identical).
  *  - drift: per-(lang,bucket) counts then a tiny per-lang PSI/KL reduce;
  *    never materializes per-row state on the driver.
  */
object DatasetRules {

  /** A6: single-pass per-column stats over the records table.
    * One wide `agg` = one shuffle-free partial-aggregate pass + a 1-row
    * final reduce. Returns one row per tracked column (long form).
    * Quantiles are emitted as SCALAR q50/q95/q99 columns (flat, orderable,
    * oracle-comparable) rather than an array column. */
  def columnStats(records: DataFrame): DataFrame = {
    val len = length(col("content")).cast(DoubleType)
    val wide = records.agg(
      count(lit(1)).as("n_rows"),
      // string key columns: null counts + approx distinct (HLL++)
      sum(when(col("repo").isNull, 1).otherwise(0)).as("repo_nulls"),
      approx_count_distinct(col("repo")).as("repo_distinct"),
      sum(when(col("path").isNull, 1).otherwise(0)).as("path_nulls"),
      approx_count_distinct(col("path")).as("path_distinct"),
      sum(when(col("commit").isNull, 1).otherwise(0)).as("commit_nulls"),
      approx_count_distinct(col("commit")).as("commit_distinct"),
      sum(when(col("lang").isNull, 1).otherwise(0)).as("lang_nulls"),
      approx_count_distinct(col("lang")).as("lang_distinct"),
      // content length: full numeric profile incl. quantile sketch
      sum(when(col("content").isNull, 1).otherwise(0)).as("content_nulls"),
      min(len).as("content_len_min"),
      max(len).as("content_len_max"),
      avg(len).as("content_len_avg"),
      percentile_approx(len, array(lit(0.5), lit(0.95), lit(0.99)),
        lit(10000)).as("content_len_q"))
    val cols = Seq("repo", "path", "commit", "lang", "content")
    val rows = cols.map { c =>
      struct(lit(c).as("column"), col("n_rows"),
        col(s"${c}_nulls").cast(LongType).as("null_count"),
        (if (c == "content") lit(null).cast(LongType)
         else col(s"${c}_distinct")).as("approx_distinct"),
        (if (c == "content") col("content_len_min").cast(LongType)
         else lit(null).cast(LongType)).as("len_min"),
        (if (c == "content") col("content_len_max").cast(LongType)
         else lit(null).cast(LongType)).as("len_max"),
        (if (c == "content") col("content_len_avg")
         else lit(null).cast(DoubleType)).as("len_avg"),
        (if (c == "content") element_at(col("content_len_q"), 1)
         else lit(null).cast(DoubleType)).as("len_q50"),
        (if (c == "content") element_at(col("content_len_q"), 2)
         else lit(null).cast(DoubleType)).as("len_q95"),
        (if (c == "content") element_at(col("content_len_q"), 3)
         else lit(null).cast(DoubleType)).as("len_q99"))
    }
    wide.select(explode(array(rows: _*)).as("s")).select("s.*")
  }

  /** A6 (sketch path): a per-`lang` profile built on Spark's
    * datasketches built-ins, whose binary sketches stay MERGEABLE across
    * runs (`hll_union_agg`, `kll_merge_agg_double`): the incremental-
    * profiling path for a daily append, where yesterday's sketch unions
    * with today's partials and nothing is rescanned. Distinct counts are
    * HLL estimates (lgK 12, ~1.6% rsd). The content-length quantiles come
    * from one KLL sketch per group (k = 200, the default), read three
    * times: each returned value's true rank lies within
    * `KllSketch.getNormalizedRankError(200, false)` (~1.3%) of the
    * requested rank, with high probability (SketchSpec checks it). */
  def columnStatsSketch(records: DataFrame): DataFrame =
    records.groupBy(col("lang")).agg(
      count(lit(1)).as("n_rows"),
      hll_sketch_estimate(hll_sketch_agg(col("repo"), 12)).as("repo_distinct"),
      hll_sketch_estimate(hll_sketch_agg(col("path"), 12)).as("path_distinct"),
      kll_sketch_agg_double(length(col("content")).cast(DoubleType)).as("_kll"))
      .select(col("lang"), col("n_rows"), col("repo_distinct"),
        col("path_distinct"),
        kll_sketch_get_quantile_double(col("_kll"), lit(0.5))
          .as("content_len_q50"),
        kll_sketch_get_quantile_double(col("_kll"), lit(0.95))
          .as("content_len_q95"),
        kll_sketch_get_quantile_double(col("_kll"), lit(0.99))
          .as("content_len_q99"))

  /** A7: uniqueness of (repo, path, commit) — duplicate identities are
    * themselves violations (FIXTURES.md §1).
    *
    * Single count-only groupBy: hash aggregation partial-aggregates
    * map-side, so a hot key contributes at most one partial row per map
    * partition to the exchange — the reducer for the hottest key merges
    * <= numPartitions partials, never the raw rows. Salting would be
    * needed only for aggregates without map-side reduction
    * (e.g. collect_list); for counts it adds a shuffle for nothing. */
  def uniquenessViolations(records: DataFrame): DataFrame = {
    val keys = Seq(col("repo"), col("path"), col("commit"))
    records
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1)
      .select(col("repo"), col("path"), col("commit"),
        lit(null).cast(StringType).as("lang"),
        lit("uniqueness:(repo,path,commit)").as("rule_id"),
        lit("ERROR").as("severity"),
        concat(lit("duplicate identity x"), col("cnt")).as("diagnostic"))
  }

  /** A9: referential-integrity violations via broadcast LEFT ANTI joins
    * against the vendored dims: the centre-id embedded in the record id
    * must exist in the centre dim (the dataset-scale version of ETS J1).
    * Emits violation rows in the engine's standard shape. */
  def referentialViolations(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    val centres = broadcast(Dims.dimDf(spark, "centre", Dims.centreIds))
    val withCentre = records.withColumn("centre_id",
      get(split(get_json_object(col("content"), "$.id"), ":"), lit(3)))
    withCentre
      .where(col("centre_id").isNotNull &&
        !col("centre_id").endsWith("-test"))
      .join(centres, col("centre_id") === col("centre"), "left_anti")
      .select(col("repo"), col("path"), col("commit"), col("lang"),
        lit("referential:centre_id").as("rule_id"),
        lit("ERROR").as("severity"),
        concat(lit("unknown centre_id "), col("centre_id")).as("diagnostic"))
  }

  /** A8: distribution drift of content length across `lang` partitions.
    *
    * Histogram via `width_bucket` + groupBy(lang, bucket) — one shuffle of
    * |langs| x |buckets| rows regardless of table size — then PSI (and KL)
    * of each lang's distribution against the global one, computed with a
    * self-join over the tiny histogram table. PSI >= 0.2 is the
    * conventional "significant drift" flag. */
  def langDrift(records: DataFrame, buckets: Int = 20,
                maxLen: Int = 20000): DataFrame = {
    val eps = 1e-9
    val histPlan = records
      .select(col("lang"),
        width_bucket(length(col("content")), lit(0), lit(maxLen),
          lit(buckets)).as("bucket"))
      .groupBy("lang", "bucket").agg(count(lit(1)).as("cnt"))
    // ONE corpus scan: the histogram feeds BOTH the global and the
    // per-lang branches below, and a lazy frame referenced twice would
    // re-execute the width_bucket aggregation — and the records scan
    // under it — once per branch (exchange reuse is not guaranteed across
    // the differing parent plans). The aggregate is |langs| x (buckets+2)
    // rows BY CONSTRUCTION (lang is the partition column — bounded
    // cardinality), so materializing it once to the driver as a local
    // relation is the cheapest barrier: no cached blocks left behind, no
    // second scan, and the PSI/KL reduce below runs over KB-sized input.
    val spark = records.sparkSession
    val hist = spark.createDataFrame(
      java.util.Arrays.asList(histPlan.collect(): _*), histPlan.schema)
    val global = hist.groupBy("bucket")
      .agg(sum("cnt").as("gcnt"))
      .withColumn("gtotal", sum("gcnt").over())
      .withColumn("p_global", col("gcnt") / col("gtotal"))
      .select("bucket", "p_global")
    val perLang = hist
      .withColumn("ltotal",
        sum("cnt").over(org.apache.spark.sql.expressions.Window
          .partitionBy("lang")))
      .withColumn("p_lang", col("cnt") / col("ltotal"))
    perLang.join(broadcast(global), Seq("bucket"))
      .groupBy("lang")
      .agg(
        sum((col("p_lang") - col("p_global")) *
          log((col("p_lang") + eps) / (col("p_global") + eps))).as("psi"),
        sum(col("p_lang") *
          log((col("p_lang") + eps) / (col("p_global") + eps))).as("kl"))
      .withColumn("drifted", col("psi") >= 0.2)
  }

  /** The distinct probe-able URL pool of a records table — the SAME
    * pooled link set kpi_links_health scores (record links ++ theme
    * concept urls ++ theme schemes ++ contact links, http(s) only,
    * `kpi.py:356-374`), extracted table-wide: parse once behind a
    * Generate barrier, explode the pool, distinct. Feed the result to
    * [[graft.sources.UrlSource.probeTable]] and the probed dim back into
    * [[linkHealthJoin]] (table-scale) or
    * [[graft.catalog.MapLinkProbe.fromTable]] (in-plan seam) — the
    * production replacement for the reference's live per-record probing
    * (`pywcmp/util.py:149-200`). */
  def recordLinkUrls(records: DataFrame): org.apache.spark.sql.Dataset[String] = {
    import records.sparkSession.implicits._
    val rc = graft.catalog.RecordCols(col("content"), col("rec"),
      lit(null), lit(null), lit(null))
    records
      .select(explode(array(from_json(col("content"),
        graft.model.Wcmp2Schema.root))).as("rec"))
      .select(explode(graft.catalog.KpiRules.httpLinkPool(rc)).as("p"))
      .select(col("p.href")).where(col("href").isNotNull)
      .distinct().as[String]
  }

  /** One-call production probe path: pool URLs -> partitioned HEAD probe
    * -> `(href, accessible, mime)` dimension. */
  def buildProbeTable(records: DataFrame,
      prober: graft.sources.UrlSource.UrlProber =
        graft.sources.UrlSource.JavaNetProber()): DataFrame =
    graft.sources.UrlSource.probeTable(recordLinkUrls(records), prober)

  /** K4/K5 at scale with a REAL probe table: explode all links once, join
    * the probe dimension on href (broadcast when small, SMJ otherwise),
    * aggregate health per record. This is the production path that
    * replaces [[graft.catalog.OfflineLinkProbe]]'s in-row stub. */
  def linkHealthJoin(records: DataFrame, probeTable: DataFrame): DataFrame = {
    val links = records
      .select(col("repo"), col("path"), col("commit"),
        explode_outer(from_json(get_json_object(col("content"), "$.links"),
          ArrayType(graft.model.Wcmp2Schema.link))).as("link"))
      .select(col("repo"), col("path"), col("commit"),
        col("link.href").as("href"), col("link.type").as("declared_type"))
      .where(col("href").startsWith("http"))
    links.join(broadcast(probeTable), Seq("href"), "left")
      .groupBy("repo", "path", "commit")
      .agg(
        count(lit(1)).as("n_http_links"),
        sum(when(coalesce(col("accessible"), lit(false)), 1).otherwise(0))
          .as("n_accessible"),
        sum(when(coalesce(col("declared_type"), col("mime"))
          .isInCollection(Dims.validMimes), 1).otherwise(0)).as("n_valid_mime"))
  }
}
