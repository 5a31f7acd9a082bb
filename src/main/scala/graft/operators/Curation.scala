package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Corpus-curation operators for training-data pipelines: deterministic
  * hash sampling (flat + stratified), per-source document caps (the
  * "domain cap" rule of web-scale corpus recipes), and a filter funnel
  * with per-rule drop attribution.
  *
  * All sampling decisions are pure functions of the row key — no RNG, no
  * `rand()` — so a sample is reproducible across runs, engines, cluster
  * sizes and retries (a task retry re-derives the identical decision; a
  * `rand()` sample would not survive recomputation under lineage). The
  * decision is expressed over `md5` hex text so a DuckDB/SQL oracle can
  * re-derive the exact row set with its own built-ins. */
object Curation {

  /** 8-hex-digit lowercase decision threshold for a rate in [0,1]:
    * a row is kept iff the first 8 md5 hex chars of its key compare
    * lexicographically below this. 8 hex digits = 32 bits of the hash,
    * so the realized rate is exact to ~2^-32. rate=1.0 returns "g",
    * which sorts above every hex string — keep-all. */
  private[graft] def thresholdHex(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1]: $rate")
    val t = math.round(rate * 4294967296.0) // 16^8
    if (t >= 4294967296L) "g" else f"$t%08x"
  }

  /** Deterministic stratified sample: per-stratum keep rates (e.g.
    * up-sample rare languages, down-sample English) with a default for
    * unlisted strata. Still one narrow filter — the per-stratum threshold
    * is a when-chain over the stratum column, not a join. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       keyCol: String, seed: String = ""): DataFrame = {
    val thr = rates.toSeq.sortBy(_._1).foldLeft(
      lit(thresholdHex(defaultRate))) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.where(
      substring(md5(concat(col(keyCol).cast(StringType), lit(":" + seed))),
        1, 8) < thr)
  }

  /** Per-source cap: keep at most `k` documents per source, chosen
    * deterministically as the first `k` in `orderCol` order (the "domain
    * cap" against boilerplate-heavy hosts dominating a web corpus).
    *
    * Shape at 100 TB: a single window over `source` would hash-partition
    * the FULL corpus by source — one hot domain (a crawl can be 10%
    * one host) lands on one task. Instead a salted pre-prune runs first:
    * rows are window-ranked within (source, salt) where salt =
    * xxhash64(orderCol) mod `salts`, spreading a hot source over `salts`
    * tasks and keeping at most k per salt bucket. The pre-prune is
    * CONSERVATIVE for any salt assignment (the global first-k of a source
    * is always contained in the union of per-bucket first-ks), so the
    * second, exact window over `source` sees at most k*salts rows per
    * source — driver-bounded, skew-immune. `orderCol` must be unique per
    * source for a deterministic result (doc ids are). */
  def perSourceCap(df: DataFrame, sourceCol: String = "source",
                   orderCol: String = "doc_id", k: Int = 1000,
                   salts: Int = 64): DataFrame = {
    require(k >= 1 && salts >= 1)
    val local = Window
      .partitionBy(col(sourceCol), pmod(xxhash64(col(orderCol)), lit(salts)))
      .orderBy(col(orderCol))
    val pruned = df
      .withColumn("_rn_local", row_number().over(local))
      .where(col("_rn_local") <= k)
      .drop("_rn_local")
    val global = Window.partitionBy(col(sourceCol)).orderBy(col(orderCol))
    pruned
      .withColumn("_rn", row_number().over(global))
      .where(col("_rn") <= k)
      .drop("_rn")
  }

  /** Token-budget sample: per-stratum (e.g. per language), keep documents
    * in deterministic md5-hash order until the stratum's token budget is
    * filled — "give me ~10B tokens of German" without bias (hash order is
    * uncorrelated with content). The document that CROSSES the budget is
    * kept (greedy fill): a row survives iff the token sum of all
    * hash-earlier rows in its stratum is still below budget.
    *
    * Shape at 100 TB: the naive form is a running-sum window per stratum —
    * with a handful of languages those partitions are giant and hot. This
    * implementation instead: (1) one aggregation of token sums per
    * (stratum, 12-bit hash-prefix bucket) — at most |strata| * 4096 rows,
    * bounded by construction, collected to the driver like the drift
    * histogram; (2) driver-side prefix sums pick each stratum's cut
    * bucket; (3) every row in a bucket BELOW the cut is kept by a narrow
    * filter (no shuffle), rows in the single cut bucket (~1/4096 of the
    * stratum) get the exact running-sum window, everything above is
    * dropped at the scan. Ties inside a bucket break on (hash, key) — a
    * total order, so the result is exactly the row set the naive window
    * would keep, at a fraction of the shuffle. */
  def tokenBudgetSample(df: DataFrame, strataCol: String, tokensCol: String,
                        budgets: Map[String, Long], defaultBudget: Long,
                        keyCol: String, seed: String = ""): DataFrame = {
    val h = substring(
      md5(concat(col(keyCol).cast(StringType), lit(":" + seed))), 1, 8)
    val bucket = substring(h, 1, 3) // 4096 buckets
    val withH = df.withColumn("_h", h).withColumn("_b", bucket)

    // (1) bounded histogram: |strata| x <=4096 rows
    val hist = withH.groupBy(col(strataCol).as("_s"), col("_b"))
      .agg(sum(col(tokensCol).cast("long")).as("_t"))
      .collect()

    // (2) per-stratum cut: full buckets strictly below `cut`, remaining
    // budget inside it. A stratum absent from `budgets` uses the default.
    case class Cut(cut: String, remaining: Long)
    val cuts: Map[String, Cut] = hist.groupBy(_.getString(0)).map {
      case (stratum, rows) =>
        val budget = budgets.getOrElse(stratum, defaultBudget)
        val sorted = rows.map(r => (r.getString(1), r.getLong(2)))
          .sortBy(_._1)
        var acc = 0L
        var cut = "g" // above every hex bucket: whole stratum fits
        var remaining = 0L
        val it = sorted.iterator
        var searching = true
        while (it.hasNext && searching) {
          val (b, t) = it.next()
          if (acc + t >= budget) { cut = b; remaining = budget - acc
            searching = false
          } else acc += t
        }
        stratum -> Cut(cut, remaining)
    }

    // <=> so a null stratum (grouped like any other by the histogram)
    // routes to ITS cut instead of falling through to the drop-all default
    val cutCol = cuts.toSeq.sortBy(c => Option(c._1)).foldLeft(lit("0")) {
      case (acc, (s, c)) => when(col(strataCol) <=> s, lit(c.cut))
        .otherwise(acc)
    }
    val remCol = cuts.toSeq.sortBy(c => Option(c._1)).foldLeft(lit(0L)) {
      case (acc, (s, c)) => when(col(strataCol) <=> s, lit(c.remaining))
        .otherwise(acc)
    }

    // (3) below-cut buckets: narrow filter. Cut bucket: exact window over
    // ~1/4096 of each stratum.
    val below = withH.where(col("_b") < cutCol)
    val boundary = withH.where(col("_b") === cutCol)
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundaryKept = boundary
      .withColumn("_cum", coalesce(sum(col(tokensCol).cast("long")).over(w),
        lit(0L)))
      .where(col("_cum") < remCol)
      .drop("_cum")
    below.unionByName(boundaryKept).drop("_h", "_b")
  }

  /** Filter-funnel accounting: for each rule, how many rows that survived
    * all EARLIER rules this rule drops (the standard corpus-cleaning
    * funnel report — each document is attributed to the FIRST rule that
    * rejects it, so the drops sum to n_in - n_out).
    *
    * One aggregation pass over the corpus (a naive per-rule count would
    * scan |rules| times): cumulative-survival columns are built as nested
    * AND chains inside a single agg projection, map-side partial, one
    * 1-row exchange. Returns one row per rule:
    * `(rule_seq, rule, n_evaluated, n_dropped, n_remaining)`. */
  def filterFunnel(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty)
    // a NULL condition (e.g. a predicate over a null column) rejects the
    // row AT that rule, exactly like SQL WHERE — normalize once so the
    // survival chain and the drop attribution can't disagree on nulls
    val passed = rules.map { case (_, cond) => coalesce(cond, lit(false)) }
    // survivedBefore(i) = passed rules 0..i-1
    val survivedBefore = passed.scanLeft(lit(true))(_ && _)
    val dropAggs = passed.zipWithIndex.map { case (p, i) =>
      sum(when(survivedBefore(i) && !p, 1L).otherwise(0L)).as(s"_drop_$i")
    }
    val wide = df.agg(count(lit(1)).as("_n_in"), dropAggs: _*)
    // long form: remaining_i = n_in - (drop_0 + .. + drop_i)
    val rows = rules.zipWithIndex.map { case ((name, _), i) =>
      val before = col("_n_in") -
        (0 until i).map(j => col(s"_drop_$j")).foldLeft(lit(0L))(_ + _)
      struct(
        lit(i + 1).as("rule_seq"), lit(name).as("rule"),
        before.as("n_evaluated"), col(s"_drop_$i").as("n_dropped"),
        (before - col(s"_drop_$i")).as("n_remaining"))
    }
    wide
      .select(explode(array(rows: _*)).as("f"))
      .select("f.*")
  }
}
