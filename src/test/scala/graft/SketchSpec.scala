package graft

import org.apache.datasketches.kll.KllSketch
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.RecordTable

/** The datasketches built-ins that
  * [[graft.engine.DatasetRules.columnStatsSketch]] is made of: HLL
  * distinct counts at lgK 12 and KLL quantiles at the default k = 200. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def hllDistinct(c: String) =
    hll_sketch_estimate(hll_sketch_agg(col(c), 12))

  test("HLL aggregator: accurate approx-distinct, merge-correct across " +
       "partitions") {
    val df = spark.range(0, 100000).repartition(8)
      .select(concat(lit("key-"), pmod(col("id"), lit(5000))).as("k"))
    val est = df.agg(hllDistinct("k")).as[Long].head()
    assert(math.abs(est - 5000) < 5000 * 0.05, s"estimate $est")
  }

  test("HLL aggregator: nulls ignored, grouped aggregation") {
    val df = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("b", null),
      ("b", "z")).toDF("g", "v").repartition(4)
    val got = df.groupBy("g").agg(hllDistinct("v").as("d"))
      .orderBy("g").as[(String, Long)].collect()
    assert(got.toSeq == Seq(("a", 2L), ("b", 1L)))
  }

  test("KLL quantiles of content length within the sketch's rank error") {
    val eps = KllSketch.getNormalizedRankError(200, false)
    val len = RecordTable.synthesize(spark, 20000)
      .select(length(col("content")).cast(DoubleType).as("len"))
      .repartition(8).cache()
    try {
      val n = len.count().toDouble
      val ranks = Seq(0.5, 0.99, 0.999)
      val sketch = len.agg(kll_sketch_agg_double(col("len")).as("k"))
      val est = sketch.select(ranks.map(r =>
        kll_sketch_get_quantile_double(col("k"), lit(r))): _*).head()
      ranks.indices.foreach { i =>
        val v = est.getDouble(i)
        // lengths tie, so v's exact rank is the interval
        // [share below v, share at or below v]
        val below = len.where(col("len") < v).count() / n
        val atOrBelow = len.where(col("len") <= v).count() / n
        assert(below - eps <= ranks(i) && ranks(i) <= atOrBelow + eps,
          s"rank ${ranks(i)}: estimate $v has exact rank " +
            s"[$below, $atOrBelow], error bound $eps")
      }
    } finally len.unpersist()
  }

  test("sketches beat exact distinct on plan shape: partial aggregation, " +
       "single small-payload shuffle") {
    val df = spark.range(0, 1000)
      .select(concat(lit("k"), pmod(col("id"), lit(7))).as("g"),
        col("id").cast("string").as("v"))
    val plan = df.groupBy("g").agg(hllDistinct("v"))
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    // ObjectHashAggregate with a partial stage before the one exchange
    assert(plan.contains("partial_hll_sketch_agg"), plan)
    assert(plan.linesIterator
      .count(_.trim.matches("""\(\d+\) Exchange( .*)?""")) == 1, plan)
  }

  test("q_records_colstats_sketch keeps its column names and types") {
    // the query synthesizes its records and reads no table directory
    val schema = SparkEntry.queries("q_records_colstats_sketch")(spark, "")
      .schema
    assert(schema.map(f => f.name -> f.dataType) == Seq(
      "lang" -> StringType, "n_rows" -> LongType,
      "repo_distinct" -> LongType, "path_distinct" -> LongType,
      "content_len_q50" -> DoubleType, "content_len_q95" -> DoubleType,
      "content_len_q99" -> DoubleType))
  }
}
