package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{DatasetRules, Validator}
import graft.sources.RecordTable

/** Skew-resilience evidence for the hot-`lang` axis (SURVEY §2.4 A7
  * promised salting "if needed" — these tests prove it is NOT needed for
  * the dataset-level aggregates, because hash aggregation's map-side
  * partial reduction bounds what any reducer can receive):
  *
  * On a 90%-one-lang corpus, `partitionVerdicts` (groupBy lang) puts all
  * the per-row catalog work in the NARROW pre-shuffle stage (balanced by
  * input split, not by lang), and the exchange carries only PARTIAL
  * aggregation rows — at most |langs| per map task — so the hottest lang's
  * reducer merges <= numMapTasks partials, never the raw rows. The same
  * partial-agg bound covers `langDrift` (|langs| x buckets keys) and
  * `uniquenessViolations` (count partials per identity). Measured here
  * with a task-metrics listener: the shuffle-read record total on a
  * 20k-row 90/10 corpus stays bounded by keys x mapTasks (hundreds),
  * not rows (20k). Scale-out numbers: BASELINE.md (skew section),
  * produced by `graft.Probe skew ROWS`.
  */
class SkewSpec extends SparkSpec {

  /** 90% "en" / 10% "zh" — the north rule's natural hot-language skew */
  private def skewed(n: Long): DataFrame =
    RecordTable.synthesize(spark, n)
      .withColumn("lang",
        when(pmod(xxhash64(col("path")), lit(10)) < 9, "en")
          .otherwise("zh"))

  /** run `action` and return per-task shuffle-read record counts. The
    * listener bus is async: poll until the task stream goes quiet. */
  private def shuffleReadsPerTask(action: => Unit): Seq[Long] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) buf.add(m.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      action
      var last = -1L; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val s = buf.size.toLong
        if (s == last) stable += 1 else { stable = 0; last = s }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    buf.asScala.toSeq
  }

  test("partitionVerdicts on a 90/10 lang corpus: the exchange carries " +
       "only map-side partials — bounded by langs x mapTasks, not rows") {
    val n = 20000L
    val corpus = skewed(n)
    val mapParts = corpus.rdd.getNumPartitions
    var verdicts: Array[org.apache.spark.sql.Row] = Array.empty
    val reads = shuffleReadsPerTask {
      verdicts = Validator.partitionVerdicts(Validator.validate(corpus))
        .collect()
    }
    // correctness under skew: both langs verdict, counts add to n
    assert(verdicts.map(_.getString(0)).sorted.toSeq == Seq("en", "zh"))
    assert(verdicts.map(_.getLong(1)).sum == n)
    val hot = verdicts.find(_.getString(0) == "en").get.getLong(1)
    assert(hot > n * 8 / 10, s"expected ~90% en, got $hot")
    // the partial-aggregation bound: every shuffled record is a (lang)
    // partial, at most |langs| per map task; nothing remotely like the
    // 18k raw rows of the hot lang ever crosses the wire
    val bound = 2L * mapParts
    assert(reads.sum <= bound,
      s"shuffle carried ${reads.sum} records (> $bound): partial " +
        "aggregation regressed — the hot lang would swamp one reducer " +
        "at scale")
    assert(reads.max <= bound)
  }

  test("langDrift + uniquenessViolations under the same skew: shuffled " +
       "volume stays orders of magnitude below the corpus") {
    val n = 20000L
    val corpus = skewed(n)
    val reads1 = shuffleReadsPerTask {
      DatasetRules.langDrift(corpus).collect()
    }
    // |langs| x (buckets+2) keys x mapTasks partials, plus the KB-sized
    // local-relation PSI reduce — must stay far below corpus rows
    assert(reads1.sum < n / 10,
      s"langDrift shuffled ${reads1.sum} records on a ${n}-row corpus")
    val reads2 = shuffleReadsPerTask {
      DatasetRules.uniquenessViolations(corpus).count()
    }
    // identities are unique here -> every partial survives, but each is
    // one fixed-width count row; the bound is rows, carried ONCE
    assert(reads2.sum <= n + 2 * corpus.rdd.getNumPartitions,
      s"uniqueness shuffled ${reads2.sum} records")
  }

  test("AQE skew handling is active in the engine's production sessions") {
    // Bench.session is the configuration every engine driver uses; in
    // the shared-JVM test context it attaches a NEW SparkSession (with
    // its own session confs) to the existing SparkContext
    val prod = Bench.session("4")
    try {
      assert(prod.conf.get("spark.sql.adaptive.enabled") == "true")
      // skew-join splitting ships enabled with AQE (Spark 4 default) —
      // pin it so a future conf edit can't silently disable it
      assert(prod.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
      // and plans actually go through AQE in that session
      val df = prod.range(100).groupBy(pmod(col("id"), lit(3))).count()
      df.collect()
      assert(df.queryExecution.executedPlan.toString
        .contains("AdaptiveSparkPlan"))
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(spark)
      org.apache.spark.sql.SparkSession.setDefaultSession(spark)
    }
  }
}
