package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> catalyst Expression bridge.
  *
  * Spark 4 moved `Column` to a connect-agnostic API; the classic
  * converters live in `org.apache.spark.sql.classic` with private[sql]
  * visibility, so libraries that define native Catalyst expressions reach
  * them through an in-package shim (the same pattern third-party Spark
  * extension libraries use). */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`), so a listener's
    * totals read right after an action include all of that action's
    * tasks and stages. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** DataFrame over an already-computed `InternalRow` RDD (the backbone of
    * iterative-algorithm lineage truncation: the returned frame's logical
    * plan is a flat `LogicalRDD`, however deep the plan that produced the
    * rows was). Same `private[sql]` entry point `Dataset.checkpoint` /
    * `localCheckpoint` use internally. */
  def internalDf(spark: org.apache.spark.sql.SparkSession,
                 rdd: org.apache.spark.rdd.RDD[
                   org.apache.spark.sql.catalyst.InternalRow],
                 schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** [[internalDf]] that also carries the origin frame's output
    * partitioning/ordering into the truncated plan (the SAME
    * `LogicalRDD.fromDataset` entry point `Dataset.localCheckpoint`
    * uses). An iterative algorithm whose round output is hash-partitioned
    * by its join key then re-joins WITHOUT re-exchanging that side next
    * round; the plain [[internalDf]] drops the partitioning and forces a
    * fresh shuffle of every cached reference. Call AFTER `toRdd` has
    * built the (adaptive) physical plan so the recorded partitioning is
    * the executed one. */
  def truncatedDf(origin: org.apache.spark.sql.DataFrame,
                  rdd: org.apache.spark.rdd.RDD[
                    org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    val ds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    org.apache.spark.sql.classic.Dataset.ofRows(
      ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD
        .fromDataset(rdd, ds, isStreaming = false))
  }
}
