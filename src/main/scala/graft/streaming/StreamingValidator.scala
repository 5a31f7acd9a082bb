package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row
import graft.engine.Validator

/** Structured-Streaming face of the engine.
  *
  * The reference has no streaming at all (SURVEY.md §2.6) — records arrive
  * one CLI invocation at a time. At WIS2 scale, discovery metadata arrives
  * continuously (pub/sub notifications), so the engine exposes the same
  * row-local constraint catalog as a streaming transform: because
  * [[Validator.validate]] is a pure narrow projection, the IDENTICAL plan
  * runs under `readStream` with zero code change — this object adds the
  * streaming-specific pieces: event-time windowed verdicts behind a
  * watermark, and an alerting sink shape.
  *
  * Scale design: the row-local catalog keeps streaming micro-batches
  * shuffle-free; the only stateful operator is the windowed verdict
  * aggregation, whose state is bounded by watermark x |lang| x windows.
  */
object StreamingValidator {

  val inputSchema: StructType = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType),
    StructField("event_time", TimestampType)))

  /** File-source stream of record files -> validated stream. */
  def readRecordStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Int = 16): DataFrame =
    validateStream(spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir))

  /** The batch rule catalog applied to a streaming DataFrame as-is. */
  def validateStream(records: DataFrame): DataFrame =
    Validator.validate(records)

  /** Continuous violation stream (append mode; stateless). */
  def violationStream(validated: DataFrame): DataFrame =
    validated
      .where(!col("parse_ok") || col("ets_summary.FAILED") > 0)
      .select(col("event_time"), col("repo"), col("path"), col("commit"),
        col("lang"),
        when(!col("parse_ok"), "parse_error").otherwise("ets")
          .as("failure_kind"),
        coalesce(col("ets_summary.FAILED"), lit(0)).as("failed_tests"))

  /** Event-time windowed per-lang verdicts with a watermark bound on
    * state (late records beyond the watermark are dropped, exactly-once
    * counted inside it). */
  def windowedVerdicts(validated: DataFrame, window_ : String = "1 minute",
                       watermark: String = "5 minutes"): DataFrame =
    validated
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_), col("lang"))
      .agg(
        count(lit(1)).as("records"),
        sum(when(!col("parse_ok"), 1).otherwise(0)).as("parse_errors"),
        sum(when(col("parse_ok") && col("ets_summary.FAILED") > 0, 1)
          .otherwise(0)).as("failed_records"),
        Validator.shaFingerprint)
      .withColumn("verdict", Validator.verdict)

  /** Stateful per-repo quality tracking with explicit state:
    * consecutive-failure streaks per repo (the alerting primitive a
    * validation pipeline needs — fire when a repo fails N times in a
    * row). Uses `flatMapGroupsWithState` over the typed stream. */
  case class RepoEvent(repo: String, failed: Boolean)
  case class StreakState(streak: Int)
  case class StreakAlert(repo: String, streak: Int)

  def failureStreaks(validated: DataFrame, alertAt: Int = 3): DataFrame = {
    import validated.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val events = validated.select(col("repo"),
      (!col("parse_ok") || col("ets_summary.FAILED") > 0).as("failed"))
      .as[RepoEvent]
    events.groupByKey(_.repo)
      .flatMapGroupsWithState[StreakState, StreakAlert](OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (repo: String, rows: Iterator[RepoEvent],
         state: org.apache.spark.sql.streaming.GroupState[StreakState]) =>
          var s = state.getOption.getOrElse(StreakState(0)).streak
          val alerts = rows.flatMap { e =>
            s = if (e.failed) s + 1 else 0
            if (s == alertAt) Some(StreakAlert(repo, s)) else None
          }.toList
          state.update(StreakState(s))
          alerts.iterator
      }.toDF()
  }

  /** Alert sink: violations to parquet with checkpointing (at-least-once
    * with idempotent file sink = effectively exactly-once). */
  def startViolationSink(violations: DataFrame, outDir: String,
                         checkpointDir: String): DataStreamWriter[Row] =
    violations.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime("10 seconds"))
}
