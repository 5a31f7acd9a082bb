package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.engine.Validator
import graft.sources.RecordTable
import graft.streaming.StreamingValidator

/** Streaming face: the batch catalog under readStream, windowed verdicts
  * behind a watermark, stateful failure streaks. Driven synchronously via
  * the memory sink + processAllAvailable. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  def writeInput(dir: String, n: Long, tsBase: String): Unit =
    RecordTable.synthesize(spark, n)
      .withColumn("event_time",
        timestamp_seconds(unix_timestamp(to_timestamp(lit(tsBase))) +
          pmod(xxhash64(col("path")), lit(60))))
      .write.mode("append").parquet(dir)

  test("streaming validation: same verdicts as batch, incrementally") {
    val dir = Files.createTempDirectory("stream-in").toString
    writeInput(dir, 200, "2026-08-16 10:00:00")

    val validated = StreamingValidator.readRecordStream(spark, dir,
      maxFilesPerTrigger = 2)
    val q = StreamingValidator.violationStream(validated)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("violations_stream").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("violations_stream").count()
      val batch = RecordTable.expectedFailing(200)
      assert(streamed == batch)
      // late-arriving second batch is still processed
      writeInput(dir, 100, "2026-08-16 10:02:00")
      q.processAllAvailable()
      assert(spark.table("violations_stream").count() ==
        batch + RecordTable.expectedFailing(100))
    } finally q.stop()
  }

  test("windowed verdicts: per-window per-lang counts under watermark") {
    val dir = Files.createTempDirectory("stream-in2").toString
    writeInput(dir, 200, "2026-08-16 10:00:00")
    val q = StreamingValidator.windowedVerdicts(
        StreamingValidator.readRecordStream(spark, dir), "1 minute")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("verdicts_stream").start()
    try {
      q.processAllAvailable()
      // append-mode windowed aggs only emit when the watermark passes the
      // window end; push it forward with a late batch
      writeInput(dir, 20, "2026-08-16 10:30:00")
      q.processAllAvailable()
      val rows = spark.table("verdicts_stream")
        .select("lang", "records", "failed_records", "verdict").collect()
      assert(rows.nonEmpty)
      val total = rows.map(_.getLong(1)).sum
      assert(total == 200)
      assert(rows.forall(r => r.getString(3) == "FAIL" ||
        r.getLong(2) == 0))
      // the fingerprint is order-independent: per lang, the xor over the
      // emitted windows equals the batch fingerprint of the same 200 rows
      val streamedFp = spark.table("verdicts_stream").groupBy("lang")
        .agg(bit_xor(col("sha_fingerprint"))).as[(String, Long)]
        .collect().toMap
      val batchFp = Validator.partitionVerdicts(
          Validator.validate(RecordTable.synthesize(spark, 200)))
        .select("lang", "sha_fingerprint").as[(String, Long)]
        .collect().toMap
      assert(streamedFp == batchFp)
    } finally q.stop()
  }

  test("stateful failure streaks fire exactly at the threshold") {
    val dir = Files.createTempDirectory("stream-in3").toString
    // repo r14: bucket 14 (i%20==14 -> i%1000==14 since n small) fails
    // every time; with n=200, repo rX gets i and i+... single rows. Use a
    // crafted input instead: one repo failing 4x, one alternating.
    val bad = RecordTable.fixtures(spark)
      .where(col("path").endsWith("wcmp2-failing.json"))
      .select("content").as[String].head()
    val good = RecordTable.fixtures(spark)
      .where(col("path").endsWith("wcmp2-passing.json"))
      .select("content").as[String].head()
    val rows = Seq(
      ("always-bad", bad), ("always-bad", bad), ("always-bad", bad),
      ("always-bad", bad),
      ("flaky", bad), ("flaky", good), ("flaky", bad), ("flaky", bad))
      .zipWithIndex.map { case ((repo, c), i) =>
        (repo, s"p$i.json", s"c$i", "en", c,
          java.sql.Timestamp.valueOf("2026-08-16 10:00:00"))
      }
    rows.toDF("repo", "path", "commit", "lang", "content", "event_time")
      .write.mode("overwrite").parquet(dir)
    val q = StreamingValidator.failureStreaks(
        StreamingValidator.readRecordStream(spark, dir), alertAt = 3)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("streaks").start()
    try {
      q.processAllAvailable()
      val alerts = spark.table("streaks").collect()
        .map(r => (r.getString(0), r.getInt(1)))
      // always-bad reaches streak 3 exactly once (4th failure is streak 4,
      // not re-alerted); flaky resets on the pass and never reaches 3
      assert(alerts.toSeq == Seq(("always-bad", 3)))
    } finally q.stop()
  }

  test("streaming exact dedup: first occurrence per content hash, " +
       "duplicates dropped across micro-batches within the watermark") {
    import graft.streaming.StreamingDedup
    val dir = Files.createTempDirectory("stream-dedup").toString
    def write(rows: Seq[(String, String)], ts: String): Unit =
      rows.zipWithIndex.map { case ((path, c), i) =>
        ("r", path, s"c$i", "en", c, java.sql.Timestamp.valueOf(ts))
      }.toDF("repo", "path", "commit", "lang", "content", "event_time")
        .write.mode("append").parquet(dir)

    write(Seq(("a.json", """{"id":"A"}"""), ("b.json", """{"id":"B"}"""),
      ("a2.json", """{"id":"A"}""")), "2026-08-16 10:00:00")
    val stream = spark.readStream
      .schema(StreamingValidator.inputSchema).parquet(dir)
    val q = StreamingDedup.exactDedupStream(stream, "10 minutes")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_stream").count() == 2) // A, B
      // second batch: another copy of A (in-watermark -> dropped) + new C
      write(Seq(("a3.json", """{"id":"A"}"""), ("c.json", """{"id":"C"}""")),
        "2026-08-16 10:01:00")
      q.processAllAvailable()
      val contents = spark.table("dedup_stream")
        .select("content").as[String].collect().sorted
      assert(contents.length == 3)
      assert(contents.count(_.contains("\"A\"")) == 1)
    } finally q.stop()
  }

  test("streaming -> batch glue: candidatePairs verified through " +
       "ngramJaccard under foreachBatch match the batch LSH pipeline") {
    import graft.streaming.StreamingDedup
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    val dir = Files.createTempDirectory("stream-glue").toString
    val textA = "the quick brown fox jumps over the lazy dog near the " +
      "quiet river bank at dawn"
    val textA2 = textA + " today" // near-dup, high but non-1.0 jaccard
    val rows1 = Seq(("d1", textA),
      ("d2", "completely different content about distributed query " +
        "engines shuffling partitioned columnar data"))
    val rows2 = Seq(("d3", textA2),
      ("d4", "unrelated fresh text about alpine meadows blooming under " +
        "late spring snow melt"))
    rows1.toDF("doc_id", "text").write.mode("append").parquet(dir)
    val staticDocs = (rows1 ++ rows2).toDF("doc_id", "text")
    val verified =
      scala.collection.mutable.ArrayBuffer[(String, String, Double)]()
    val stream = spark.readStream
      .schema("doc_id string, text string").parquet(dir)
    val q = StreamingDedup
      .nearDupCandidates(stream, k = 32, bands = 8, stateTtl = "")
      .writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the intended composition (StreamingDedup scaladoc): window the
        // per-band candidates, verify with the BATCH kernel
        val pairs = StreamingDedup.candidatePairs(batch)
        val v = Dedup.ngramJaccard(staticDocs, pairs)
          .where(col("jaccard") >= 0.5).collect()
        verified.synchronized {
          verified ++= v.map(r =>
            (r.getString(r.fieldIndex("id_a")),
             r.getString(r.fieldIndex("id_b")),
             r.getDouble(r.fieldIndex("jaccard"))))
        }
        () // foreachBatch wants Unit, not the buffer
      }.start()
    try {
      q.processAllAvailable()
      rows2.toDF("doc_id", "text").write.mode("append").parquet(dir)
      q.processAllAvailable()
    } finally q.stop()
    // parity: the batch LSH path (same k/bands/threshold, same corpus)
    // must verify exactly the same pairs at the same jaccard
    val batchPairs = Dedup
      .minhashLsh(staticDocs, k = 32, bands = 8, threshold = 0.5)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    Dedup.releaseCaches()
    assert(verified.nonEmpty)
    assert(verified.toSet == batchPairs)
    assert(verified.exists { case (a, b, j) =>
      a == "d1" && b == "d3" && j > 0.5 && j < 1.0 })
  }

  test("streaming near-dup candidates: stateful LSH buckets pair later " +
       "docs with the bucket owner across micro-batches") {
    import graft.streaming.StreamingDedup
    val dir = Files.createTempDirectory("stream-neardup").toString
    val textA = "the quick brown fox jumps over the lazy dog near the " +
      "quiet river bank at dawn"
    val textB = "completely different content about distributed query " +
      "engines shuffling partitioned columnar data"
    def write(rows: Seq[(String, String)]): Unit =
      rows.toDF("doc_id", "text").write.mode("append").parquet(dir)

    write(Seq(("d1", textA), ("d2", textB)))
    val stream = spark.readStream
      .schema("doc_id string, text string").parquet(dir)
    // stateTtl="" -> NoTimeout: a registered processing-time timeout
    // would run continuous empty batches and starve processAllAvailable
    val q = StreamingDedup
      .nearDupCandidates(stream, k = 32, bands = 8, stateTtl = "")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("neardup_stream").start()
    try {
      q.processAllAvailable()
      assert(spark.table("neardup_stream").count() == 0) // owners only
      // d3 = exact text of d1 -> collides in every band with d1's buckets;
      // d4 unrelated
      write(Seq(("d3", textA), ("d4", "unrelated fresh text about alpine " +
        "meadows blooming under late spring snow melt")))
      q.processAllAvailable()
      val pairs = StreamingDedup.candidatePairs(
        spark.table("neardup_stream")).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(pairs == Set(("d1", "d3")))
      // the per-band emissions all point at the same owner
      val owners = spark.table("neardup_stream")
        .select("candidate_of").distinct().as[String].collect().toSeq
      assert(owners == Seq("d1"))
    } finally q.stop()
  }
}
