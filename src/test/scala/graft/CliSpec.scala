package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.shims

import graft.cli.Main
import graft.engine.{DatasetRules, Reports, Validator}
import graft.ledger.MetricsLedger
import graft.sources.RecordTable

/** `graft.cli.Main.run` end to end over the reference fixtures, written as a
  * `lang`-partitioned parquet table (4 langs): the first run, the resume on
  * its ledger, a failed write and an input without `content`. */
class CliSpec extends SparkSpec with TempDirs {

  private val RunDt = "2026-01-01T00:00:00Z"
  private val Outputs =
    Seq("violations", "reports", "column_stats", "lang_drift",
      "partition_verdicts")

  private def table(records: DataFrame, name: String): String = {
    val dir = tempDir("cli-in").resolve(name).toString
    records.write.partitionBy("lang").parquet(dir)
    dir
  }

  private lazy val input = table(RecordTable.fixtures(spark), "records")

  private def args(in: String, out: Path): Array[String] =
    Array("--input", in, "--output", out.toString, "--run-datetime", RunDt)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(Contract.render).toSeq.sorted

  /** `Main.run`'s exit code, its stdout, and the ids of the Spark jobs it
    * started. */
  private def run(args: Array[String]): (Int, String, Seq[Int]) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID.toString
    val jobs = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("graft.test.cli") == marker)) jobs.add(e.jobId)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.cli", marker)
    val out = new ByteArrayOutputStream()
    try {
      val code = Console.withOut(out)(Main.run(spark, args))
      shims.drainListeners(sc)
      (code, out.toString("UTF-8"), jobs.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.test.cli", null)
      sc.removeSparkListener(listener)
    }
  }

  private def files(dir: Path): Seq[(String, Long)] =
    scala.util.Using.resource(Files.walk(dir)) {
      _.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString ->
          Files.getLastModifiedTime(p).toMillis).toSeq.sorted
    }

  private def poolThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith("graft-cli-") && t.isAlive)

  test("a first run writes the rows of the direct engine calls, commits " +
       "every lang, and a resume does nothing in zero jobs") {
    val out = tempDir("cli-out")
    val (code, _, jobs) = run(args(input, out))
    assert(jobs.nonEmpty)

    val records = spark.read.parquet(input)
    val validated = Reports.withEtsGate(Validator.validate(records))
    val verdicts = Validator.partitionVerdicts(validated)
    val expected = Map(
      "violations" -> Validator.violations(validated)
        .unionAll(DatasetRules.uniquenessViolations(records))
        .unionAll(DatasetRules.referentialViolations(records)),
      "reports" -> Reports.reports(validated, RunDt),
      "column_stats" -> DatasetRules.columnStats(records),
      "lang_drift" -> DatasetRules.langDrift(records),
      "partition_verdicts" -> verdicts)
    for (o <- Outputs) {
      val written = spark.read.parquet(out.resolve(o).toString)
      assert(written.columns.toSeq == expected(o).columns.toSeq, o)
      assert(rows(written) == rows(expected(o)), o)
    }
    assert(rows(spark.read.parquet(out.resolve("violations").toString)
      .where(col("rule_id") === "referential:centre_id")).nonEmpty)
    assert(code == Reports.exitCode(verdicts.collect()))
    assert(new MetricsLedger(out.resolve("_ledger").toString)
      .committedLangs() == Set("en", "fr", "de", "es"))

    val before = files(out)
    val (resumed, stdout, resumeJobs) = run(args(input, out))
    assert(resumed == 0)
    assert(stdout.contains("nothing to do"))
    assert(resumeJobs.isEmpty, s"jobs on resume: $resumeJobs")
    assert(files(out) == before)
  }

  test("a failed output write fails the run: nothing is committed, no pool " +
       "thread is left and the cache is released") {
    val out = tempDir("cli-fail")
    Files.writeString(out.resolve("column_stats"), "not a directory")
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception](run(args(input, out)))
    assert(new MetricsLedger(out.resolve("_ledger").toString)
      .committedLangs().isEmpty)
    val deadline = System.nanoTime() + 10e9.toLong
    while (poolThreads.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(poolThreads.isEmpty, s"pool threads alive: $poolThreads")
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore)
  }

  test("an input without content, or with a non-string one, fails before " +
       "any output directory exists") {
    val fixtures = RecordTable.fixtures(spark)
    for ((records, name) <- Seq(
        fixtures.drop("content") -> "no-content",
        fixtures.withColumn("content", col("content").cast("binary")) ->
          "binary-content")) {
      val out = tempDir("cli-bad")
      val e = intercept[IllegalArgumentException](
        run(args(table(records, name), out)))
      assert(e.getMessage.contains("content"), e.getMessage)
      assert(Outputs.forall(o => !Files.exists(out.resolve(o))), name)
    }
  }

  test("an unknown option, an option without its value or a stray value " +
       "fails before anything runs, naming the argument") {
    val out = tempDir("cli-args")
    val record = out.resolve("record.json")
    Files.writeString(record,
      RecordTable.fixtureContent("wcmp2-passing.json"))
    for ((bad, named) <- Seq(
        args(input, out).patch(2, Seq("--bogus"), 0) -> "'--bogus'",
        (args(input, out) :+ "stray") -> "'stray'",
        Array("--input", "--output", out.toString) -> "'--input'",
        Array("--one", record.toString, "--kpi") -> "'--kpi'")) {
      val e = intercept[IllegalArgumentException](run(bad))
      assert(e.getMessage.contains(named), e.getMessage)
      assert(e.getMessage.contains("--no-fail-on-ets"), e.getMessage)
      assert(Outputs.forall(o => !Files.exists(out.resolve(o))), named)
    }
    assert(Main.options(args(input, out) :+ "--no-fail-on-ets") ==
      Map("input" -> input, "output" -> out.toString, "run-datetime" -> RunDt,
        "no-fail-on-ets" -> ""))
  }

  test("the service's options go through the same check") {
    for ((bad, named) <- Seq(Array("--port") -> "'--port'",
        Array("--prt", "5001") -> "'--prt'", Array("5001") -> "'5001'")) {
      val e = intercept[IllegalArgumentException](
        graft.service.Wcmp2Service.options(bad))
      assert(e.getMessage.contains(named), e.getMessage)
      assert(e.getMessage.contains("accepted options: --port"), e.getMessage)
    }
    assert(graft.service.Wcmp2Service.options(Array("--port", "0")) ==
      Map("port" -> "0"))
  }
}
