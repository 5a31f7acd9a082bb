package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat_ws}

import graft.engine.{Reports, Validator}

/** Expected service answers for a pool of records, from the reference
  * single-record entry point [[Reports.validateOne]]:
  *
  * {{{
  *   perfbench.Expect <pool.jsonl> <run datetime> <out.jsonl>
  * }}}
  *
  * Each pool line is `{"key": ..., "record": <document text>}`. Each output
  * line carries the ETS report, the ungated KPI report (what the KPI
  * process returns), the schema-gate result and its error list (what the
  * ETS process reports when `fail_on_schema_validation` stops it), or the
  * error `validateOne` raises for a record that is not JSON.
  */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(poolPath, runDt, out) = args
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("perfbench-expect")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    def elapsed = f"${(System.nanoTime() - t0) / 1e9}%.2f s"
    val mapper = new ObjectMapper()
    val pool = Files.readAllLines(Paths.get(poolPath), UTF_8).asScala
      .filter(_.nonEmpty).map(mapper.readTree)
      .map(n => n.get("key").asText -> n.get("record").asText).toSeq

    import spark.implicits._
    val gate = Validator.validate(pool.map { case (k, r) =>
        ("bench", k, "0" * 40, "und", r) }
      .toDF("repo", "path", "commit", "lang", "content"))
      .select(col("path"), col("validation.code"),
        concat_ws(", ", col("validation.errors")))
      .collect().map(r => r.getString(0) ->
        (r.getString(1) == "FAILED", Option(r.getString(2)).getOrElse("")))
      .toMap
    System.err.println(s"[perfbench.Expect] gate results after $elapsed")

    // one single-record job per pool entry, four at a time (Spark runs
    // concurrent jobs; planning a one-row job is single-threaded)
    val lines = pool.par.map { case (key, record) =>
      val o = mapper.createObjectNode().put("key", key)
      try {
        val (ets, kpi) = Reports.validateOne(spark, record, runDt,
          failOnEts = false)
        o.put("ets", ets).put("kpi", kpi.orNull)
          .put("gate_failed", gate(key)._1).put("gate_errors", gate(key)._2)
      } catch {
        case e: IllegalArgumentException => o.put("error", e.getMessage)
      }
      mapper.writeValueAsString(o)
    }
    System.err.println(s"[perfbench.Expect] ${pool.size} answers after $elapsed")
    Files.write(Paths.get(out), lines.seq.asJava, UTF_8)
    spark.stop()
  }
}
