package graft

import java.math.{MathContext, BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.engine.Validator
import graft.sources.RecordTable

/** The behaviour contract: what every output of the engine looks like, and
  * what the `SparkEntry` queries answer on a fixed input. Committed under
  * `src/test/resources/contract/`; a diff there is a contract change and is
  * reviewed as one. Regenerate with
  * `sbt "Test/runMain graft.ContractGen"`.
  *
  *  - `schemas/<output>.json`: names, types and nullability of
  *    `Validator.validate`, `violations`, `partitionVerdicts`, the
  *    `CompiledCatalog` result and every `SparkEntry.queries` entry.
  *  - `answers.json`: row count and order-independent digest of each
  *    query over [[SfDir]], in the test session (`local[4]`, 4 shuffle
  *    partitions). All 58 queries gave the same digests in three separate
  *    JVMs, so all are pinned; a query that stops being deterministic
  *    leaves this file, with its reason stated here.
  *  - `oracle_sql.json`: sha256 of each `SparkEntry.oracleSql` string,
  *    with this JVM's `OracleDump.dir` replaced by [[DumpDirPlaceholder]].
  */
object Contract {
  val SfDir = "/root/testdata/sf0.001"
  val DumpDirPlaceholder = "${OracleDump.dir}"

  /** Doubles and floats are rounded to this many significant digits before
    * hashing: the order in which partitions merge can change the last bits
    * of a sum. */
  val SignificantDigits = 10

  /** Source-tree location of the committed files. */
  val Dir: Path = Paths.get("src/test/resources/contract")

  private val mapper = new ObjectMapper()

  /** The four engine outputs outside `SparkEntry.queries`, over the
    * reference fixtures. */
  def engineOutputs(spark: SparkSession): Seq[(String, StructType)] = {
    val validated = Validator.validate(RecordTable.fixtures(spark))
    Seq(
      "Validator.validate" -> validated.schema,
      "Validator.violations" -> Validator.violations(validated).schema,
      "Validator.partitionVerdicts" ->
        Validator.partitionVerdicts(validated).schema,
      "CompiledCatalog.result" -> TestCatalog.compiled.schema)
  }

  def query(spark: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(spark, SfDir)

  def schemas(spark: SparkSession): Seq[(String, StructType)] =
    engineOutputs(spark) ++ SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> query(spark, n).schema)

  /** A value as canonical text: strings quoted, doubles rounded, maps
    * sorted, binaries in hex, nested rows and arrays in order. */
  def render(v: Any): String = v match {
    case null => "null"
    case s: String =>
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: Double => roundDouble(d)
    case f: Float => roundDouble(f.toDouble)
    case b: Array[Byte] =>
      b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  private def roundDouble(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(new MathContext(SignificantDigits))
      .stripTrailingZeros.toString

  /** `(rows, sha256 of the sorted rendered rows)`. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect().map(render).sorted
    (rows.length.toLong, sha256(rows.mkString("\n")))
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  def answers(spark: SparkSession): Seq[(String, (Long, String))] =
    SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> digest(query(spark, n)))

  def oracleShas: Seq[(String, String)] =
    SparkEntry.oracleSql.toSeq.sorted.map { case (n, sql) =>
      n -> sha256(sql.replace(SparkEntry.OracleDump.dir, DumpDirPlaceholder))
    }

  def schemaFile(dir: Path, output: String): Path =
    dir.resolve("schemas").resolve(s"$output.json")

  def readText(p: Path): String = Files.readString(p, UTF_8)

  def answersJson(a: Seq[(String, (Long, String))]): String = {
    val root = mapper.createObjectNode()
    a.foreach { case (n, (rows, d)) =>
      root.putObject(n).put("rows", rows).put("digest", d)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n"
  }

  def readAnswers(p: Path): Map[String, (Long, String)] = {
    val root = mapper.readTree(readText(p)).asInstanceOf[ObjectNode]
    root.properties().asScala.map { e =>
      e.getKey ->
        (e.getValue.get("rows").asLong, e.getValue.get("digest").asText)
    }.toMap
  }

  def stringsJson(a: Seq[(String, String)]): String = {
    val root = mapper.createObjectNode()
    a.foreach { case (n, s) => root.put(n, s) }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root) + "\n"
  }

  def readStrings(p: Path): Map[String, String] =
    mapper.readTree(readText(p)).asInstanceOf[ObjectNode].properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
}

/** Rewrites the committed contract from the current tree:
  * `sbt "Test/runMain graft.ContractGen"` from the repository root. */
object ContractGen {
  def main(args: Array[String]): Unit = {
    import Contract._
    val spark = TestSpark.spark
    val schemaDir = Dir.resolve("schemas")
    Files.createDirectories(schemaDir)
    Files.list(schemaDir).iterator.asScala.foreach(Files.delete)
    schemas(spark).foreach { case (n, s) =>
      Files.writeString(schemaFile(Dir, n), s.prettyJson + "\n", UTF_8)
    }
    Files.writeString(Dir.resolve("answers.json"), answersJson(answers(spark)),
      UTF_8)
    Files.writeString(Dir.resolve("oracle_sql.json"), stringsJson(oracleShas),
      UTF_8)
    spark.stop()
  }
}

class ContractSpec extends SparkSpec {
  import Contract._

  private def committed(p: Path): Path = {
    assert(Files.exists(p), s"$p is missing; regenerate the contract")
    p
  }

  test("contract: all 62 output schemas equal the committed names, types " +
       "and nullability") {
    val got = schemas(spark)
    assert(got.size == 62)
    val files = Files.list(Dir.resolve("schemas")).iterator.asScala
      .map(_.getFileName.toString.stripSuffix(".json")).toSet
    assert(files == got.map(_._1).toSet, "committed schema files differ " +
      "from the engine's outputs")
    val diffs = got.filter { case (n, s) =>
      readText(committed(schemaFile(Dir, n))) != s.prettyJson + "\n"
    }.map(_._1)
    assert(diffs.isEmpty, s"schemas changed: ${diffs.mkString(", ")}")
  }

  test("contract: every query's sf0.001 row count and digest equal the " +
       "committed answers") {
    val want = readAnswers(committed(Dir.resolve("answers.json")))
    assert(want.keySet == SparkEntry.queries.keySet)
    val diffs = answers(spark).collect {
      case (n, got) if want(n) != got => s"$n: ${want(n)} -> $got"
    }
    assert(diffs.isEmpty, s"answers changed:\n${diffs.mkString("\n")}")
  }

  test("contract: every oracleSql string hashes to its committed sha256") {
    val want = readStrings(committed(Dir.resolve("oracle_sql.json")))
    val got = oracleShas.toMap
    assert(got.keySet == want.keySet)
    val diffs = got.keys.toSeq.sorted.filter(n => got(n) != want(n))
    assert(diffs.isEmpty, s"oracleSql text changed: ${diffs.mkString(", ")}")
  }

  test("contract: digests ignore row order and the last bits of a double") {
    import spark.implicits._
    val a = Seq((1, 0.1 + 0.2), (2, 1.0)).toDF("k", "v")
    val b = Seq((2, 1.0), (1, 0.3)).toDF("k", "v")
    assert(digest(a) == digest(b))
    assert(digest(a) != digest(Seq((1, 0.31), (2, 1.0)).toDF("k", "v")))
  }
}
