package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import scala.io.Source
import scala.util.Using

/** The engine's input table `(repo, path, commit, lang, content)`
  * (BASELINE.json input_hint; FIXTURES.md §1).
  *
  * Two sources:
  *  - [[fixtures]]: the 9 reference fixture records + the non-JSON file,
  *    embedded verbatim from `/root/reference/tests/data/` — the
  *    conformance corpus.
  *  - [[synthesize]]: a deterministic, seed-free generator that expands the
  *    passing fixture into N rows by per-row text mutation. Generation is a
  *    `spark.range` projection (distributed, codegen'd, no driver loop), so
  *    the same generator that makes 2k test rows makes 10^9 bench rows.
  *    Mutation buckets have exactly computable expected verdicts, so scale
  *    tests can assert per-partition counts in closed form.
  */
object RecordTable {

  val columns = Seq("repo", "path", "commit", "lang", "content")

  /** [[columns]], all strings: the schema a records table is read with. */
  val schema: StructType = StructType(columns.map(StructField(_, StringType)))

  /** A parquet records table read with [[schema]], so Spark runs no
    * schema-inference job. A supplied schema reads a column the files lack
    * as nulls, so this reads the footer of the first listed file on the
    * driver and throws unless it stores every column of [[schema]] that is
    * not a partition column of the directory layout as a string. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val records = spark.read.schema(schema).parquet(path)
    listing(records).foreach { fs =>
      fs.location.inputFiles.headOption.foreach { file =>
        val conf = spark.sparkContext.hadoopConfiguration
        val stored = new ParquetToSparkSchemaConverter(SQLConf.get).convert(
          Using.resource(ParquetFileReader.open(
            HadoopInputFile.fromPath(new Path(file), conf)))(_.getFooter)
            .getFileMetaData.getSchema)
        val bad = columns
          .filterNot(c => fs.partitionSchema.exists(_.name == c))
          .filterNot(c => stored.exists(f =>
            f.name.equalsIgnoreCase(c) && f.dataType == StringType))
        require(bad.isEmpty, s"records table $path: $file does not store " +
          s"${bad.mkString(", ")} as string (it stores ${stored.simpleString})")
      }
    }
    records
  }

  /** The `lang` values of the partition directories listed for a records
    * table read by [[readParquet]]: read off the listing Spark made when
    * the table was read, with no job. `None` unless `records` is exactly
    * one file relation partitioned by a string `lang`. A partition counts
    * once it lists a file, even a file without rows. */
  def langPartitions(records: DataFrame): Option[Set[String]] =
    listing(records).flatMap { fs =>
      val i = fs.partitionSchema.fieldNames.indexOf("lang")
      if (i < 0 || fs.partitionSchema(i).dataType != StringType) None
      else Some(fs.location.listFiles(Nil, Nil).filter(_.files.nonEmpty)
        .map(d => Option(d.values.getUTF8String(i)).map(_.toString).orNull)
        .toSet)
    }

  /** The file relation `records` is, if it is exactly one. */
  private def listing(records: DataFrame): Option[HadoopFsRelation] =
    records.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => Some(fs)
        case _ => None
      }
      case _ => None
    }

  val fixtureNames: Seq[String] = Seq(
    "wcmp2-passing.json",
    "wcmp2-passing-test-centre-id.json",
    "wcmp2-failing.json",
    "wcmp2-failing-created-none.json",
    "wcmp2-failing-invalid-centre-id.json",
    "wcmp2-failing-invalid-geometry-range.json",
    "wcmp2-failing-invalid-identifier-empty.json",
    "wcmp2-failing-invalid-identifier-space.json",
    "wcmp2-failing-invalid-link-channel-wis2-topic.json",
    "not-json.csv")

  def fixtureContent(name: String): String = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    require(in != null, s"missing fixture $name")
    try Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Deterministic sha-like commit id for a path. */
  private def pseudoCommit(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def fixtures(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val langs = Seq("en", "fr", "de", "es")
    fixtureNames.zipWithIndex.map { case (name, i) =>
      ("wmo-im/wcmp2-fixtures", s"tests/data/$name", pseudoCommit(name),
        langs(i % langs.size), fixtureContent(name))
    }.toDF(columns: _*)
  }

  /** `n` records mutated from the passing fixture by bucket (i mod 20),
    * FIXTURES.md §5: buckets 0-13 pass all 12 ETS tests; 14-19 each fail
    * exactly one known rule (identifier twice, created datetime, extent,
    * data policy, links). `lang` is skewed 70/10/10/10 to exercise
    * AQE/salting on the dataset-level aggs. */
  def synthesize(spark: SparkSession, n: Long,
                 partitions: Int = 0): DataFrame = {
    val template = fixtureContent("wcmp2-passing.json")
    // 4 waves per core by default: a single task wave (range's default =
    // defaultParallelism) lets any per-task skew idle whole threads
    val parts = if (partitions > 0) partitions
      else spark.sparkContext.defaultParallelism * 4
    val base = spark.range(0, n, 1, parts).toDF("i")

    val bucket = pmod(col("i"), lit(20))
    val idLine = "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"
    // unique local identifier per row (bucket 15 re-inserts a space)
    val localId = concat(lit("observations.r"), col("i"))
    val newId = concat(
      when(bucket === 14, "urn:wmo:md:bad-centre-id:")
        .otherwise("urn:wmo:md:ca-eccc-msc:"),
      when(bucket === 15, concat(lit("obs r"), col("i"))).otherwise(localId))

    // Per-bucket template mutation PRECOMPUTED once at plan-build time:
    // the original formulation ran `replace(template, idLine, newId)` plus
    // a bucket-conditional replace/regexp_replace per ROW — a linear scan
    // and full copy of the ~5 KB template (plus regex machinery for the
    // data-policy removal), measured as the top hot-path frame
    // (UTF8String.find ~17% of executor samples, r6 stack profile). The
    // bucket mutations touch only constant template text (never the id
    // line, and the substituted id can never contain their patterns), so
    // mutation and id substitution commute: mutate the TEMPLATE once here,
    // split it at the id line once here, and emit a 3-way concat
    // (prefix ++ newId ++ suffix) per row — one memcopy, zero searching.
    // Byte-identity with the replace() formulation is pinned by
    // RecordTableSpec ("synthesize: precomputed-template parity").
    def splitAtId(t: String): (String, String) = {
      val at = t.indexOf(idLine)
      require(at >= 0 && t.indexOf(idLine, at + 1) < 0,
        "template must contain the id line exactly once")
      (t.substring(0, at), t.substring(at + idLine.length))
    }
    val variants: Map[Int, (String, String)] = Map(
      16 -> template.replace("\"created\": \"2018-01-01T11:11:11Z\"",
        "\"created\": \"None\""),
      17 -> template.replace("-142,", "-242,"),
      18 -> template.replaceAll(",\\s*\"wmo:dataPolicy\": \"core\"", ""),
      19 -> template.replace("\"rel\": \"data\",", "\"rel\": \"download\",")
    ).map { case (b, t) => b -> splitAtId(t) }
    val (basePre, baseSuf) = splitAtId(template)
    def part(sel: ((String, String)) => String) =
      variants.toSeq.sortBy(_._1).foldLeft(lit(sel((basePre, baseSuf)))) {
        case (acc, (b, ps)) => when(bucket === b, lit(sel(ps))).otherwise(acc)
      }
    val content1 = concat(part(_._1), newId, part(_._2))

    val lang = when(pmod(col("i"), lit(10)) < 7, "en")
      .when(pmod(col("i"), lit(10)) === 7, "fr")
      .when(pmod(col("i"), lit(10)) === 8, "de")
      .otherwise("zh")

    base.select(
      concat(lit("r"), pmod(col("i"), lit(1000))).as("repo"),
      concat(lit("records/"), col("i"), lit(".json")).as("path"),
      sha2(concat(lit("commit-"), col("i")), 256).substr(1, 40).as("commit"),
      lang.as("lang"),
      content1.as("content"))
  }

  /** Hand-crafted records exercising the schema gate's Draft 2020-12
    * pattern / uniqueItems classes (and their interplay with the ETS
    * identifier test) — unioned into the verdict-matrix oracle dump so
    * the DuckDB twin independently re-derives the new checks instead of
    * trivially passing them. Shapes: non-URN string id (pattern fires),
    * numeric id (type error, pattern suppressed), duplicated conformsTo
    * strings / coerced ints / minified-equal objects (uniqueItems fires),
    * duplicated JSON nulls (erased to SQL NULL on both engines — must
    * NOT fire). */
  def gateEdgeRecords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val template = fixtureContent("wcmp2-passing.json")
    val core = "http://wis.wmo.int/spec/wcmp/2/conf/core"
    val idLine =
      "\"urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime\""
    def conforms(items: String) =
      template.replace("\"" + core + "\"", items)
    val rows = Seq(
      ("edge-id-pattern", template.replace(idLine, "\"not-a-urn\"")),
      ("edge-id-number", template.replace(idLine, "12345")),
      ("edge-conforms-dup", conforms(s""""$core", "$core"""")),
      ("edge-conforms-dup-int", conforms(s""""$core", 7, 7""")),
      ("edge-conforms-objs", conforms(s""""$core", {"a": 1}, {"a":1}""")),
      ("edge-conforms-nulls", conforms(s""""$core", null, null""")))
    rows.map { case (name, content) =>
      ("edge", s"gate-edges/$name.json", name, "en", content)
    }.toDF("repo", "path", "commit", "lang", "content")
  }
}
