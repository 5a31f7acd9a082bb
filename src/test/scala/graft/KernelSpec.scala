package graft

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.expressions._
import graft.sources.RecordTable

/** Every static-kernel Column factory (built on [[graft.expressions.Kernel]])
  * evaluated over the same typed rows, nulls included, in both of Spark's
  * evaluation modes: inside whole-stage codegen with no interpreted
  * fallback, and fully interpreted (`StaticInvoke.eval` calls the kernel
  * by reflection). `StaticInvoke` finds its method only when it executes,
  * so a misspelt function name or an argument class that matches no
  * overload fails here and nowhere earlier. */
class KernelSpec extends SparkSpec {

  private def be32(v: Int) = ByteBuffer.allocate(4).putInt(v).array()
  private def box(typ: String, payload: Array[Byte]) =
    be32(8 + payload.length) ++ typ.getBytes(US_ASCII) ++ payload

  // 4 x 3 RGB raster with few enough colors for the GIF encoder
  private val raster =
    Array.tabulate[Byte](4 * 3 * 3)(i => ((i % 5) * 50).toByte)
  private val mp4 = box("ftyp", "isom".getBytes(US_ASCII) ++ be32(0)) ++
    box("moov", box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(5000) ++ Array.fill[Byte](80)(0)))

  private val schema = StructType(Seq(
    StructField("text", StringType), StructField("seed", LongType),
    StructField("variant", IntegerType), StructField("media", BinaryType),
    StructField("vec", ArrayType(DoubleType)),
    StructField("vec2", ArrayType(DoubleType)),
    StructField("sigs", ArrayType(LongType)),
    StructField("shingles", ArrayType(StringType))))

  private val rows = Seq(
    Row(RecordTable.fixtureContent("wcmp2-passing.json"), 3L, 1,
      ImageOps.synthPng(3L, 6), Seq(0.5, -1.0, 2.0), Seq(1.0, 1.0, 1.0),
      Seq(1L, 3L, 7L, 255L), Seq("a b", "b c")),
    Row("Surface wether observations 30 days SYNOP WMO AAXX01 ABCD",
      85L, 4, BmpPixels.encodeBmp(raster, 4, 3), Seq(1.0, 2.0),
      Seq(1.0, 2.0, 3.0), Seq(0L, 0L, 1L), Seq("x", null)),
    Row("le la les de et un une du des est", 90L, 11,
      MediaFixtures.encodeGif(raster, 4, 3), Seq(-3.0, 0.25, 0.0, 4.0),
      Seq(2.0, 2.0, 2.0, 2.0), Seq(5L, 6L, 1024L), Seq("le la", "la les")),
    Row("", 0L, 0, JpegOps.synthJpeg(90L, 2), Seq.empty[Double],
      Seq.empty[Double], Seq.empty[Long], Seq.empty[String]),
    Row("{not json", -7L, 7, AudioOps.synthWav(7L), Seq(1.0, null),
      Seq(1.0, 2.0), Seq(42L), Seq("only")),
    Row("café naïve résumé", Long.MaxValue, 3, AudioOps.synthWavAdpcm(9L),
      Seq(0.1), Seq(0.2), Seq(1L, 2L), Seq("a")),
    Row("x", 12L, 5, mp4, Seq(1.0), Seq(1.0), Seq(9L), Seq("b")),
    Row("y", 13L, 6, Array[Byte](1, 2, 3), Seq(1.0), Seq(1.0), Seq(9L),
      Seq("c")),
    Row(null, null, null, null, null, null, null, null))

  /** One aliased column per converted factory. */
  private def kernels: Seq[(String, Column)] = {
    val (text, seed, variant, media) =
      (col("text"), col("seed"), col("variant"), col("media"))
    val rec = JsonFacts.jsonFacts(text).getField("rec")
    val props = rec.getField("properties")
    Seq(
      "json_facts" -> JsonFacts.jsonFacts(text),
      "link_pool" -> LinkPoolExpr.linkPool(rec.getField("links"),
        props.getField("themes"), props.getField("contacts")),
      "previews" -> Previews.previews(rec.getField("links")),
      "misspelled" -> Misspelled.misspelled(text),
      "title_words" -> TitleWords.titleWords(text),
      "language_id" -> LangId.languageId(text),
      "shingles" -> Ngrams.shinglesCol(text, 2),
      "shingles_all" -> Ngrams.shinglesAllCol(text, 2),
      "ngram_hashes" -> Ngrams.ngramHashes(text, 2),
      "minhash_sig" -> MinHashSig.minhashSig(col("shingles"), 4),
      "simhash64" -> SimHash64.simhash64(text),
      "hamming_pairs" -> HammingPairs.hammingPairs(col("sigs"), 8),
      "multi_probe_cells" -> VectorOps.multiProbeCellsCol(col("vec"), 6, 4),
      "dot" -> VectorOps.dotProduct(col("vec"), col("vec2")),
      "sign_sketch" -> VectorOps.signSketchCol(col("vec"), 16),
      "bpe_count" -> Bpe.bpeTokenCount(text),
      "synth_media" -> ImageOps.synthMedia(seed, variant),
      "dhash" -> ImageOps.imageDHash(media),
      "jpeg_dims" -> JpegDims.jpegDims(media),
      "wav_meta" -> WavMeta.wavMeta(media),
      "mp4_meta" -> Mp4Meta.mp4Meta(media),
      "audio_features" -> AudioOps.audioFeatures(media),
      "synth_wav" -> AudioOps.synthWav(seed),
      "synth_wav_codec" -> AudioOps.synthWavCodec(seed),
      "synth_wav_adpcm" -> AudioOps.synthWavAdpcm(seed))
  }

  private val codegenOnly = Seq(
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")
  private val interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** (schema, rows, ran inside whole-stage codegen) of the frame `df`
    * builds under the given SQL confs, restored afterwards. */
  private def evaluate(conf: Seq[(String, String)])(df: => DataFrame)
      : (StructType, Seq[Row], Boolean) = {
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val frame = df
      val codegen = frame.queryExecution.executedPlan
        .exists(_.isInstanceOf[WholeStageCodegenExec])
      (frame.schema, frame.collect().toSeq, codegen)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** the kernel columns over [[rows]] */
  private def kernelFrame: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .select(kernels.map { case (n, c) => c.as(n) }: _*)

  test("every kernel factory gives equal results, types and nullability " +
       "under whole-stage codegen and interpreted evaluation") {
    val (genSchema, genRows, genCodegen) = evaluate(codegenOnly)(kernelFrame)
    val (intSchema, intRows, intCodegen) = evaluate(interpreted)(kernelFrame)
    assert(genCodegen && !intCodegen)
    assert(genSchema == intSchema)
    assert(genSchema.fieldNames.toSeq == kernels.map(_._1))
    assert(genRows.size == rows.size && intRows.size == rows.size)
    genRows.zip(intRows).zipWithIndex.foreach { case ((g, i), n) =>
      assert(g == i, s"row $n differs:\ncodegen     $g\ninterpreted $i")
    }
    // every kernel ran on a real input: each column is non-null somewhere
    kernels.indices.foreach { k =>
      assert(genRows.exists(!_.isNullAt(k)), kernels(k)._1)
    }
    // a null input never reaches a kernel; only languageId and linkPool
    // coalesce, linkPool each null array to an empty one
    val nulls = genRows.last
    kernels.indices.foreach { k =>
      kernels(k)._1 match {
        case "language_id" => assert(nulls.getString(k) == "und")
        case "link_pool" => assert(nulls.getSeq[Row](k).isEmpty)
        case name => assert(nulls.isNullAt(k), name)
      }
    }
    // the passing fixture's links reach the link-pool kernel
    val linkPool = kernels.indexWhere(_._1 == "link_pool")
    assert(genRows.head.getSeq[Row](linkPool).nonEmpty)
    assert(!genSchema(linkPool).nullable)
  }

  test("the rule-walk kernels give equal results, types and nullability " +
       "under whole-stage codegen and interpreted evaluation, and equal " +
       "their declarative references") {
    def walks: DataFrame = {
      val (base, rc) =
        engine.Validator.withKernels(RuleWalkCases.records(spark))
      base.select(RuleWalkCases.columns(rc).map { case (n, k, _) => k.as(n) }: _*)
    }
    val (genSchema, genRows, genCodegen) = evaluate(codegenOnly)(walks)
    val (intSchema, intRows, intCodegen) = evaluate(interpreted)(walks)
    assert(genCodegen && !intCodegen)
    assert(genSchema == intSchema)
    assert(genRows == intRows)
    val (base, rc) = engine.Validator.withKernels(RuleWalkCases.records(spark))
    val cases = RuleWalkCases.columns(rc)
    val reference = base.select(cases.map { case (n, _, d) => d.as(n) }: _*)
      .collect().toSeq
    assert(genRows.size == reference.size)
    genRows.zip(reference).zipWithIndex.foreach { case ((k, d), n) =>
      cases.indices.foreach { c =>
        assert(k.get(c) == d.get(c),
          s"${cases(c)._1} differs on row $n:\nkernel      ${k.get(c)}\n" +
            s"declarative ${d.get(c)}")
      }
    }
  }
}
