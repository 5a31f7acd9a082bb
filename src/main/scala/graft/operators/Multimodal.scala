package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns: image/audio/video as opaque `binary` columns with
  * typed metadata, plus decode / feature-extract / frame-sample stages.
  *
  * The Spark-side plumbing — schema, batch shape, partition-friendly
  * narrow projections, typed metadata structs — is real and tested.
  * CONTAINER metadata is decoded for real across all three modalities:
  * images ([[decodeImage]]: PNG/GIF/BMP fixed layouts + JPEG SOF walk),
  * audio ([[decodeWav]]: RIFF chunk walk) and video ([[decodeMp4]]:
  * ISO-BMFF box walk). Pixel DATA is decoded for real across EVERY
  * image format: PNG (`expressions.PngPixels`: JDK-zlib IDAT inflate +
  * filter reconstruction), uncompressed BMP (`expressions.BmpPixels`),
  * GIF (`expressions.GifPixels`: real LZW + de-interlace) and JPEG,
  * both baseline AND progressive (`expressions.JpegPixels`: Huffman
  * entropy decode + T.81 Annex G successive approximation + dequantize
  * + IDCT + chroma upsample) — all four feeding the same format-blind
  * raster pipeline (dHash near-dup) — plus WAV samples
  * (`expressions.AudioOps.audioFeatures`: RIFF walk + per-frame
  * peak/rms/silence over integer PCM 8/16/24/32, IEEE-float 32/64,
  * G.711 A-law/µ-law, IMA and MS ADPCM, plain or WAVE_FORMAT_EXTENSIBLE
  * framing).
  * What remains a STUB (`decodeStub`/[[featurizeStub]]) is TRANSFORM
  * AUDIO codecs (MP3/AAC/opus) and VIDEO-FRAME decode (and the
  * arithmetic-coded/hierarchical JPEG modes outside JpegPixels'
  * subset) — this
  * container has no codec libraries — exercised through a deterministic
  * fake container embedded by [[attachFakeMedia]]. In production the stub
  * body is replaced by a real codec behind the same column signature
  * (binary -> struct), or by an Arrow-batched `mapPartitions` against a
  * native library; nothing upstream or downstream changes.
  */
object Multimodal {

  val mediaMetaType: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Deterministically attach a fake media payload to each doc:
    * a 16-byte header (4 magic + format + width + height + n_frames,
    * big-endian u16s) followed by sha256-derived body bytes. The header is
    * what [[decodeStub]] parses — same contract as a real container
    * format. */
  def attachFakeMedia(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    val fmtIdx = pmod(id, lit(3))
    val fmt = when(fmtIdx === 0, "img").when(fmtIdx === 1, "aud")
      .otherwise("vid")
    val width  = (pmod(xxhash64(lit(1), id), lit(1024)) + 16).cast(IntegerType)
    val height = (pmod(xxhash64(lit(2), id), lit(1024)) + 16).cast(IntegerType)
    val frames = when(fmtIdx === 2,
      (pmod(xxhash64(lit(3), id), lit(240)) + 1).cast(IntegerType))
      .otherwise(lit(1))
    def u16be(c: Column): Column =
      concat(
        unhex(lpad(hex((c.cast(LongType) / 256).cast(IntegerType) % 256), 2, "0")),
        unhex(lpad(hex(c.cast(LongType) % 256), 2, "0")))
    val header = concat(
      lit("GRFT").cast(BinaryType),
      lpad(fmt, 4, " ").cast(BinaryType),
      u16be(width), u16be(height), u16be(frames),
      unhex(lit("0000")))
    val body = unhex(sha2(id.cast(StringType), 256)) // 32 deterministic bytes
    docs
      .withColumn("media", concat(header, body))
      .withColumn("media_meta", struct(
        fmt.as("format"), width.as("width"), height.as("height"),
        frames.as("n_frames")))
  }

  private def ubyte(media: Column, at: Int): Column =
    conv(hex(substring(media, at, 1)), 16, 10).cast(IntegerType)

  /** REAL decode path for the container formats whose headers are plain
    * byte layouts — a pure-JVM, codegen'd column parser with the same
    * `binary -> media_meta` signature as the stub:
    *
    *  - PNG: 8-byte signature, IHDR width/height as big-endian u32 at
    *    offsets 16/20
    *  - GIF (87a/89a): logical-screen width/height as little-endian u16
    *    at offsets 6/8
    *  - BMP ('BM'): BITMAPINFOHEADER width/height as little-endian i32
    *    at offsets 18/22. The i32 is assembled in LONG arithmetic and the
    *    two's complement decoded explicitly: a high byte >= 0x80 would
    *    overflow Int math (an ArithmeticException under ANSI mode — a
    *    single top-down BMP would abort the whole decode job). Top-down
    *    BMPs carry a NEGATIVE height whose magnitude is the pixel height,
    *    so the probe emits abs(height); a non-positive width is corrupt
    *    and falls through to null.
    *  - JPEG (FFD8): SOF segment walk via the codegen'd
    *    [[graft.expressions.JpegDims]] kernel (dimensions live in a
    *    variable-offset SOF0-SOF15 marker segment — not a fixed layout).
    *
    * Returns null for any other payload (audio/video codec formats stay
    * behind [[decodeStub]] / an external codec in production). */
  def decodeImage(media: Column): Column = {
    def b(at1: Int): Column = ubyte(media, at1) // 1-based offsets
    val pngSig = hex(substring(media, 1, 8)) === "89504E470D0A1A0A"
    val pngW = conv(hex(substring(media, 17, 4)), 16, 10).cast(IntegerType)
    val pngH = conv(hex(substring(media, 21, 4)), 16, 10).cast(IntegerType)
    val gifSig = substring(media, 1, 3).cast(StringType) === "GIF"
    val gifW = b(7) + b(8) * 256
    val gifH = b(9) + b(10) * 256
    val bmpSig = substring(media, 1, 2).cast(StringType) === "BM"
    def leI32(at1: Int): Column = {
      val u = b(at1).cast(LongType) + b(at1 + 1).cast(LongType) * 256L +
        b(at1 + 2).cast(LongType) * 65536L +
        b(at1 + 3).cast(LongType) * 16777216L
      when(u >= 2147483648L, u - 4294967296L).otherwise(u)
    }
    val bmpW = leI32(19)
    val bmpH = leI32(23)
    val jpegWh = graft.expressions.JpegDims.jpegDims(media)
    when(pngSig, struct(lit("png").as("format"), pngW.as("width"),
        pngH.as("height"), lit(1).as("n_frames")))
      .when(gifSig, struct(lit("gif").as("format"), gifW.as("width"),
        gifH.as("height"), lit(1).as("n_frames")))
      .when(bmpSig && bmpW > 0,
        struct(lit("bmp").as("format"), bmpW.cast(IntegerType).as("width"),
          abs(bmpH).cast(IntegerType).as("height"), lit(1).as("n_frames")))
      .when(jpegWh.isNotNull,
        struct(lit("jpeg").as("format"),
          shiftright(jpegWh, 16).cast(IntegerType).as("width"),
          jpegWh.bitwiseAND(lit(0xFFFFL)).cast(IntegerType).as("height"),
          lit(1).as("n_frames")))
      .otherwise(lit(null).cast(mediaMetaType))
  }

  /** REAL audio-container decode: WAV/RIFF chunk walk (channels, sample
    * rate, bit depth, sample count, duration) via the codegen'd
    * [[graft.expressions.WavMeta]] kernel. Null for non-WAV. */
  def decodeWav(media: Column): Column =
    graft.expressions.WavMeta.wavMeta(media)

  /** REAL video-container decode: MP4/ISO-BMFF box walk (track pixel
    * dimensions, movie duration, track count) via the codegen'd
    * [[graft.expressions.Mp4Meta]] kernel. Null for non-MP4. */
  def decodeMp4(media: Column): Column =
    graft.expressions.Mp4Meta.mp4Meta(media)

  /** Decode dispatch: real image header parsers first ([[decodeImage]];
    * WAV/MP4 have their own typed metadata shapes — [[decodeWav]] /
    * [[decodeMp4]]), then the fake-container stub — one
    * `binary -> media_meta` column, the production seam where an
    * Arrow-batched codec would plug in. */
  def decode(media: Column): Column =
    coalesce(decodeImage(media), decodeStub(media))

  /** STUB decode: binary -> media_meta struct by parsing the fake header.
    * Real deployments swap the body for a codec call with the SAME
    * signature; every downstream stage is already wired for it. */
  def decodeStub(media: Column): Column = {
    def u16(at: Int): Column =
      (conv(hex(substring(media, at, 1)), 16, 10).cast(IntegerType) * 256 +
        conv(hex(substring(media, at + 1, 1)), 16, 10).cast(IntegerType))
    when(substring(media, 1, 4).cast(StringType) === "GRFT", struct(
      trim(substring(media, 5, 4).cast(StringType)).as("format"),
      u16(9).as("width"), u16(11).as("height"), u16(13).as("n_frames")))
      .otherwise(lit(null).cast(mediaMetaType))
  }

  /** STUB feature extraction: binary -> dense float vector, derived from
    * payload hash bytes (deterministic stand-in for an image/audio
    * encoder; the vector shape + normalization are production-real). */
  def featurizeStub(media: Column, dim: Int = 16): Column =
    transform(sequence(lit(0), lit(dim - 1)), i =>
      ((pmod(xxhash64(i, media), lit(2000L)).cast(DoubleType) / 1000.0) - 1.0)
        .cast(FloatType))

  /** Frame sampling for video payloads: every `stride`-th frame index up
    * to the decoded n_frames — the shape of a real frame sampler (the
    * per-frame pixel fetch is part of the decode stub). */
  def sampleFrames(meta: Column, stride: Int = 10): Column =
    when(meta.getField("format") === "vid",
      sequence(lit(0), greatest(meta.getField("n_frames") - 1, lit(0)),
        lit(stride)))
      .otherwise(array(lit(0)))

  /** Full multimodal pipeline over a documents table: attach -> decode ->
    * verify decode matches metadata -> featurize -> frame-sample. */
  def pipeline(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    attachFakeMedia(docs, idCol)
      .withColumn("decoded", decode(col("media")))
      .withColumn("decode_ok", col("decoded") === col("media_meta"))
      .withColumn("features", featurizeStub(col("media")))
      .withColumn("sampled_frames", sampleFrames(col("decoded")))
  }
}
