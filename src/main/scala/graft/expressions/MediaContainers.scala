package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.types._

/* Audio/video CONTAINER metadata probes — the same class of pure-JVM,
  * public-format header walks as [[JpegDims]], extending the multimodal
  * decode seam (`operators/Multimodal`) beyond images. Sample/pixel DATA
  * decode still needs real codec libraries (absent in this container) and
  * stays behind the declared stub; container metadata — the part a
  * training-data pipeline filters and routes on — is decoded for real.
  *
  * Both probes return a typed struct (one kernel call per row inside
  * whole-stage codegen; callers never re-evaluate the walk per field) or
  * null when the payload is not the format.
  */

/** WAV (RIFF) metadata: chunk walk to `fmt ` and `data`
  * (format facts: RIFF is `"RIFF" <u32le size> "WAVE"` then 8-byte-header
  * chunks, word-aligned; PCM `fmt ` carries channels/rate/block-align/
  * bits at fixed payload offsets — Microsoft RIFF spec / RFC 2361).
  *
  * Struct: (format='wav', channels, sample_rate, bits_per_sample,
  * n_samples, duration_ms); n_samples/duration are null when the `data`
  * chunk is absent. */
object WavMeta {
  val metaType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType)))

  def meta(b: Array[Byte]): InternalRow = {
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xFF
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def leU32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      i + 4 <= n && b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
        b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte
    if (n < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null

    var channels = -1; var rate = -1L; var bits = -1; var blockAlign = -1
    var dataSize = -1L
    var i = 12
    var guard = 0
    while (i + 8 <= n && guard < 4096) {
      guard += 1
      val size = leU32(i + 4)
      if (tag(i, "fmt ") && size >= 16 && i + 8 + 16 <= n) {
        channels = leU16(i + 10)
        rate = leU32(i + 12)
        blockAlign = leU16(i + 20)
        bits = leU16(i + 22)
      } else if (tag(i, "data")) {
        // declared size; the payload may be truncated (metadata-only scan)
        dataSize = size
      }
      // chunks are word-aligned; advance in Long so an absurd declared
      // size can't wrap Int and walk off the front of the buffer
      val next = i.toLong + 8L + size + (size & 1L)
      i = if (next >= n) n else next.toInt
    }
    mk(channels, rate, bits, blockAlign, dataSize)
  }

  private def mk(channels: Int, rate: Long, bits: Int, blockAlign: Int,
                 dataSize: Long): InternalRow = {
    if (channels < 0 || rate <= 0) return null // no fmt chunk: not decodable
    val nSamples: Any =
      if (dataSize >= 0 && blockAlign > 0) java.lang.Long.valueOf(dataSize / blockAlign)
      else null
    val durMs: Any = nSamples match {
      case s: java.lang.Long => java.lang.Long.valueOf(s.longValue * 1000L / rate)
      case _ => null
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString("wav"),
        Integer.valueOf(channels), Integer.valueOf(rate.toInt),
        Integer.valueOf(bits), nSamples, durMs))
  }

  def wavMeta(c: Column): Column =
    Kernel.call(this, "meta", metaType, Seq(c -> BinaryType), nullable = true)
}

/** MP4/ISO-BMFF metadata: top-level box walk to `moov`, then `mvhd`
  * (movie timescale + duration) and the first visual `trak`/`tkhd`
  * (track width/height as 16.16 fixed point) — ISO/IEC 14496-12 box
  * layouts; 64-bit `largesize` boxes and version-1 full boxes handled.
  *
  * Struct: (format='mp4', width, height, duration_ms, n_tracks); width/
  * height are null for audio-only containers. Null result when the
  * payload has no `ftyp` leader or no `moov`/`mvhd`. */
object Mp4Meta {
  val metaType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("n_tracks", IntegerType)))

  def meta(b: Array[Byte]): InternalRow = {
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xFF
    def beU16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def beU32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3))
    def beU64(i: Int): Long = (beU32(i) << 32) | beU32(i + 4)
    def typ(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)

    // each box: u32be size, 4cc type; size==1 -> u64 largesize follows;
    // size==0 -> box runs to end of enclosing scope
    def boxSize(i: Int, end: Int): Long = {
      val s = beU32(i)
      if (s == 1L) { if (i + 16 > end) -1L else beU64(i + 8) }
      else if (s == 0L) (end - i).toLong
      else s
    }
    def payloadStart(i: Int): Int = if (beU32(i) == 1L) i + 16 else i + 8

    /** find first box of `want` inside [from, end); returns (payload, boxEnd)
      * as a packed long (payload<<32|boxEnd) or -1. */
    def find(want: String, from: Int, end: Int): Long = {
      var i = from
      var guard = 0
      while (i + 8 <= end && guard < 4096) {
        guard += 1
        val size = boxSize(i, end)
        if (size < 8) return -1L
        val boxEnd = math.min(i + size, end.toLong).toInt
        if (typ(i + 4) == want) return (payloadStart(i).toLong << 32) | boxEnd
        i = boxEnd
      }
      -1L
    }

    if (n < 12 || beU32(0) < 8 || typ(4) != "ftyp") return null
    val moov = find("moov", 0, n)
    if (moov < 0) return null
    val moovP = (moov >> 32).toInt; val moovEnd = moov.toInt

    val mvhd = find("mvhd", moovP, moovEnd)
    if (mvhd < 0) return null
    val mp = (mvhd >> 32).toInt
    if (mp + 4 > n) return null
    val v = u8(mp)
    val (timescale, duration) =
      if (v == 1) { if (mp + 32 > n) return null; (beU32(mp + 20), beU64(mp + 24)) }
      else { if (mp + 20 > n) return null; (beU32(mp + 12), beU32(mp + 16)) }
    val durMs: Any =
      if (timescale > 0) java.lang.Long.valueOf(duration * 1000L / timescale)
      else null

    // walk traks: count them; take the first with non-zero tkhd w/h
    var width: Any = null; var height: Any = null; var tracks = 0
    var i = moovP
    var guard = 0
    while (i + 8 <= moovEnd && guard < 4096) {
      guard += 1
      val size = boxSize(i, moovEnd)
      if (size < 8) return mk(width, height, durMs, tracks)
      val boxEnd = math.min(i + size, moovEnd.toLong).toInt
      if (typ(i + 4) == "trak") {
        tracks += 1
        val tkhd = find("tkhd", payloadStart(i), boxEnd)
        if (tkhd >= 0 && width == null) {
          val tp = (tkhd >> 32).toInt
          // v0: w/h at payload +76/+80; v1 times are 8 bytes: +88/+92
          val off = if (tp < n && u8(tp) == 1) 88 else 76
          if (tp + off + 8 <= n) {
            val w = beU16(tp + off)      // integer part of 16.16 fixed
            val h = beU16(tp + off + 4)
            if (w > 0 && h > 0) {
              width = Integer.valueOf(w); height = Integer.valueOf(h)
            }
          }
        }
      }
      i = boxEnd
    }
    mk(width, height, durMs, tracks)
  }

  private def mk(w: Any, h: Any, durMs: Any, tracks: Int): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString("mp4"), w, h, durMs,
        Integer.valueOf(tracks)))

  def mp4Meta(c: Column): Column =
    Kernel.call(this, "meta", metaType, Seq(c -> BinaryType), nullable = true)
}
