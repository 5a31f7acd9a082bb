package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

/** Audio feature extraction over REAL decoded PCM samples — the audio
  * analog of [[ImageOps]]: WAV/PCM is a plain byte layout (Microsoft
  * RIFF spec / RFC 2361), so sample DATA decode needs no codec library
  * and the multimodal stub shrinks to lossy codecs only on the audio
  * side too (reference scope: pywcmp treats linked media as opaque
  * URLs — these are the training-data-pipeline stages beyond it).
  *
  *  - [[AudioOps.synthWav]]: a deterministic WAV ENCODER
  *    ([[AudioOps.encodeWav]] is the public kernel), seed -> bytes.
  *    The synthetic signal is a silence prefix followed by a square
  *    wave whose amplitude, length and prefix are pure seed arithmetic,
  *    so every feature below has a closed form an independent engine
  *    (the DuckDB oracle) can recompute from the seed alone.
  *  - [[AudioOps.audioFeatures]]: one pass over the PCM frames ->
  *    `(n_frames, duration_ms, peak, rms, silence_ratio)`; peak/rms are
  *    normalized to full scale [0,1], silence is |x| below 1% full
  *    scale on every channel. These are the audio QC signals a corpus
  *    pipeline filters on (dead air, clipping-adjacent peaks, loudness
  *    strata).
  *
  * Kernels obey the untrusted-bytes contract (never throw, null on
  * malformed/undecodable/truncated-header input — FuzzSpec) and a
  * decoded-size bomb cap. Decoded sample formats:
  *
  *  - integer PCM (wFormatTag=1): 8 (unsigned, 128-offset) / 16 / 24 /
  *    32-bit signed LE, any channel count; full scale `2^(bits-1)`.
  *  - IEEE-float PCM (wFormatTag=3): 32/64-bit LE, nominal full scale
  *    1.0; non-finite samples (NaN/±Inf from untrusted bytes) are
  *    treated as 0 so one poisoned frame cannot NaN the whole feature
  *    row.
  *  - G.711 A-law / µ-law (wFormatTag=6/7, ITU-T G.711, the classic
  *    g711.c expansion): 8-bit log codes expanded to 16-bit linear
  *    (A-law magnitudes ≤ 32256, µ-law ≤ 32124), full scale 32768.
  *  - IMA/DVI ADPCM (wFormatTag=0x11, the most common COMPRESSED WAV
  *    codec): per-block per-channel header state + 4-bit adaptive
  *    nibbles through the standard 89-entry step table
  *    ([[adpcmFeatures]]).
  *  - MS ADPCM (wFormatTag=0x0002): 7-byte-per-channel block headers
  *    (predictor pair selection + delta + two seed samples), nibbles
  *    HIGH-first cycling channels, predictor coefficients read from the
  *    stream's own extended fmt. For both ADPCM codecs the oracle is
  *    the structurally independent [[graft.tools.AdpcmReference]]
  *    (adaptive coding has no closed form) + hand-derived golden
  *    vectors. The remaining stub surface is transform codecs
  *    (MP3/AAC/opus).
  *  - WAVE_FORMAT_EXTENSIBLE (0xFFFE): unwrapped via the SubFormat
  *    GUID (KSDATAFORMAT_SUBTYPE base) to any of the above; the
  *    container bit depth is used as the sample depth (wValidBits
  *    narrowing is out of scope — spec-mandated zero-padding of the
  *    low container bits only scales, never reorders, features).
  *
  * A truncated `data` payload is decoded to the frames actually
  * present (same metadata-only tolerance as [[WavMeta]]).
  */
object AudioOps {
  /** bomb cap on decoded PCM bytes actually walked (64 MiB) */
  val MaxPcm: Int = 1 << 26
  /** silence threshold: 1% of full scale */
  val SilenceFrac: Double = 0.01

  /** Minimal spec-complete WAV encoder: integer PCM, `bits` of
    * 8 (unsigned, 128-offset per spec) / 16 / 24 / 32 (signed LE),
    * `samples` channel-interleaved signed values at full `bits` scale.
    * Encode/decode round-trip through [[features]] is exact. */
  def encodeWav(samples: Array[Int], channels: Int, rate: Int,
                bits: Int): Array[Byte] = {
    require(channels > 0 && rate > 0, "channels/rate must be positive")
    require(bits == 8 || bits == 16 || bits == 24 || bits == 32,
      s"bits $bits")
    require(samples.length % channels == 0, "partial final frame")
    val bytesPer = bits / 8
    val blockAlign = channels * bytesPer
    val dataSize = samples.length * bytesPer
    val out = new Array[Byte](44 + dataSize)
    def tag(i: Int, s: String): Unit = {
      var k = 0
      while (k < 4) { out(i + k) = s.charAt(k).toByte; k += 1 }
    }
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    tag(0, "RIFF"); le32(4, 36 + dataSize); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    le16(20, 1) // PCM
    le16(22, channels); le32(24, rate)
    le32(28, rate * blockAlign); le16(32, blockAlign); le16(34, bits)
    tag(36, "data"); le32(40, dataSize)
    var i = 0
    while (i < samples.length) {
      val v = if (bits == 8) samples(i) + 128 else samples(i)
      var k = 0
      while (k < bytesPer) {
        out(44 + i * bytesPer + k) = (v >>> (8 * k)).toByte
        k += 1
      }
      i += 1
    }
    out
  }

  // ---- IMA/DVI ADPCM (wFormatTag 0x11): the standard 89-entry step
  // table and 8-entry index-adjust table from the IMA ADPCM reference
  // algorithm (Interactive Multimedia Association, 1992; also Microsoft
  // WAVE format docs for the block layout) ----
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private[graft] val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM decode step: apply 4-bit `nibble` to the
    * `(predictor, stepIndex)` state packed as `(pred << 8) | index`
    * (both clamped per spec). Shared by the production decoder and the
    * encoder (which must track the decoder's reconstruction). */
  private[graft] def imaStep(state: Int, nibble: Int): Int = {
    var pred = state >> 8 // arithmetic: keeps the sign
    val index = state & 0xFF
    val step = ImaStepTable(index)
    var diff = step >> 3
    if ((nibble & 4) != 0) diff += step
    if ((nibble & 2) != 0) diff += step >> 1
    if ((nibble & 1) != 0) diff += step >> 2
    pred = if ((nibble & 8) != 0) pred - diff else pred + diff
    if (pred > 32767) pred = 32767 else if (pred < -32768) pred = -32768
    var ni = index + ImaIndexTable(nibble & 7)
    if (ni < 0) ni = 0 else if (ni > 88) ni = 88
    (pred << 8) | ni
  }

  // ---- MS ADPCM (wFormatTag 0x0002): the 7 standard predictor
  // coefficient pairs and the 16-entry delta-adaptation table from the
  // Microsoft WAVE format documentation ----
  private[graft] val MsCoef1 = Array(256, 512, 0, 192, 240, 460, 392)
  private[graft] val MsCoef2 = Array(0, -256, 0, 64, 0, -208, -232)
  private[graft] val MsAdapt = Array(
    230, 230, 230, 230, 307, 409, 512, 614,
    768, 614, 512, 409, 307, 230, 230, 230)

  /** One MS ADPCM decode step over mutable per-channel state arrays
    * `(sample1, sample2, delta)` at index `c`, coefficients `(c1, c2)`.
    * Arithmetic-shift convention (`>> 8`) for both the predictor and the
    * delta adaptation — well-defined on negatives, used consistently by
    * the encoder, the production decoder and the independent reference.
    * Returns the decoded sample. */
  private[graft] def msStep(s1: Array[Int], s2: Array[Int], d: Array[Int],
                            c: Int, c1: Int, c2: Int, nibble: Int): Int = {
    val signed = if (nibble >= 8) nibble - 16 else nibble
    val pred = (s1(c) * c1 + s2(c) * c2) >> 8
    var sample = pred + signed * d(c)
    if (sample > 32767) sample = 32767
    else if (sample < -32768) sample = -32768
    s2(c) = s1(c); s1(c) = sample
    d(c) = (MsAdapt(nibble) * d(c)) >> 8
    if (d(c) < 16) d(c) = 16
    sample
  }

  /** G.711 µ-law code byte -> 16-bit linear sample (ITU-T G.711 /
    * the canonical g711.c expansion): invert, then
    * `((mant<<3)+0x84) << exp` biased back down. Range ±32124. */
  def ulawToLinear(code: Int): Int = {
    val u = (~code) & 0xFF
    val t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law code byte -> 16-bit linear sample (ITU-T G.711):
    * xor 0x55, segment-wise expansion. Range ±32256; note A-law has
    * no exact zero — the quietest codes decode to ±8. */
  def alawToLinear(code: Int): Int = {
    val a = code ^ 0x55
    val seg = (a & 0x70) >> 4
    var t = (a & 0x0F) << 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else t = (t + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Shared RIFF/fmt/data framing for the non-integer-PCM encoders:
    * `fmtCode` + raw `data` payload bytes, 16-byte fmt body. */
  private def encodeWavRaw(data: Array[Byte], fmtCode: Int,
                           channels: Int, rate: Int,
                           bits: Int): Array[Byte] = {
    require(channels > 0 && rate > 0, "channels/rate must be positive")
    val bytesPer = bits / 8
    val blockAlign = channels * bytesPer
    val out = new Array[Byte](44 + data.length)
    def tag(i: Int, s: String): Unit = {
      var k = 0
      while (k < 4) { out(i + k) = s.charAt(k).toByte; k += 1 }
    }
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    tag(0, "RIFF"); le32(4, 36 + data.length); tag(8, "WAVE")
    tag(12, "fmt "); le32(16, 16)
    le16(20, fmtCode)
    le16(22, channels); le32(24, rate)
    le32(28, rate * blockAlign); le16(32, blockAlign); le16(34, bits)
    tag(36, "data"); le32(40, data.length)
    System.arraycopy(data, 0, out, 44, data.length)
    out
  }

  /** IEEE-float-PCM WAV encoder (wFormatTag=3, 32-bit LE). */
  def encodeWavFloat(samples: Array[Float], channels: Int,
                     rate: Int): Array[Byte] = {
    require(samples.length % channels == 0, "partial final frame")
    val data = new Array[Byte](samples.length * 4)
    var i = 0
    while (i < samples.length) {
      val v = java.lang.Float.floatToIntBits(samples(i))
      data(i * 4) = v.toByte; data(i * 4 + 1) = (v >>> 8).toByte
      data(i * 4 + 2) = (v >>> 16).toByte; data(i * 4 + 3) = (v >>> 24).toByte
      i += 1
    }
    encodeWavRaw(data, 3, channels, rate, 32)
  }

  /** G.711 WAV encoder (wFormatTag=7 µ-law / 6 A-law): the `codes`
    * ARE the data payload (one log-companded byte per sample). */
  def encodeWavG711(codes: Array[Byte], ulaw: Boolean, channels: Int,
                    rate: Int): Array[Byte] = {
    require(codes.length % channels == 0, "partial final frame")
    encodeWavRaw(codes, if (ulaw) 7 else 6, channels, rate, 8)
  }

  /** The base KSDATAFORMAT_SUBTYPE GUID tail (bytes 2..16): the
    * SubFormat of WAVE_FORMAT_EXTENSIBLE is `<u16le fmtCode>` + this. */
  val ExtensibleGuidTail: Array[Byte] = Array[Byte](
    0, 0, 0, 0, 0x10, 0, 0x80.toByte, 0,
    0, 0xAA.toByte, 0, 0x38, 0x9B.toByte, 0x71)

  /** Deterministic test-signal WAV from `seed`: 16-bit mono 8000 Hz;
    * `s = seed mod 100` silent frames then `n - s` frames of a
    * period-8 square wave at amplitude `A = 32767` (exactly full scale)
    * when `seed mod 7 = 6`, else `A = 1000 + (seed mod 7) * 4000`,
    * total `n = 400 + (seed mod 5) * 100` frames. Closed forms the
    * oracle recomputes from the seed: `peak = A/32768`,
    * `rms = A * sqrt((n-s)/n) / 32768` (exact in IEEE doubles: every
    * partial sum of the kernel's sum-of-squares is an integer below
    * 2^53, so both engines feed sqrt the identical quotient),
    * `silence_ratio = s/n`, `duration_ms = n*1000 div 8000`. */
  def synthWav(seed: Long): Array[Byte] = {
    def m(k: Long): Int = java.lang.Math.floorMod(seed, k).toInt
    val n = 400 + m(5) * 100
    val s = m(100)
    val amp = if (m(7) == 6) 32767 else 1000 + m(7) * 4000
    val samples = new Array[Int](n)
    var i = s
    while (i < n) {
      samples(i) = if (((i - s) / 4) % 2 == 0) amp else -amp
      i += 1
    }
    encodeWav(samples, 1, 8000, 16)
  }

  val featureType: StructType = StructType(Seq(
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("peak", DoubleType, nullable = false),
    StructField("rms", DoubleType, nullable = false),
    StructField("silence_ratio", DoubleType, nullable = false)))

  /** WAV bytes -> feature row, or null when the payload is not a
    * decodable WAV (bad RIFF frame, no `fmt `, unsupported format/depth
    * combination, no `data`). Supported: integer PCM 8/16/24/32, IEEE
    * float 32/64, G.711 A-law/µ-law, each plainly tagged or wrapped in
    * WAVE_FORMAT_EXTENSIBLE. A `data` chunk whose declared size exceeds
    * the bytes present (or [[MaxPcm]]) is decoded to the whole frames
    * actually available.
    *
    * The integer-PCM arithmetic is EXACT end to end (every per-sample
    * square and partial sum an integer below 2^53), which is what lets
    * the `q_audio_features` DuckDB oracle demand bit-identical rms;
    * the G.711 expansions land on the same exact-integer path, and the
    * float path keeps closed-form exactness whenever samples are
    * powers of two (see [[synthWavCodec]]). */
  def features(b: Array[Byte]): InternalRow = {
    val n = b.length
    def u8(i: Int): Int = b(i) & 0xFF
    def leU16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def leU32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def tag(i: Int, s: String): Boolean =
      i + 4 <= n && b(i) == s.charAt(0).toByte &&
        b(i + 1) == s.charAt(1).toByte &&
        b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte
    if (n < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null

    var fmtOk = false
    var fmtCode = 0
    var channels = 0; var rate = 0L; var bits = 0
    var fmtBlockAlign = 0
    var msCoef: (Array[Int], Array[Int]) = null // MS ADPCM pairs from fmt
    var dataAt = -1; var dataLen = 0L
    var i = 12
    var guard = 0
    while (i + 8 <= n && guard < 4096) {
      guard += 1
      val size = leU32(i + 4)
      if (tag(i, "fmt ") && size >= 16 && i + 8 + 16 <= n) {
        var audioFormat = leU16(i + 8)
        channels = leU16(i + 10)
        rate = leU32(i + 12)
        fmtBlockAlign = leU16(i + 20)
        bits = leU16(i + 22)
        if (audioFormat == 0xFFFE && size >= 40 && i + 8 + 40 <= n) {
          // WAVE_FORMAT_EXTENSIBLE: the real code is the SubFormat
          // GUID's first u16le, valid only over the KSDATAFORMAT base
          val sub = i + 32 // fmt body offset 24
          var baseOk = true
          var k = 0
          while (k < ExtensibleGuidTail.length) {
            if (b(sub + 2 + k) != ExtensibleGuidTail(k)) baseOk = false
            k += 1
          }
          audioFormat = if (baseOk) leU16(sub) else -1
        }
        fmtCode = audioFormat
        fmtOk = channels > 0 && rate > 0 && (fmtCode match {
          case 1 => bits == 8 || bits == 16 || bits == 24 || bits == 32
          case 3 => bits == 32 || bits == 64
          case 6 | 7 => bits == 8
          // IMA ADPCM: 4-bit nibbles, per-channel 4-byte block headers
          // followed by whole 4-byte-per-channel nibble groups
          case 0x11 => bits == 4 && fmtBlockAlign > 4 * channels &&
            (fmtBlockAlign - 4 * channels) % (4 * channels) == 0
          // MS ADPCM: 4-bit nibbles, 7-byte-per-channel block headers,
          // predictor coefficient pairs carried in the extended fmt
          // (cbSize >= 4 + 4*wNumCoef; layout: wSamplesPerBlock u16,
          // wNumCoef u16, then wNumCoef (iCoef1, iCoef2) s16le pairs)
          case 2 =>
            var ok = bits == 4 && fmtBlockAlign > 7 * channels &&
              (fmtBlockAlign - 7 * channels) * 2 % channels == 0 &&
              size >= 22 && i + 8 + 22 <= n
            if (ok) {
              val numCoef = leU16(i + 28)
              ok = numCoef >= 1 && numCoef <= 64 &&
                size >= 22 + 4 * numCoef && i + 8 + 22 + 4 * numCoef <= n
              if (ok) {
                val c1 = new Array[Int](numCoef)
                val c2 = new Array[Int](numCoef)
                var k = 0
                while (k < numCoef) {
                  c1(k) = (leU16(i + 30 + 4 * k) << 16) >> 16 // s16
                  c2(k) = (leU16(i + 32 + 4 * k) << 16) >> 16
                  k += 1
                }
                msCoef = (c1, c2)
              }
            }
            ok
          case _ => false
        })
      } else if (tag(i, "data") && dataAt < 0) {
        dataAt = i + 8
        dataLen = size
      }
      val next = i.toLong + 8L + size + (size & 1L) // word-aligned; Long
      i = if (next >= n) n else next.toInt
    }
    if (!fmtOk || dataAt < 0) return null
    if (fmtCode == 0x11)
      return adpcmFeatures(b, dataAt,
        math.min(math.min(dataLen, (n - dataAt).toLong), MaxPcm.toLong),
        channels, rate, fmtBlockAlign)
    if (fmtCode == 2)
      return msAdpcmFeatures(b, dataAt,
        math.min(math.min(dataLen, (n - dataAt).toLong), MaxPcm.toLong),
        channels, rate, fmtBlockAlign, msCoef._1, msCoef._2)

    val bytesPer = bits / 8
    val blockAlign = channels * bytesPer
    val avail = math.min(math.min(dataLen, (n - dataAt).toLong),
      MaxPcm.toLong)
    val frames = avail / blockAlign
    val scale: Double = fmtCode match {
      case 1 => (1L << (bits - 1)).toDouble
      case 3 => 1.0
      case _ => 32768.0 // G.711 expands onto the 16-bit linear scale
    }
    val silenceAbs = scale * SilenceFrac
    var peakAbs = 0.0
    var sumSq = 0.0
    var silentFrames = 0L
    var f = 0L
    while (f < frames) {
      var frameSilent = true
      var c = 0
      while (c < channels) {
        val at = dataAt + (f * blockAlign).toInt + c * bytesPer
        val x: Double = fmtCode match {
          case 1 =>
            var v = 0L
            var k = 0
            while (k < bytesPer) {
              v |= u8(at + k).toLong << (8 * k); k += 1
            }
            // sign-extend (8-bit PCM is unsigned with a 128 offset)
            (if (bits == 8) v - 128
             else (v << (64 - bits)) >> (64 - bits)).toDouble
          case 3 =>
            val raw =
              if (bits == 32)
                java.lang.Float.intBitsToFloat(
                  u8(at) | (u8(at + 1) << 8) | (u8(at + 2) << 16) |
                    (u8(at + 3) << 24)).toDouble
              else {
                var v = 0L
                var k = 0
                while (k < 8) { v |= u8(at + k).toLong << (8 * k); k += 1 }
                java.lang.Double.longBitsToDouble(v)
              }
            // untrusted bytes: one NaN/Inf must not NaN the whole row
            if (java.lang.Double.isFinite(raw)) raw else 0.0
          case 6 => alawToLinear(u8(at)).toDouble
          case _ => ulawToLinear(u8(at)).toDouble
        }
        val ax = math.abs(x)
        if (ax > peakAbs) peakAbs = ax
        if (ax >= silenceAbs) frameSilent = false
        sumSq += x * x
        c += 1
      }
      if (frameSilent) silentFrames += 1
      f += 1
    }
    new GenericInternalRow(Array[Any](
      java.lang.Long.valueOf(frames),
      java.lang.Long.valueOf(frames * 1000L / rate),
      java.lang.Double.valueOf(peakAbs / scale),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0
        else math.sqrt(sumSq / (frames * channels).toDouble) / scale),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0 else silentFrames.toDouble / frames)))
  }

  /** IMA ADPCM (wFormatTag 0x11) feature walk: per block and channel, a
    * 4-byte header `(s16le predictor, u8 stepIndex, u8 reserved)` seeds
    * the state and IS the block's first output sample; nibble data
    * follows in 4-byte-per-channel groups (8 nibbles each, low nibble
    * first), channels interleaved group-wise. Only whole blocks decode
    * (a truncated trailing block is dropped, the same tolerance as the
    * PCM path's partial-frame drop). Output scale is the 16-bit linear
    * 32768, like G.711. */
  private def adpcmFeatures(b: Array[Byte], dataAt: Int, avail: Long,
                            channels: Int, rate: Long,
                            blockAlign: Int): InternalRow = {
    def u8(i: Int): Int = b(i) & 0xFF
    val groups = (blockAlign - 4 * channels) / (4 * channels)
    val samplesPerBlock = groups * 8 + 1
    val blocks = (avail / blockAlign).toInt
    val frames = blocks.toLong * samplesPerBlock
    val silenceAbs = 32768.0 * SilenceFrac
    // per-channel decoded block buffer, reused across blocks
    val buf = Array.ofDim[Int](channels, samplesPerBlock)
    var peakAbs = 0.0
    var sumSq = 0.0
    var silentFrames = 0L
    var blk = 0
    while (blk < blocks) {
      val base = dataAt + blk * blockAlign
      var c = 0
      while (c < channels) {
        val h = base + 4 * c
        val pred = ((u8(h) | (u8(h + 1) << 8)) << 16) >> 16 // s16le
        var idx = u8(h + 2)
        if (idx > 88) idx = 88 // corrupt header index: clamp, don't walk off
        var state = (pred << 8) | idx
        buf(c)(0) = pred
        val dataBase = base + 4 * channels
        var g = 0
        while (g < groups) {
          val at = dataBase + (g * channels + c) * 4
          var k = 0
          while (k < 4) {
            val byte = u8(at + k)
            state = imaStep(state, byte & 0xF)
            buf(c)(1 + g * 8 + k * 2) = state >> 8
            state = imaStep(state, byte >> 4)
            buf(c)(1 + g * 8 + k * 2 + 1) = state >> 8
            k += 1
          }
          g += 1
        }
        c += 1
      }
      var f = 0
      while (f < samplesPerBlock) {
        var frameSilent = true
        var c2 = 0
        while (c2 < channels) {
          val x = buf(c2)(f).toDouble
          val ax = math.abs(x)
          if (ax > peakAbs) peakAbs = ax
          if (ax >= silenceAbs) frameSilent = false
          sumSq += x * x
          c2 += 1
        }
        if (frameSilent) silentFrames += 1
        f += 1
      }
      blk += 1
    }
    new GenericInternalRow(Array[Any](
      java.lang.Long.valueOf(frames),
      java.lang.Long.valueOf(frames * 1000L / rate),
      java.lang.Double.valueOf(peakAbs / 32768.0),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0
        else math.sqrt(sumSq / (frames * channels).toDouble) / 32768.0),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0 else silentFrames.toDouble / frames)))
  }

  /** MS ADPCM (wFormatTag 0x0002) feature walk: per block, per-channel
    * headers `(u8 predictor index) x ch, (s16le delta) x ch,
    * (s16le sample1) x ch, (s16le sample2) x ch` (7 bytes per channel);
    * sample2 then sample1 are the block's first two output frames, and
    * the nibble data follows HIGH nibble first, one nibble per sample,
    * cycling channels frame-major. Predictor coefficients come from the
    * stream's extended fmt (validated during the chunk walk). Output
    * scale 32768. */
  private def msAdpcmFeatures(b: Array[Byte], dataAt: Int, avail: Long,
                              channels: Int, rate: Long, blockAlign: Int,
                              coef1: Array[Int],
                              coef2: Array[Int]): InternalRow = {
    def u8(i: Int): Int = b(i) & 0xFF
    def s16(i: Int): Int = ((u8(i) | (u8(i + 1) << 8)) << 16) >> 16
    val dataBytes = blockAlign - 7 * channels
    val framesPerBlock = dataBytes * 2 / channels + 2
    val blocks = (avail / blockAlign).toInt
    val frames = blocks.toLong * framesPerBlock
    val silenceAbs = 32768.0 * SilenceFrac
    val buf = Array.ofDim[Int](channels, framesPerBlock)
    val s1 = new Array[Int](channels); val s2 = new Array[Int](channels)
    val dlt = new Array[Int](channels)
    val pc1 = new Array[Int](channels); val pc2 = new Array[Int](channels)
    var peakAbs = 0.0
    var sumSq = 0.0
    var silentFrames = 0L
    var blk = 0
    while (blk < blocks) {
      val base = dataAt + blk * blockAlign
      var c = 0
      while (c < channels) {
        val pi = u8(base + c)
        if (pi >= coef1.length) return null // predictor past the table
        pc1(c) = coef1(pi); pc2(c) = coef2(pi)
        dlt(c) = s16(base + channels + 2 * c)
        if (dlt(c) < 16) dlt(c) = 16
        s1(c) = s16(base + 3 * channels + 2 * c)
        s2(c) = s16(base + 5 * channels + 2 * c)
        buf(c)(0) = s2(c); buf(c)(1) = s1(c)
        c += 1
      }
      var k = 0 // nibble counter, frame-major across channels
      val totalNibbles = dataBytes * 2
      val nibBase = base + 7 * channels
      while (k < totalNibbles) {
        val byte = u8(nibBase + (k >> 1))
        val nib = if ((k & 1) == 0) byte >> 4 else byte & 0xF // high first
        val ch = k % channels
        buf(ch)(2 + k / channels) =
          msStep(s1, s2, dlt, ch, pc1(ch), pc2(ch), nib)
        k += 1
      }
      var f = 0
      while (f < framesPerBlock) {
        var frameSilent = true
        var c2 = 0
        while (c2 < channels) {
          val x = buf(c2)(f).toDouble
          val ax = math.abs(x)
          if (ax > peakAbs) peakAbs = ax
          if (ax >= silenceAbs) frameSilent = false
          sumSq += x * x
          c2 += 1
        }
        if (frameSilent) silentFrames += 1
        f += 1
      }
      blk += 1
    }
    new GenericInternalRow(Array[Any](
      java.lang.Long.valueOf(frames),
      java.lang.Long.valueOf(frames * 1000L / rate),
      java.lang.Double.valueOf(peakAbs / 32768.0),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0
        else math.sqrt(sumSq / (frames * channels).toDouble) / 32768.0),
      java.lang.Double.valueOf(
        if (frames == 0) 0.0 else silentFrames.toDouble / frames)))
  }

  /** MS ADPCM WAV ENCODER: channel-interleaved 16-bit `samples` ->
    * wFormatTag 0x0002 bytes, predictor pair 0 `(256, 0)`, the standard
    * 7-pair table written into the extended fmt, `dataBytes` nibble
    * bytes per block. Quantization tracks the decoder's reconstruction
    * through [[msStep]] exactly; the final partial block repeats the
    * last frame. */
  def encodeWavMsAdpcm(samples: Array[Int], channels: Int, rate: Int,
                       dataBytes: Int = 32): Array[Byte] = {
    require(channels > 0 && rate > 0 && dataBytes > 0 &&
      dataBytes * 2 % channels == 0)
    require(samples.length % channels == 0, "partial final frame")
    val framesPerBlock = dataBytes * 2 / channels + 2
    val totalFrames = samples.length / channels
    val blocks = math.max(1,
      (totalFrames + framesPerBlock - 1) / framesPerBlock)
    val blockAlign = 7 * channels + dataBytes
    val numCoef = MsCoef1.length
    val fmtBody = 22 + 4 * numCoef // 16 base + cbSize + cb payload
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    val dataSize = blocks * blockAlign
    out.write("RIFF".getBytes); le32(4 + 8 + fmtBody + 8 + dataSize)
    out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); le32(fmtBody)
    le16(2); le16(channels); le32(rate)
    le32(rate * blockAlign / framesPerBlock)
    le16(blockAlign); le16(4)
    le16(4 + 4 * numCoef) // cbSize
    le16(framesPerBlock); le16(numCoef)
    for (k <- 0 until numCoef) { le16(MsCoef1(k) & 0xFFFF); le16(MsCoef2(k) & 0xFFFF) }
    out.write("data".getBytes); le32(dataSize)

    def sampleAt(f: Int, c: Int): Int = {
      val ff = math.min(f, totalFrames - 1)
      if (ff < 0) 0 else samples(ff * channels + c)
    }
    val s1 = new Array[Int](channels); val s2 = new Array[Int](channels)
    val dlt = new Array[Int](channels)
    var blk = 0
    while (blk < blocks) {
      val f0 = blk * framesPerBlock
      var c = 0
      while (c < channels) { out.write(0); c += 1 } // predictor 0
      c = 0
      while (c < channels) { le16(16); dlt(c) = 16; c += 1 }
      c = 0
      while (c < channels) {
        s1(c) = sampleAt(f0 + 1, c); le16(s1(c) & 0xFFFF); c += 1
      }
      c = 0
      while (c < channels) {
        s2(c) = sampleAt(f0, c); le16(s2(c) & 0xFFFF); c += 1
      }
      var k = 0
      val totalNibbles = dataBytes * 2
      var pending = 0
      while (k < totalNibbles) {
        val ch = k % channels
        val target = sampleAt(f0 + 2 + k / channels, ch)
        val pred = (s1(ch) * MsCoef1(0) + s2(ch) * MsCoef2(0)) >> 8
        var nib = Math.round((target - pred).toDouble / dlt(ch)).toInt
        if (nib > 7) nib = 7 else if (nib < -8) nib = -8
        val nu = nib & 0xF
        msStep(s1, s2, dlt, ch, MsCoef1(0), MsCoef2(0), nu)
        if ((k & 1) == 0) pending = nu << 4 // high nibble first
        else out.write(pending | nu)
        k += 1
      }
      blk += 1
    }
    out.toByteArray
  }

  /** IMA ADPCM WAV ENCODER: channel-interleaved 16-bit `samples` ->
    * wFormatTag 0x11 bytes with `groups` 4-byte nibble groups per
    * channel per block (the standard quantize-against-reconstruction
    * loop, state threaded through [[imaStep]] so encoder and decoder
    * reconstructions agree exactly). The final partial block is padded
    * by repeating the last sample. Standard extended fmt chunk
    * (cbSize=2, wSamplesPerBlock). */
  def encodeWavAdpcm(samples: Array[Int], channels: Int, rate: Int,
                     groups: Int = 8): Array[Byte] = {
    require(channels > 0 && rate > 0 && groups > 0)
    require(samples.length % channels == 0, "partial final frame")
    val samplesPerBlock = groups * 8 + 1
    val totalFrames = samples.length / channels
    val blocks = math.max(1, (totalFrames + samplesPerBlock - 1) /
      samplesPerBlock)
    val blockAlign = 4 * channels + groups * 4 * channels
    val dataSize = blocks * blockAlign
    val out = new Array[Byte](12 + 8 + 20 + 8 + dataSize)
    def tagW(i: Int, s: String): Unit = {
      var k = 0
      while (k < 4) { out(i + k) = s.charAt(k).toByte; k += 1 }
    }
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    tagW(0, "RIFF"); le32(4, out.length - 8); tagW(8, "WAVE")
    tagW(12, "fmt "); le32(16, 20)
    le16(20, 0x11); le16(22, channels); le32(24, rate)
    le32(28, rate * blockAlign / samplesPerBlock) // nominal avg rate
    le16(32, blockAlign); le16(34, 4)
    le16(36, 2); le16(38, samplesPerBlock) // cbSize, wSamplesPerBlock
    tagW(40, "data"); le32(44, dataSize)

    def sampleAt(f: Int, c: Int): Int = {
      val ff = math.min(f, totalFrames - 1) // pad: repeat last frame
      if (ff < 0) 0 else samples(ff * channels + c)
    }
    val state = new Array[Int](channels)
    var blk = 0
    while (blk < blocks) {
      val base = 48 + blk * blockAlign
      val f0 = blk * samplesPerBlock
      var c = 0
      while (c < channels) {
        val first = sampleAt(f0, c)
        // header: predictor = the block's first sample, carried index
        val idx = state(c) & 0xFF
        le16(base + 4 * c, first & 0xFFFF)
        out(base + 4 * c + 2) = idx.toByte
        out(base + 4 * c + 3) = 0
        state(c) = (first << 8) | idx
        val dataBase = base + 4 * channels
        var g = 0
        while (g < groups) {
          val at = dataBase + (g * channels + c) * 4
          var k = 0
          while (k < 8) {
            val target = sampleAt(f0 + 1 + g * 8 + k, c)
            // quantize against the current reconstruction state
            val pred = state(c) >> 8
            val step = ImaStepTable(state(c) & 0xFF)
            var diff = target - pred
            var nib = 0
            if (diff < 0) { nib = 8; diff = -diff }
            if (diff >= step) { nib |= 4; diff -= step }
            if (diff >= (step >> 1)) { nib |= 2; diff -= step >> 1 }
            if (diff >= (step >> 2)) nib |= 1
            state(c) = imaStep(state(c), nib)
            if ((k & 1) == 0) out(at + k / 2) = nib.toByte
            else out(at + k / 2) = (out(at + k / 2) | (nib << 4)).toByte
            k += 1
          }
          g += 1
        }
        c += 1
      }
      blk += 1
    }
    out
  }

  /** Deterministic ADPCM-coverage WAV from `seed`: `1 + seed mod 2`
    * channels at 8000 Hz, the [[synthWav]] n/s frame grammar, and a
    * per-channel square wave (amplitude `1000 + (seed mod 7) * 4000`,
    * right channel half amplitude) after the silent prefix. The CODEC
    * alternates with `(seed / 2) mod 2`: IMA (0x11) or MS (0x0002), so
    * all four channel x codec combinations appear across seeds.
    * Adaptive coding has no closed form, so the oracle is the
    * structurally independent [[graft.tools.AdpcmReference]] decode of
    * the SAME bytes (the BpeReference pattern). */
  def synthWavAdpcm(seed: Long): Array[Byte] = {
    def m(k: Long): Int = java.lang.Math.floorMod(seed, k).toInt
    val channels = 1 + m(2)
    val n = 400 + m(5) * 100
    val s = m(100)
    val a = 1000 + m(7) * 4000
    val samples = new Array[Int](n * channels)
    var f = s
    while (f < n) {
      var c = 0
      while (c < channels) {
        val amp = if (c == 0) a else a / 2
        samples(f * channels + c) =
          if (((f - s) / 4) % 2 == 0) amp else -amp
        c += 1
      }
      f += 1
    }
    if (java.lang.Math.floorMod(seed / 2, 2) == 0)
      encodeWavAdpcm(samples, channels, 8000)
    else encodeWavMsAdpcm(samples, channels, 8000,
      dataBytes = 32 * channels)
  }

  /** Deterministic codec-coverage WAV from `seed`: mono 8000 Hz, the
    * same n/s frame grammar as [[synthWav]] (`n = 400 + (seed mod 5) *
    * 100` frames, `s = seed mod 100` silent prefix), but the sample
    * format cycles `seed mod 3`: 0 -> µ-law, 1 -> A-law, 2 -> float32.
    *
    * Closed forms the DuckDB oracle recomputes from the seed alone
    * (all sums exact in IEEE doubles — integer-valued for G.711,
    * power-of-two-valued for float):
    *
    *  - G.711: the active square wave is written as a DIRECT 7-bit
    *    magnitude code `m = seed mod 128` with alternating sign, so the
    *    decoded magnitude is the expansion formula itself:
    *    µ-law `M = ((m mod 16)*8 + 132) * 2^(m div 16) - 132`,
    *    A-law `M = (m mod 16)*16 + 8` (seg 0), `+264` (seg 1),
    *    `((m mod 16)*16 + 264) * 2^(seg-1)` above. Silence bytes are
    *    the real codec silence: µ-law 0xFF (decodes to exact 0), A-law
    *    0xD5 (decodes to +8 — A-law has no zero, so silent frames
    *    contribute 64 per frame to the sum of squares and the whole
    *    file reads fully "silent" whenever M < 327.68 = 1% of full
    *    scale). peak = M/32768 (M >= 8 >= A-law silence), rms =
    *    sqrt((s*z^2 + (n-s)*M^2)/n)/32768 with z = 0 (µ) / 8 (A),
    *    silence_ratio = s/n when M >= 327.68 else 1.
    *  - float32: amplitude `A = 2^-(1 + seed mod 6)` (all >= 2^-6 =
    *    0.015625 > the 1% threshold, all exactly representable);
    *    peak = A, rms = sqrt((n-s)*A^2/n), silence_ratio = s/n. */
  def synthWavCodec(seed: Long): Array[Byte] = {
    def m(k: Long): Int = java.lang.Math.floorMod(seed, k).toInt
    val fmt = m(3)
    val n = 400 + m(5) * 100
    val s = m(100)
    if (fmt == 2) {
      val a = java.lang.Math.pow(2.0, -(1 + m(6))).toFloat
      val samples = new Array[Float](n)
      var i = s
      while (i < n) {
        samples(i) = if (((i - s) / 4) % 2 == 0) a else -a
        i += 1
      }
      encodeWavFloat(samples, 1, 8000)
    } else {
      val mm = m(128)
      val ulaw = fmt == 0
      val posB =
        if (ulaw) ((~mm) & 0xFF).toByte else (((0x80 | mm) ^ 0x55)).toByte
      val negB =
        if (ulaw) ((~mm) & 0x7F).toByte else (mm ^ 0x55).toByte
      val silB = if (ulaw) 0xFF.toByte else 0xD5.toByte
      val codes = new Array[Byte](n)
      java.util.Arrays.fill(codes, 0, s, silB)
      var i = s
      while (i < n) {
        codes(i) = if (((i - s) / 4) % 2 == 0) posB else negB
        i += 1
      }
      encodeWavG711(codes, ulaw, 1, 8000)
    }
  }

  /** seed long -> WAV bytes; never null */
  def synthWav(seed: Column): Column = synth("synthWav", seed)
  /** seed long -> codec-coverage WAV bytes; never null */
  def synthWavCodec(seed: Column): Column = synth("synthWavCodec", seed)
  /** seed long -> deterministic IMA ADPCM WAV bytes; never null */
  def synthWavAdpcm(seed: Column): Column = synth("synthWavAdpcm", seed)
  private def synth(function: String, seed: Column): Column =
    Kernel.call(this, function, BinaryType, Seq(seed -> LongType),
      nullable = false)
  /** WAV bytes -> PCM feature struct, null on non-PCM/undecodable */
  def audioFeatures(media: Column): Column =
    Kernel.call(this, "features", featureType, Seq(media -> BinaryType),
      nullable = true)
}
