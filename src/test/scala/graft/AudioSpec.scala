package graft

import org.apache.spark.sql.functions._
import graft.expressions.AudioOps

/** The audio pipeline over REAL decoded PCM samples: WAV encode
  * (AudioOps.encodeWav), RIFF walk + sample decode (AudioOps.features)
  * and the closed-form synth signal (AudioOps.synthWav) the oracle
  * recomputes from seed arithmetic. The JDK's own javax.sound WAV
  * reader serves as the independent decode oracle for the encoder. */
class AudioSpec extends SparkSpec {
  import spark.implicits._

  private def feat(b: Array[Byte]) = AudioOps.features(b)

  test("encodeWav round-trips through the JDK's independent WAV reader " +
       "(javax.sound.sampled), sample-for-sample") {
    val samples = Array.tabulate(200)(i => (i * 251 - 20000) % 30000)
    val wav = AudioOps.encodeWav(samples, 1, 8000, 16)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = in.getFormat
    assert(fmt.getChannels == 1 && fmt.getSampleRate == 8000f &&
      fmt.getSampleSizeInBits == 16)
    val raw = in.readAllBytes()
    assert(raw.length == 400)
    for (i <- samples.indices) {
      val v = ((raw(i * 2) & 0xFF) | (raw(i * 2 + 1) << 8)).toShort.toInt
      assert(v == samples(i), s"sample $i")
    }
  }

  test("features decodes every integer PCM depth exactly: known peak, " +
       "rms, silence over crafted frames") {
    // 4 frames mono: 0, +1/2 FS, -1/2 FS, 0  ->  peak 0.5,
    // rms = sqrt((0 + FS^2/4 + FS^2/4 + 0) / 4)/FS = sqrt(1/8),
    // silence_ratio = 0.5
    for (bits <- Seq(8, 16, 24, 32)) {
      val half = 1 << (bits - 2)
      val f = feat(AudioOps.encodeWav(Array(0, half, -half, 0), 1, 8000, bits))
      assert(f != null, s"bits=$bits")
      assert(f.getLong(0) == 4 && f.getLong(1) == 0) // 4 frames, 0 ms
      assert(f.getDouble(2) == 0.5, s"peak bits=$bits")
      assert(math.abs(f.getDouble(3) - math.sqrt(0.125)) < 1e-15,
        s"rms bits=$bits")
      assert(f.getDouble(4) == 0.5, s"silence bits=$bits")
    }
    // stereo: a frame is silent only when BOTH channels are
    val st = feat(AudioOps.encodeWav(
      Array(0, 16384, 0, 0, 16384, 0), 2, 48000, 16))
    assert(st.getLong(0) == 3 && st.getDouble(4) == 1.0 / 3)
  }

  test("features matches the synthWav closed forms for every seed class") {
    for (seed <- 0L until 70L) {
      val n = 400 + (seed % 5) * 100
      val s = seed % 100
      val a = if (seed % 7 == 6) 32767 else 1000 + (seed % 7) * 4000
      val f = feat(AudioOps.synthWav(seed))
      assert(f.getLong(0) == n && f.getLong(1) == n * 1000 / 8000)
      assert(f.getDouble(2) == a / 32768.0, s"peak seed=$seed")
      assert(f.getDouble(3) ==
        math.sqrt(((n - s) * a * a) / n.toDouble) / 32768.0,
        s"rms seed=$seed (must be bit-identical, not just close)")
      assert(f.getDouble(4) == s.toDouble / n, s"silence seed=$seed")
    }
  }

  test("undecodable payloads are null, not a throw: non-RIFF, non-PCM " +
       "fmt, missing data chunk, truncated data tolerated") {
    assert(feat("not audio".getBytes) == null)
    assert(feat(Array[Byte]()) == null)
    val wav = AudioOps.encodeWav(Array(100, -100, 100, -100), 1, 8000, 16)
    // flip the fmt audioFormat to 3 (IEEE float): float requires a
    // 32/64-bit depth, so float-at-16-bit is an invalid combination
    val nonPcm = wav.clone(); nonPcm(20) = 3
    assert(feat(nonPcm) == null)
    // G.711 requires 8-bit codes: µ-law-at-16-bit is likewise invalid
    val badG711 = wav.clone(); badG711(20) = 7
    assert(feat(badG711) == null)
    // chop the data payload mid-frame: decodes the whole frames present
    val truncated = feat(wav.take(44 + 5))
    assert(truncated != null && truncated.getLong(0) == 2)
    // declared data size beyond the buffer: same tolerance
    val overdeclared = wav.clone(); overdeclared(40) = 0x7F.toByte
    assert(feat(overdeclared).getLong(0) == 4)
  }

  test("G.711 expansions match the JDK's independent µ-law/A-law codecs " +
       "code-for-code (javax.sound conversion to 16-bit linear)") {
    import javax.sound.sampled._
    for (ulaw <- Seq(true, false)) {
      val codes = Array.tabulate(256)(i => i.toByte)
      val wav = AudioOps.encodeWavG711(codes, ulaw, 1, 8000)
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val want = if (ulaw) AudioFormat.Encoding.ULAW
                 else AudioFormat.Encoding.ALAW
      assert(in.getFormat.getEncoding == want)
      val pcm = AudioSystem.getAudioInputStream(
        new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, 8000f, 16, 1,
          2, 8000f, false), in)
      val raw = pcm.readAllBytes()
      assert(raw.length == 512)
      for (i <- 0 until 256) {
        val jdk = ((raw(i * 2) & 0xFF) | (raw(i * 2 + 1) << 8)).toShort.toInt
        val ours = if (ulaw) AudioOps.ulawToLinear(i)
                   else AudioOps.alawToLinear(i)
        assert(jdk == ours, s"ulaw=$ulaw code=$i jdk=$jdk ours=$ours")
      }
    }
  }

  test("float-PCM WAVs decode with full scale 1.0; non-finite samples " +
       "are zeroed, not propagated") {
    // 4 frames: 0, +0.5, -0.5, 0 -> the same features as the integer
    // half-scale fixture
    val f = feat(AudioOps.encodeWavFloat(
      Array(0f, 0.5f, -0.5f, 0f), 1, 8000))
    assert(f != null && f.getLong(0) == 4)
    assert(f.getDouble(2) == 0.5)
    assert(math.abs(f.getDouble(3) - math.sqrt(0.125)) < 1e-15)
    assert(f.getDouble(4) == 0.5)
    // NaN / Inf frames read as 0 (and therefore silent)
    val g = feat(AudioOps.encodeWavFloat(
      Array(Float.NaN, Float.PositiveInfinity, 0.25f, -0.25f), 1, 8000))
    assert(g.getDouble(2) == 0.25 && g.getDouble(4) == 0.5)
    assert(!g.getDouble(3).isNaN)
    // float64 path: same samples at double width
    val wav64 = {
      val vals = Array(0.0, 0.5, -0.5, 0.0)
      val data = new Array[Byte](vals.length * 8)
      for (i <- vals.indices) {
        val bits = java.lang.Double.doubleToLongBits(vals(i))
        for (k <- 0 until 8) data(i * 8 + k) = (bits >>> (8 * k)).toByte
      }
      // reuse the float framing with bits=64 via the raw header shape
      val f32 = AudioOps.encodeWavFloat(Array(0f, 0f, 0f, 0f), 1, 8000)
      val out = new Array[Byte](44 + data.length)
      System.arraycopy(f32, 0, out, 0, 44)
      out(34) = 64 // bits
      out(32) = 8 // block align
      out(40) = data.length.toByte // data size (small)
      System.arraycopy(data, 0, out, 44, data.length)
      out
    }
    val h = feat(wav64)
    assert(h != null && h.getLong(0) == 4 && h.getDouble(2) == 0.5)
  }

  test("WAVE_FORMAT_EXTENSIBLE unwraps to identical features for every " +
       "inner format; a foreign SubFormat GUID is rejected") {
    val plainInt = AudioOps.encodeWav(Array(0, 8192, -8192, 0), 1, 8000, 16)
    val plainFloat = AudioOps.encodeWavFloat(
      Array(0f, 0.25f, -0.25f, 0f), 1, 8000)
    val plainUlaw = AudioOps.encodeWavG711(
      Array.tabulate(8)(i => (i * 37).toByte), ulaw = true, 1, 8000)
    for (plain <- Seq(plainInt, plainFloat, plainUlaw)) {
      val a = feat(plain)
      val b = feat(MediaFixtures.wrapExtensible(plain))
      assert(a != null && b != null)
      assert(a.getLong(0) == b.getLong(0) && a.getDouble(2) == b.getDouble(2)
        && a.getDouble(3) == b.getDouble(3)
        && a.getDouble(4) == b.getDouble(4))
    }
    // corrupt the GUID tail: must be rejected, not misread as PCM
    val wrapped = MediaFixtures.wrapExtensible(plainInt)
    wrapped(50) = 0x42
    assert(feat(wrapped) == null)
    // the JDK reads our extensible framing too (independent oracle)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(MediaFixtures.wrapExtensible(plainInt)))
    assert(in.getFormat.getSampleSizeInBits == 16 &&
      in.getFormat.getChannels == 1)
  }

  test("features matches the synthWavCodec closed forms for every seed " +
       "class (µ-law, A-law, float32)") {
    for (seed <- 0L until 210L) {
      def md(k: Long): Long = java.lang.Math.floorMod(seed, k)
      val fmt = md(3); val n = 400 + md(5) * 100; val s = md(100)
      val f = feat(AudioOps.synthWavCodec(seed))
      assert(f != null, s"seed=$seed")
      assert(f.getLong(0) == n && f.getLong(1) == n * 1000 / 8000)
      if (fmt == 2) {
        val a = math.pow(2.0, -(1 + md(6)).toDouble)
        assert(f.getDouble(2) == a, s"float peak seed=$seed")
        assert(f.getDouble(3) == math.sqrt((n - s) * a * a / n.toDouble),
          s"float rms seed=$seed")
        assert(f.getDouble(4) == s.toDouble / n, s"float silence seed=$seed")
      } else {
        val m = md(128).toInt
        val big = (m % 16).toDouble
        val mag: Double =
          if (fmt == 0) ((m % 16) * 8 + 132) * (1 << (m / 16)) - 132
          else if (m / 16 == 0) big * 16 + 8
          else if (m / 16 == 1) big * 16 + 264
          else (big * 16 + 264) * (1 << (m / 16 - 1))
        val z = if (fmt == 0) 0.0 else 8.0
        assert(f.getDouble(2) == mag / 32768.0, s"g711 peak seed=$seed")
        assert(f.getDouble(3) ==
          math.sqrt((s * z * z + (n - s) * mag * mag) / n.toDouble) / 32768.0,
          s"g711 rms seed=$seed (bit-identical)")
        val expSilence =
          if (mag < 32768 * AudioOps.SilenceFrac) 1.0 else s.toDouble / n
        assert(f.getDouble(4) == expSilence, s"g711 silence seed=$seed")
      }
    }
  }

  test("IMA ADPCM hand-derived golden block: nibble-by-nibble decode " +
       "traced by hand from the IMA reference algorithm") {
    // mono, one block, one 4-byte group: header (pred=0, idx=0) + the
    // nibble stream [7,3,8,15,0,1,2,4] (low nibble first per byte).
    // Hand trace: idx0 step7: n7 -> +11; idx8 step16: n3 -> +14 (25);
    // idx7 step14: n8 -> -1 (24); idx6 step13: n15 -> -23 (1);
    // idx14 step28: n0 -> +3 (4); idx13 step25: n1 -> +9 (13);
    // idx12 step23: n2 -> +13 (26); idx11 step21: n4 -> +23 (49).
    val expectSamples = Vector(0, 11, 25, 24, 1, 4, 13, 26, 49)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes); le32(48); out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); le32(20)
    le16(0x11); le16(1); le32(8000); le32(4000); le16(8); le16(4)
    le16(2); le16(9) // cbSize, wSamplesPerBlock
    out.write("data".getBytes); le32(8)
    out.write(Array[Byte](0, 0, 0, 0)) // header: pred 0, idx 0, reserved
    out.write(Array(0x37, 0xF8, 0x10, 0x42).map(_.toByte)) // the nibbles
    val wav = out.toByteArray

    // the independent reference decodes EXACTLY the hand-derived samples
    val (samples, ch, rate) = graft.tools.AdpcmReference
      .decodeSamples(wav).get
    assert(ch == 1 && rate == 8000L)
    assert(samples == expectSamples, s"reference decoded $samples")

    // the production kernel's features equal those computed from the
    // hand-derived samples
    val f = feat(wav)
    assert(f != null && f.getLong(0) == 9 && f.getLong(1) == 9000 / 8000)
    assert(f.getDouble(2) == 49.0 / 32768.0, "peak")
    val sumSq = expectSamples.map(s => s.toDouble * s).sum
    assert(f.getDouble(3) == math.sqrt(sumSq / 9) / 32768.0, "rms")
    assert(f.getDouble(4) == 1.0, "all samples under the silence threshold")
  }

  test("MS ADPCM hand-derived golden block: nibble-by-nibble decode " +
       "traced by hand from the Microsoft WAVE documentation") {
    // mono, one block, blockAlign 9 (7-byte header + 2 nibble bytes).
    // Header: predictor 0 -> coef (256, 0); delta 16; sample1 100,
    // sample2 50. Nibbles HIGH-first [1, 15, 8, 7]:
    //  n1:  pred (100*256)>>8 = 100; +1*16  -> 116; delta 230*16>>8=14->16
    //  n15: pred 116;           -1*16  -> 100; delta 16
    //  n8:  pred 100;           -8*16  -> -28; delta 768*16>>8 = 48
    //  n7:  pred -28;           +7*48  -> 308; delta 614*48>>8 = 115
    val expect = Vector(50, 100, 116, 100, -28, 308)
    val out = new java.io.ByteArrayOutputStream()
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    def le32(v: Int): Unit = { le16(v & 0xFFFF); le16((v >>> 16) & 0xFFFF) }
    out.write("RIFF".getBytes); le32(4 + 8 + 50 + 8 + 9)
    out.write("WAVE".getBytes)
    out.write("fmt ".getBytes); le32(50)
    le16(2); le16(1); le32(8000); le32(4000); le16(9); le16(4)
    le16(32); le16(6); le16(7) // cbSize, wSamplesPerBlock, wNumCoef
    for (k <- 0 until 7) {
      le16(graft.expressions.AudioOps.MsCoef1(k) & 0xFFFF)
      le16(graft.expressions.AudioOps.MsCoef2(k) & 0xFFFF)
    }
    out.write("data".getBytes); le32(9)
    out.write(0) // predictor index 0
    le16(16); le16(100); le16(50) // delta, sample1, sample2
    out.write((1 << 4) | 15); out.write((8 << 4) | 7) // nibbles high-first
    val wav = out.toByteArray

    val (samples, ch, rate) = graft.tools.AdpcmReference
      .decodeSamples(wav).get
    assert(ch == 1 && rate == 8000L)
    assert(samples == expect, s"reference decoded $samples")

    val f = feat(wav)
    assert(f != null && f.getLong(0) == 6)
    assert(f.getDouble(2) == 308.0 / 32768.0, "peak")
    val sumSq = expect.map(s => s.toDouble * s).sum
    assert(f.getDouble(3) == math.sqrt(sumSq / 6) / 32768.0, "rms")
    assert(f.getDouble(4) == 1.0, "all under the 327.68 silence threshold")
  }

  test("IMA + MS ADPCM: production kernel and the structurally " +
       "independent AdpcmReference agree bit-for-bit on every " +
       "synthWavAdpcm seed class (mono/stereo x IMA/MS), and the " +
       "encoder's block headers carry the original samples") {
    for (seed <- 0L until 70L) {
      val wav = AudioOps.synthWavAdpcm(seed)
      val f = feat(wav)
      val r = graft.tools.AdpcmReference.features(wav).get
      assert(f != null, s"seed=$seed")
      assert(f.getLong(0) == r.nFrames && f.getLong(1) == r.durationMs &&
        f.getDouble(2) == r.peak && f.getDouble(3) == r.rms &&
        f.getDouble(4) == r.silenceRatio, s"seed=$seed")
    }
    // the codec really alternates: seed/2 even -> IMA (0x11), odd -> MS
    def tagOf(wav: Array[Byte]): Int = (wav(20) & 0xFF) | ((wav(21) & 0xFF) << 8)
    assert(tagOf(AudioOps.synthWavAdpcm(0L)) == 0x11)
    assert(tagOf(AudioOps.synthWavAdpcm(2L)) == 0x02)
    // stereo interleave sanity: right channel is half amplitude by
    // construction, so the reference's per-channel decode must show a
    // 2:1 peak ratio between channels (block-header samples are exact)
    val (samples, ch, _) = graft.tools.AdpcmReference
      .decodeSamples(AudioOps.synthWavAdpcm(1L)).get // seed 1: stereo IMA
    assert(ch == 2)
    val left = samples.indices.collect { case i if i % 2 == 0 => samples(i) }
    val right = samples.indices.collect { case i if i % 2 == 1 => samples(i) }
    assert(left.map(math.abs).max > 1.9 * right.map(math.abs).max)

    // truncated/corrupt ADPCM: null, never a throw
    val wav = AudioOps.synthWavAdpcm(3L)
    assert(feat(wav.take(40)) == null)
    for (cut <- Seq(50, wav.length / 2)) feat(wav.take(cut))
  }

  test("the audioFeatures expression evaluates identically interpreted " +
       "and codegen'd, over synthWav as a column") {
    val df = spark.range(0, 64).select(
      AudioOps.synthWav(col("id")).as("media"))
    val viaExpr = df.select(AudioOps.audioFeatures(col("media")).as("f"))
      .select("f.n_frames", "f.peak", "f.rms", "f.silence_ratio")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    val viaKernel = df.collect().map { r =>
      val f = AudioOps.features(r.getAs[Array[Byte]](0))
      (f.getLong(0), f.getDouble(2), f.getDouble(3), f.getDouble(4))
    }.toSeq
    assert(viaExpr == viaKernel)
  }
}
