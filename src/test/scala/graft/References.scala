package graft

import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dims.Dims
import graft.expressions.{AudioOps, JpegOps}
import graft.operators.TextAnalysis

// Reference formulations and fixture encoders that only tests call. The
// parity specs pin each native kernel against its declarative twin here;
// no production path reaches them (ReachabilitySpec).

/** Python-semantics string helpers and the declarative spellcheck: the
  * references of [[graft.expressions.TextKernels]]. */
object Wcmp2Reference {

  /** `str.strip()` — Unicode whitespace both ends ( Spark `trim` strips
    * only ASCII space, so use a regex). */
  def pyStrip(c: Column): Column =
    regexp_replace(regexp_replace(c, "^\\s+", ""), "\\s+$", "")

  /** `str.split()` (no args): split on whitespace runs, no empty tokens.
    * `''.split() == []`. */
  def pySplitWs(c: Column): Column =
    filter(split(pyStrip(c), "\\s+"), w => w =!= "")

  /** `str.capitalize()`: first char upper, rest lower; '' -> ''. */
  def pyCapitalize(c: Column): Column =
    when(length(c) === 0, c)
      .otherwise(concat(upper(substring(c, 1, 1)),
                        lower(c.substr(lit(2), length(c)))))

  /** `str.isalnum()` per Python: non-empty, all chars letter/number
    * (Unicode categories L*, N*). */
  def pyIsAlnum(c: Column): Column = c.rlike("^[\\p{L}\\p{N}]+$")

  /** Spellcheck ----------------------------------------------------------
    * Reference: pyspellchecker `SpellChecker.unknown(split_words(text))`
    * (`pywcmp/util.py:45-59`), with the vendored
    * deterministic dictionary ([[Dims.dictionary]]).
    * Tokenizer: `\w[\w']*\w|\w` (Unicode), lowercased — pyspellchecker's
    * `split_words`. Tokens that parse as a float are never spell-checked
    * (pyspellchecker `_check_if_should_check`). */
  def spellTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("(?U)\\w[\\w']*\\w|\\w"), lit(0))

  /** float-parseable per Python `float()` — checked with a REGEX, not
    * `try_cast`: a cast failure raises (and swallows) a stack-filling JVM
    * exception per token, which profiling showed dominating the hot path.
    * Python's grammar: digit groups with underscores only BETWEEN digits,
    * plus the case-insensitive inf/infinity/nan literals
    * (float() also strips whitespace, but tokenizer output has none). */
  val floatLike = {
    val d = "[0-9](?:_?[0-9])*"
    s"^[+-]?((?i:inf(?:inity)?|nan)|(?:$d(?:\\.(?:$d)?)?|\\.$d)(?:[eE][+-]?$d)?)$$"
  }

  def misspelled(text: Column): Column = {
    val toks = spellTokens(text)
    filter(toks, t =>
      !t.rlike(floatLike) && !t.isInCollection(Dims.dictionary))
  }
}

/** The declarative WIS2 topic-channel check, the reference of
  * [[graft.expressions.TopicChannelValid]], and the vendored starter
  * sub-discipline table the tests pin it with. */
object TopicReference {

  /** Vendored PARTIAL snapshot of the published `weather` sub-discipline
    * tree (public wmo-im/wis2-topic-hierarchy; partial — deployments drop
    * the full published CSVs into the dims dir). Not wired by default:
    * pass it (or a dims-dir file) explicitly to pin levels >= 8. */
  lazy val vendoredSubDisciplines: Set[String] = {
    val in = getClass.getResourceAsStream("/wis2-subtrees/sub-discipline.csv")
    require(in != null, "missing vendored sub-discipline snapshot")
    val src = Source.fromInputStream(in, "UTF-8")
    try Dims.prefixClosure(src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toVector)
    finally src.close()
  }

  /** Level-wise WIS2 topic-channel validation, the analog of
    * `th.validate(channel)` (`ets.py:476`, pywis_topics): each hierarchy
    * level is checked against that level's table, like pywis-topics
    * walking its per-level CSVs — NOT a materialized cross-product (the
    * real hierarchy has ~1e5 leaves; a level-wise check is O(depth) per
    * row and needs only the small per-level dims).
    *
    *  - levels 1-3: literal `origin|cache / a / wis2`
    *  - level 4: centre-id dim (`-test` centres allowed, as in the
    *    identifier test, `ets.py:186`)
    *  - level 5: notification type (`data|metadata|reports`)
    *  - for `data`: level 6 data-policy dim, level 7 earth-system-
    *    discipline dim; levels 8+ validated against the PUBLISHED
    *    sub-discipline table when one is loaded (`subTable`, default
    *    [[Dims.subDisciplineTable]] from the dims-dir override) and the
    *    discipline is covered by it; lowercase-kebab charset grammar
    *    otherwise (matches the published token grammar and correctly
    *    rejects the fixture-invalid `landFixed`). The WIS2 THE reserved
    *    token `experimental` opens a free-form (charset-only) subtree:
    *    the path BEFORE it must still be published.
    */
  def validTopicChannel(channel: Column,
      subTable: Option[Set[String]] = Dims.subDisciplineTable())
      : Column = {
    val t = split(channel, "/")
    val lvl = size(t)
    val kebab = "^[a-z0-9][a-z0-9-]*$"
    val rootOk = get(t, lit(0)).isInCollection(Seq("origin", "cache")) &&
      get(t, lit(1)) === "a" && get(t, lit(2)) === "wis2"
    val centre = get(t, lit(3))
    val centreOk =
      centre.isInCollection(Dims.centreIds) || centre.endsWith("-test")
    val charsetOk = forall(slice(t, lit(8), greatest(lvl - 7, lit(0))),
      tok => tok.rlike(kebab))
    val subOk = subTable match {
      case None => charsetOk
      case Some(closure) =>
        // discipline-rooted sub path: [discipline, s1, s2, ...]
        val disc = get(t, lit(6))
        // empty closure (no roots) -> nothing is covered; lit(false)
        // instead of an isInCollection over a fake sentinel element
        val covered = closure.iterator.filter(!_.contains("/")).toSeq match {
          case roots if roots.nonEmpty => disc.isInCollection(roots)
          case _ => lit(false)
        }
        val sub = slice(t, lit(7), greatest(lvl - 6, lit(0)))
        val expPos = array_position(sub, "experimental")
        val joined = concat_ws("/", sub)
        val beforeExp = concat_ws("/", slice(sub, lit(1), expPos - 1))
        val published = when(expPos > 0,
            // experimental subtree: the prefix before it must be
            // published; everything below is charset-free-form
            beforeExp.isInCollection(closure.toSeq))
          .otherwise(joined.isInCollection(closure.toSeq))
        // table validates covered disciplines; others keep the grammar
        charsetOk && when(covered, published).otherwise(lit(true))
    }
    val typeOk = when(get(t, lit(4)) === "data",
        lvl >= 7 &&
        get(t, lit(5)).isInCollection(Dims.dataPolicies) &&
        get(t, lit(6)).isInCollection(Dims.earthSystemDisciplines) && subOk)
      .when(get(t, lit(4)).isInCollection(Seq("metadata", "reports")),
        lvl >= 5 && forall(slice(t, lit(6), greatest(lvl - 5, lit(0))),
          tok => tok.rlike(kebab)))
      .otherwise(lit(false))
    rootOk && centreOk && typeOk
  }
}

object KpiReference {

  /** The pooled link set of kpi_links_health (`kpi.py:356-374`) of the
    * parsed record `rec`: record links, then per theme its concept urls
    * and scheme, then contact links — filtered to http(s). The declarative
    * reference of the [[graft.expressions.LinkPoolExpr]] kernel the
    * Validator materializes once per row (parity: OptimizationParitySpec). */
  def httpLinkPool(rec: Column): Column = {
    val hrefType = (href: Column, t: Column) =>
      struct(href.as("href"), t.as("type"))
    val props = rec.getField("properties")
    val recordLinks = transform(rec.getField("links"),
      l => hrefType(l.getField("href"), l.getField("type")))
    val themeLinks = flatten(transform(props.getField("themes"), t => concat(
      transform(filter(t.getField("concepts"),
                       c => c.getField("url").isNotNull),
                c => hrefType(c.getField("url"), lit(null).cast(StringType))),
      array(hrefType(t.getField("scheme"), lit(null).cast(StringType))))))
    val emptyContactLinks = array()
      .cast(ArrayType(graft.model.Wcmp2Schema.contactLink))
    val contactLinks = flatten(transform(props.getField("contacts"), c =>
      transform(coalesce(c.getField("links"), emptyContactLinks),
                l => hrefType(l.getField("href"), lit(null).cast(StringType)))))
    val emptyPool = array().cast(ArrayType(StructType(Seq(
      StructField("href", StringType), StructField("type", StringType)))))
    val pool = concat(
      coalesce(recordLinks, emptyPool),
      coalesce(themeLinks, emptyPool),
      coalesce(contactLinks, emptyPool))
    filter(pool, p =>
      p.getField("href").isNotNull && p.getField("href").startsWith("http"))
  }
}

/** Higher-order-function references of the dedup kernels
  * ([[graft.expressions.SimHash64]], [[graft.expressions.MinHashSig]],
  * [[graft.expressions.Ngrams]], [[graft.expressions.VectorOps]]). */
object DedupReference {

  /** Bucket-cap diagnostics (one row) of the Hamming-pigeonhole pairing
    * over a signature frame `(id, sig)`; buckets hold DISTINCT sigs, like
    * the pairing. */
  def hammingBucketStats(sigRows: DataFrame, maxHamming: Int,
                         maxBucket: Int = 200): DataFrame =
    graft.operators.Dedup.bucketStatsOf(graft.operators.Dedup.hammingChunkRows(
      sigRows.select(col("sig")).distinct()
        .select(col("sig").as("id"), col("sig")),
      graft.operators.Dedup.hammingChunks(maxHamming)),
      Seq("chunk", "chunk_val"), maxBucket)

  /** whitespace tokens, lowercased */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** distinct word n-gram shingles from a MATERIALIZED token-array
    * attribute. The lambda body references `toks` once per output shingle
    * and higher-order functions evaluate interpreted (no codegen), so an
    * inlined tokenizer expression would re-split the text per shingle —
    * measured ~40x on the bench corpus. Production paths hoist the token
    * array behind a Generate barrier first. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** MinHash signature from a MATERIALIZED shingle array column: k hash
    * permutations approximated with seed-chained xxhash64
    * (`xxhash64(seed_i, shingle)`). The shingle argument must be an
    * attribute, not the shingles(...) expression — higher-order lambdas
    * re-evaluate their argument subtree per outer element, so an inlined
    * shingle expression would be recomputed k times per row. */
  def minhashSignatureFromShingles(sh: Column, k: Int = 64): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => xxhash64(i, s))))

  /** 64-bit SimHash over whitespace tokens: per bit, sum of +1/-1 across
    * token hashes, sign gives the bit. Pure higher-order expressions —
    * one LongType column, no UDF. */
  def simhash64(text: Column): Column = {
    val toks = tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) => {
      val bitSum = aggregate(hashes, lit(0),
        (s, h) => s + when(call_function("shiftrightunsigned", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      acc.bitwiseOR(when(bitSum > 0, call_function("shiftleft", lit(1L), b))
        .otherwise(lit(0L)))
    })
  }

  /** HOF reference implementation of the random-hyperplane sign sketch
    * (parity-tested against the native codegen'd
    * [[graft.expressions.VectorOps.signSketchCol]]). */
  def signSketchHof(v: Column, planes: Int): Column =
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L),
      (acc, p) => {
        val dot = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
            x * ((pmod(xxhash64(p, i), lit(1000L)).cast(DoubleType) / 500.0) - 1.0)),
          lit(0.0d), (s, x) => s + x)
        acc.bitwiseOR(when(dot > 0, call_function("shiftleft", lit(1L), p))
          .otherwise(lit(0L)))
      })
}

object SimilarityReference {
  /** HOF reference implementation of
    * [[graft.operators.Similarity.dot]] (parity-tested). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)
}

object CurationReference {
  /** The naive exact form of [[graft.operators.Curation.tokenBudgetSample]] — one running-sum
    * window per stratum over the WHOLE corpus. Kept as the parity/oracle
    * reference; use the bucketed form at scale. */
  def tokenBudgetSampleNaive(df: DataFrame, strataCol: String,
      tokensCol: String, budgets: Map[String, Long], defaultBudget: Long,
      keyCol: String, seed: String = ""): DataFrame = {
    val h = substring(
      md5(concat(col(keyCol).cast(StringType), lit(":" + seed))), 1, 8)
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (s, b)) => when(col(strataCol) === s, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_h", h)
      .withColumn("_cum", coalesce(sum(col(tokensCol).cast("long")).over(w),
        lit(0L)))
      .where(col("_cum") < budgetCol)
      .drop("_h", "_cum")
  }
}

object TextAnalysisReference {
  /** Declarative reference implementation of
    * [[graft.operators.TextAnalysis.languageId]] over a
    * MATERIALIZED token array attribute (higher-order lambdas re-evaluate
    * inlined argument subtrees per element — see `TextAnalysis.analyze`'s Generate
    * barrier). Parity with the kernel pinned in OptimizationParitySpec. */
  def languageIdFromTokens(toks: Column): Column = {
    val scored = TextAnalysis.langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }
}

/** Encoders for media fixtures the decoders are tested on. */
object MediaFixtures {

  /** Minimal spec-valid GIF89a encoder for rasters of ≤256 distinct
    * colors (`raster` in the [[PngPixels]] RGB layout): global color
    * table from the distinct colors in first-appearance order, single
    * non-interlaced full-frame image, LZW stream of literal codes with
    * a clear code every time the table is about to grow past the
    * current code width ("uncompressed GIF" — valid LZW, no
    * compressor needed). Throws on >256 colors (encoder seam, not an
    * untrusted-input path). */
  def encodeGif(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && raster.length == w * h * 3,
      s"raster ${raster.length} != $w x $h x 3")
    val colorIdx = new java.util.LinkedHashMap[Integer, Integer]()
    val indices = new Array[Int](w * h)
    var p = 0
    while (p < w * h) {
      val c = ((raster(p * 3) & 0xFF) << 16) | ((raster(p * 3 + 1) & 0xFF) << 8) |
        (raster(p * 3 + 2) & 0xFF)
      var idx = colorIdx.get(c)
      if (idx == null) {
        require(colorIdx.size < 256, "encodeGif: more than 256 colors")
        idx = colorIdx.size
        colorIdx.put(c, idx)
      }
      indices(p) = idx
      p += 1
    }
    // color-table size: power of two >= max(2, colors)
    var tableBits = 1
    while ((1 << tableBits) < colorIdx.size) tableBits += 1
    val entries = 1 << tableBits
    val minCode = math.max(2, tableBits)
    val clear = 1 << minCode

    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16(w); le16(h)
    out.write(0x80 | (tableBits - 1)) // global table, 2^tableBits entries
    out.write(0); out.write(0)        // bg index, aspect
    val it = colorIdx.keySet().iterator()
    var written = 0
    while (it.hasNext) {
      val c = it.next().intValue()
      out.write((c >> 16) & 0xFF); out.write((c >> 8) & 0xFF); out.write(c & 0xFF)
      written += 1
    }
    while (written < entries) { out.write(0); out.write(0); out.write(0); written += 1 }
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
    out.write(minCode)
    // literal-code LZW with pre-overflow clears, packed LSB-first
    val body = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    val codeBits = minCode + 1
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeBits
      while (bitCnt >= 8) { body.write((bitBuf & 0xFF).toInt); bitBuf >>>= 8; bitCnt -= 8 }
    }
    put(clear)
    // after a clear the decoder grows its table per literal; emit a
    // clear again before table size would force a code-width bump
    var sinceClear = 0
    val budget = (1 << codeBits) - (clear + 2) - 1
    var q = 0
    while (q < indices.length) {
      put(indices(q))
      sinceClear += 1
      if (sinceClear >= budget && q != indices.length - 1) {
        put(clear); sinceClear = 0
      }
      q += 1
    }
    put(clear + 1) // end code
    if (bitCnt > 0) body.write((bitBuf & 0xFF).toInt)
    val bytes = body.toByteArray
    var o = 0
    while (o < bytes.length) {
      val len = math.min(255, bytes.length - o)
      out.write(len); out.write(bytes, o, len)
      o += len
    }
    out.write(0)    // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Re-frame an [[encodeWav]]-family WAV as WAVE_FORMAT_EXTENSIBLE
    * (0xFFFE, 40-byte fmt body, SubFormat GUID carrying the original
    * code) — for asserting the unwrap path decodes identically. */
  def wrapExtensible(wav: Array[Byte]): Array[Byte] = {
    val fmtCode = (wav(20) & 0xFF) | ((wav(21) & 0xFF) << 8)
    val bits = (wav(34) & 0xFF) | ((wav(35) & 0xFF) << 8)
    val out = new Array[Byte](wav.length + 24)
    System.arraycopy(wav, 0, out, 0, 36) // up to end of 16-byte fmt body
    // grow RIFF size + fmt size, swap tag to extensible
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    val riffSize = ((wav(4) & 0xFF) | ((wav(5) & 0xFF) << 8) |
      ((wav(6) & 0xFF) << 16) | ((wav(7) & 0xFF) << 24)) + 24
    le32(4, riffSize)
    le32(16, 40)
    le16(20, 0xFFFE)
    le16(36, 22) // cbSize
    le16(38, bits) // wValidBitsPerSample = container depth
    le32(40, 0) // dwChannelMask: unpositioned
    le16(44, fmtCode)
    System.arraycopy(AudioOps.ExtensibleGuidTail, 0, out, 46,
      AudioOps.ExtensibleGuidTail.length)
    System.arraycopy(wav, 36, out, 60, wav.length - 36)
    out
  }

  /** the 48x32 grayscale raster [[synthJpeg]] encodes: constant per 8x8
    * block, block value a pure function of (seed, block index) in
    * [16, 240) — a different mixing constant than `ImageOps.synthRaster`
    * so JPEG-group signatures cannot collide with lossless-group ones by
    * construction sharing. */
  def jpegRaster(seed: Long): Array[Byte] = {
    val out = new Array[Byte](JpegOps.W * JpegOps.H)
    val bw = JpegOps.W / 8
    var by = 0
    while (by < JpegOps.H / 8) {
      var bx = 0
      while (bx < bw) {
        val v = 16 + (((mix(seed * 0x9E3779B1L + by * bw + bx) >>> 16)
          & 0xFF).toInt * 224) / 256
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            out((by * 8 + y) * JpegOps.W + bx * 8 + x) = v.toByte
            x += 1
          }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    out
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** What [[graft.sources.RecordTable.synthesize]] is expected to fail. */
object SynthExpect {

  /** Mutation buckets (i mod 20) — FIXTURES.md §5. Buckets 0-13 pass all 12
    * ETS tests; 14-19 each fail exactly one known rule. `lang` is skewed
    * 70/10/10/10 to exercise AQE/salting on the dataset-level aggs. */
  val failingBucketRules: Map[Int, String] = Map(
    14 -> "identifier",           // bad centre id
    15 -> "identifier",           // space in local id
    16 -> "record_created_datetime", // created = "None"
    17 -> "extent_geospatial",    // lon out of range
    18 -> "data_policy",          // wmo:dataPolicy key removed
    19 -> "links")                // rel -> unknown 'download'

  /** Expected ETS-failing rows for a synthesized table of n rows (6 of
    * every 20 buckets fail exactly one test each). */
  def expectedFailing(n: Long): Long = failingBucketRules.keys.toSeq
    .map(b => n / 20 + (if (n % 20 > b) 1L else 0L)).sum
}
