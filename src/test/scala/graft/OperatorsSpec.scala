package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river shore"),
    (3L, "completely different text about training data pipelines at scale"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (5L, "spark engines compile declarative plans into distributed stages")
  ).toDF("doc_id", "text")

  test("exact dedup finds the identical pair and keeps the min id") {
    val dups = Dedup.exact(docs).collect()
    assert(dups.length == 1)
    val r = dups.head
    assert(r.getLong(r.fieldIndex("n_copies")) == 2)
    assert(r.getLong(r.fieldIndex("keep_id")) == 1)
  }

  test("minhash LSH finds near-dups, verified by exact jaccard") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 4L))) // identical: jaccard 1.0
    assert(pairs.find(p => p._1 == 1L && p._2 == 4L).get._3 == 1.0)
    assert(keys.contains((1L, 2L)) || keys.contains((2L, 4L))) // near-dup
    // doc 3 and 5 share nothing with others
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash jaccard estimate vs exact jaccard (property-ish)") {
    // identical texts share every minhash; the verified jaccard is exact
    val exact = Dedup.ngramJaccard(docs,
      Seq((1L, 2L)).toDF("id_a", "id_b")).collect().head.getDouble(2)
    assert(exact > 0.5 && exact < 1.0) // one word differs
  }

  test("connected components: transitive near-dup chains collapse to " +
       "one canonical id") {
    // chain 1-2, 2-4 plus isolated pair 7-9; 1~4 never a direct pair
    val pairs = Seq((1L, 2L), (2L, 4L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
    // longer chain needing multiple propagation rounds
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c2 = Dedup.components(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(i => c2(i) == 1L))
  }

  test("components: pointer jumping converges chains far beyond the " +
       "round budget (O(log diameter), not O(diameter))") {
    // diameter 59 — min-label-only propagation would need 59 rounds and
    // previously returned silently-wrong labels past maxIter
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val c = Dedup.components(chain, maxIter = 10).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 60L).forall(i => c(i) == 1L))
  }

  test("components: ids keep their native type (string doc ids work)") {
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val c = Dedup.components(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(c == Map("doc-a" -> "doc-a", "doc-b" -> "doc-a",
      "doc-c" -> "doc-a", "x" -> "x", "y" -> "x"))
  }

  test("components: refuses to return non-converged labels (throws at " +
       "maxIter instead of under-deleting downstream)") {
    val chain = (1L until 4L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.components(chain, maxIter = 1)
    }
  }

  test("cache lifecycle: operators release every intermediate; result " +
       "caches are registry-owned and freed by releaseCaches()") {
    Dedup.releaseCaches() // start from a known state
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    Dedup.minhashLsh(docs, threshold = 0.5).count()
    Dedup.simhashDedup(docs, maxHamming = 16).count()
    Dedup.embeddingNearDup(vecs).count()
    Dedup.components(Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")).count()
    Dedup.dedupCorpus(docs, threshold = 0.5).count()
    Dedup.releaseCaches()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before,
      s"leaked persistent RDDs: ${after -- before}")
  }

  test("dedupCorpus: exact + near-dup clustering -> keep/duplicate_of " +
       "decision table") {
    val out = Dedup.dedupCorpus(docs, threshold = 0.5).collect()
      .map(r => r.getLong(r.fieldIndex("doc_id")) ->
        (r.getBoolean(r.fieldIndex("keep")),
         if (r.isNullAt(r.fieldIndex("duplicate_of"))) -1L
         else r.getLong(r.fieldIndex("duplicate_of")))).toMap
    assert(out.size == 5)
    assert(out(1L) == ((true, -1L)))   // canonical of {1, 2, 4}
    assert(out(4L) == ((false, 1L)))   // exact dup of 1
    assert(out(2L) == ((false, 1L)))   // near-dup of 1
    assert(out(3L) == ((true, -1L)))   // unique
    assert(out(5L) == ((true, -1L)))   // unique
  }

  test("bucket-cap diagnostics: dropped buckets are counted, not silent") {
    // maxBucket=2 forces the 3-doc near-dup cluster {1,2,4} to be dropped
    // wherever all three share a band bucket; with a huge cap nothing is
    val strict = Dedup.minhashBucketStats(docs, maxBucket = 2).collect().head
    val loose = Dedup.minhashBucketStats(docs, maxBucket = 1000)
      .collect().head
    def f(r: org.apache.spark.sql.Row, n: String) = r.getLong(r.fieldIndex(n))
    assert(f(loose, "dropped_buckets") == 0 && f(loose, "dropped_rows") == 0)
    assert(f(loose, "kept_buckets") > 0)
    assert(f(strict, "dropped_buckets") > 0)
    // every dropped bucket had > maxBucket members
    assert(f(strict, "dropped_rows") > 2 * f(strict, "dropped_buckets"))
    // the cap is enforced in the operator: pairs from oversized buckets
    // only appear if another (small) bucket also produced them
    val capped = Dedup.minhashLsh(docs, threshold = 0.0, maxBucket = 2)
    assert(capped.count() <= Dedup.minhashLsh(docs, threshold = 0.0).count())
    // simhash + embedding variants expose the same diagnostics shape
    assert(Dedup.simhashBucketStats(docs).columns.toSeq ==
      Seq("n_buckets", "kept_buckets", "dropped_buckets", "dropped_rows"))
  }

  test("hamming pigeonhole: chunk count derives from maxHamming and the " +
       "chunk partition covers all 64 bits exactly once") {
    for (mh <- 0 to 70) {
      val c = Dedup.hammingChunks(mh)
      assert(c == math.min(mh + 1, 64))
      val covered = Dedup.chunkBounds(c).flatMap { case (off, mask) =>
        (0 until 64).filter(b =>
          b >= off && ((mask >>> (b - off)) & 1L) == 1L)
      }
      assert(covered.sorted == (0 until 64), s"chunks=$c")
    }
  }

  test("hamming pigeonhole: maxHamming > 3 keeps full recall (bits spread " +
       "across all four 16-bit quarters would defeat a fixed 4-chunk split)") {
    // sigs differ in exactly 4 bits, one per 16-bit quarter: the classic
    // 4x16 scheme has no matching chunk; the derived 5-chunk scheme must
    // still pair them (recall guaranteed for hamming <= maxHamming)
    val sigs = Seq((1L, 0x0001000100010001L), (2L, 0L)).toDF("id", "sig")
    val pairs = Dedup.hammingDedup(sigs, maxHamming = 4, maxBucket = 10)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getInt(pairs.head.fieldIndex("hamming")) == 4)
    // and the bound is still enforced: the same sigs at maxHamming=3 drop
    assert(Dedup.hammingDedup(sigs, maxHamming = 3, maxBucket = 10)
      .collect().isEmpty)
  }

  test("simhash: identical text -> hamming 0, near text -> small hamming") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simhash64(col("text")).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < 16) // one-word change
    assert(ham(sigs(1L), sigs(3L)) > ham(sigs(1L), sigs(2L)))
  }

  test("native MinHashSig expression is bit-identical to the HOF " +
       "reference implementation") {
    val sh = docs.select(Dedup.shingles(col("text")).as("sh"))
    val mismatch = sh.select(
        Dedup.minhashSignatureFromShingles(col("sh"), 64).as("hof"),
        graft.expressions.MinHashSig.minhashSig(col("sh"), 64).as("native"))
      .where(to_json(col("hof")) =!= to_json(col("native"))).count()
    assert(mismatch == 0)
  }

  test("native SimHash64 expression is bit-identical to the HOF " +
       "reference implementation") {
    val texts = docs.select("text")
      .unionAll(Seq("", "  ", "ONE", "Mixed   CASE\ttabs\nnewlines",
        "unicode Ä ö ü tokens repeated tokens").toDF("text"))
    val mismatch = texts.select(
        Dedup.simhash64(col("text")).as("hof"),
        graft.expressions.SimHash64.simhash64(col("text")).as("native"))
      .where(col("hof") =!= col("native")).count()
    assert(mismatch == 0)
  }

  test("native DotProduct + SignSketch are bit-identical to the HOF " +
       "reference implementations") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val vecs = Seq(
      (1L, Array(0.5, -1.25, 3.0, 0.0), Array(1.0, 2.0, -0.5, 4.0)),
      (2L, Array(-0.1, -0.2, -0.3, -0.4), Array(0.9, 0.8, 0.7, 0.6)),
      (3L, Array(1e-9, 1e9, -1e-9, -1e9), Array(1e9, 1e-9, -1e9, -1e-9)),
      (4L, Array(0.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.0)))
      .toDF("id", "a", "b")
      .select(col("id"), col("a").cast(ArrayType(DoubleType)).as("a"),
        col("b").cast(ArrayType(DoubleType)).as("b"))
    val dotMismatch = vecs.select(
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .where(!(col("native") <=> col("hof"))).count()
    assert(dotMismatch == 0)
    val sketchMismatch = vecs.select(
        graft.expressions.VectorOps.signSketchCol(col("a"), 16).as("native"),
        Dedup.signSketchHof(col("a"), 16).as("hof"))
      .where(!(col("native") <=> col("hof"))).count()
    assert(sketchMismatch == 0)
    // length-mismatch and null-element propagation parity
    val edge = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(col("a").cast(ArrayType(DoubleType)).as("a"),
        col("b").cast(ArrayType(DoubleType)).as("b"))
    val e = edge.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect().head
    assert(e.isNullAt(0) && e.isNullAt(1))
  }

  test("simhash dedup pairs identical and near docs") {
    val pairs = Dedup.simhashDedup(docs, maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("embedding near-dup finds identical vectors") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 0.2f, 0.9f, -0.5f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(vecs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(math.abs(pairs.head._3 - 1.0) < 1e-9)
  }

  test("brute-force top-k: exact cosine ordering with tiebreak") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val queries = Seq((100L, Array(1.0f, 0.0f))).toDF("query_id", "qvec")
    val got = Similarity.bruteForceTopK(corpus, queries, k = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("IVF top-k finds the exact-match neighbor (same cell by " +
       "construction) and never beats brute force") {
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = Seq((0L, Array.tabulate(8)(j => ((21 + j * 3) % 11 - 5).toFloat)))
      .toDF("query_id", "qvec") // == corpus vector i=3
    val ivf = Similarity.ivfTopK(corpus, queries, k = 5)
      .orderBy("rank").collect()
    assert(ivf.nonEmpty)
    assert(ivf.head.getLong(1) == 3L) // rank 1 = its own duplicate
    assert(math.abs(ivf.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("margin-guided multi-probe: first cell is the sign-sketch cell, " +
       "cells are distinct, count = min(nprobe, 2^bits), and the probe " +
       "set expands by lowest flip margin first") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import graft.expressions.VectorOps
    val vec = new GenericArrayData(
      Array(0.9, -0.4, 0.05, 0.7, -0.02, 0.3, -0.8, 0.15))
    val base = VectorOps.signSketch(vec, 6)
    val cells = VectorOps.multiProbeCells(vec, 6, 8).toLongArray()
    assert(cells.length == 8)
    assert(cells(0) == base)
    assert(cells.distinct.length == 8)
    // every probed cell differs from base only in hyperplane bits; with
    // nprobe = 2^bits the probe set is the whole cell space
    assert(VectorOps.multiProbeCells(vec, 3, 100).toLongArray()
      .sorted.toSeq == (0L until 8L).toSeq.map(c => c ^ 0L).sorted
      .map(identity)) // 2^3 distinct cells exactly
    // degenerate inputs follow the signSketch convention: single cell 0
    assert(VectorOps.multiProbeCells(null, 6, 4).toLongArray().toSeq ==
      Seq(0L))
    // expression surface == kernel, codegen'd
    val df = spark.range(4).select(
      org.apache.spark.sql.functions.transform(
        org.apache.spark.sql.functions.sequence(lit(0), lit(7)),
        j => (j.cast("double") - 3.5d) * (col("id") + 1)).as("v"))
    val viaExpr = df.select(
      VectorOps.multiProbeCellsCol(col("v"), 6, 4).as("cells"))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val viaKernel = df.collect().map { r =>
      VectorOps.multiProbeCells(new GenericArrayData(
        r.getSeq[Double](0).toArray), 6, 4).toLongArray().toSeq
    }.toSeq
    assert(viaExpr == viaKernel)
  }

  test("IVF recall on CLUSTERED embeddings (the realistic regime): " +
       "recall@10 >= 0.9 at bits=6 nprobe=4 vs brute force") {
    // 16 tight clusters x 40 members, 32-dim: centers from splitmix-ish
    // hashing, members = center + small deterministic noise. Queries are
    // held-out members of 8 clusters.
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def unit(seed: Long, d: Int): Array[Double] = {
      val v = Array.tabulate(d)(j =>
        (mix(seed * 131 + j).toDouble / Long.MaxValue))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val d = 32
    val centers = (0 until 16).map(c => unit(c * 7919L + 13, d))
    def member(c: Int, m: Int): Array[Float] = {
      val noise = unit(c * 104729L + m * 31 + 7, d)
      centers(c).zip(noise).map { case (a, b) => (a + 0.15 * b).toFloat }
    }
    val corpus = (for (c <- 0 until 16; m <- 0 until 40)
      yield ((c * 40 + m).toLong, member(c, m))).toDF("vec_id", "embedding")
    val queries = (0 until 8).map(c =>
      (c.toLong, member(c, 1000 + c))).toDF("query_id", "qvec")
    val bf = Similarity.bruteForceTopK(corpus, queries, k = 10)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(corpus, queries, k = 10,
        bits = 6, nprobe = 4)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf & ivf).size.toDouble / bf.size
    assert(recall >= 0.9, s"clustered recall@10 = $recall")
  }

  test("language id picks each profile language; 'und' for no hits") {
    val got = Seq(
      "the cat is on the mat and this is fine",
      "le chat est dans la maison pour une heure",
      "der hund ist in den garten mit der katze",
      "el gato es un animal y la casa es grande",
      "zzz qqq xxx").toDF("text")
      .select(TextAnalysis.languageId(col("text"))).as[String].collect()
    assert(got.toSeq == Seq("en", "fr", "de", "es", "und"))
  }

  test("token counting: whitespace and pretokenizer regex") {
    val r = Seq("Hello world, it's 2026!").toDF("text").select(
      TextAnalysis.tokenCountWs(col("text")),
      TextAnalysis.tokenCountPretok(col("text"))).as[(Int, Int)].head()
    assert(r._1 == 4)
    // Hello | world | , | it | 's | 202 | 6 | !  (digit runs cap at 3,
    // cl100k-style)
    assert(r._2 == 8)
  }

  test("quality signals: clean english text scores higher than junk") {
    val rows = Seq(
      "The quick brown fox jumps over the lazy dog. " * 10,
      "@@@@ #### $$$$ %%%% ^^^^ &&&& **** (((( )))) !!!!").toDF("text")
      .select(TextAnalysis.qualitySignals(col("text")).as("q"))
      .select("q.quality_score").as[Double].collect()
    assert(rows(0) > rows(1))
    assert(rows(0) >= 0.8)
    assert(rows(1) <= 0.4)
  }

  test("fingerprint: shared passages share fingerprint hashes; disjoint " +
       "texts don't") {
    val fps = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5,
      "PREFIX " + "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5,
      "totally unrelated content with none of those tokens present here ok " * 5
    ).toDF("text").select(TextAnalysis.fingerprint(col("text")))
      .as[Seq[Long]].collect()
    assert(fps(0).intersect(fps(1)).nonEmpty)
    assert(fps(0).intersect(fps(2)).isEmpty)
  }

  test("multimodal pipeline: stub decode round-trips the header; " +
       "features + frame sampling have production shape") {
    val out = Multimodal.pipeline(docs).cache()
    assert(out.where(!col("decode_ok")).count() == 0)
    val r = out.where(col("media_meta.format") === "vid")
      .select(col("features"), col("sampled_frames"),
        col("media_meta.n_frames")).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      assert(row.getSeq[Float](0).length == 16)
      val frames = row.getSeq[Int](1)
      val n = row.getInt(2)
      assert(frames.head == 0 && frames.forall(_ < n))
    }
    out.unpersist()
  }

  test("multimodal decode: REAL files (PNG/GIF/BMP headers) decode " +
       "natively; unknown bytes fall through to the stub") {
    import java.util.Base64
    // genuine 1x1 transparent PNG and 1x1 GIF89a files
    val png1x1 = Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhf" +
      "DwAChwGA60e6kgAAAABJRU5ErkJggg==")
    val gif1x1 = Base64.getDecoder.decode(
      "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    // crafted headers with non-trivial dimensions
    val png640 = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A,
      0x1A, 0x0A, 0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80.toByte, 0, 0, 0x01, 0xE0.toByte) // 640 x 480
    val bmp = "BM".getBytes ++ Array.fill[Byte](16)(0) ++
      Array[Byte](0x20, 0x03, 0, 0) ++ Array[Byte](0x58, 0x02, 0, 0)
      // LE 800 x 600 at offsets 18/22
    // top-down BMP: height stored NEGATIVE (-600 = A8 FD FF FF LE); the
    // high 0xFF bytes overflowed the old Int assembly under ANSI mode
    val bmpTopDown = "BM".getBytes ++ Array.fill[Byte](16)(0) ++
      Array[Byte](0x20, 0x03, 0, 0) ++
      Array[Byte](0xA8.toByte, 0xFD.toByte, 0xFF.toByte, 0xFF.toByte)
    // minimal JPEG: SOI + APP0(JFIF) + SOF0 with 1024 x 768
    val jpeg = Array[Byte](0xFF.toByte, 0xD8.toByte,
        0xFF.toByte, 0xE0.toByte, 0, 16) ++
      "JFIF".getBytes ++ Array.fill[Byte](10)(0) ++
      Array[Byte](0xFF.toByte, 0xC0.toByte, 0, 17, 8,
        0x03, 0x00, 0x04, 0x00, 3) ++ Array.fill[Byte](9)(0)
    // JPEG that ends (EOI) before any SOF -> undecodable -> null
    val jpegNoSof = Array[Byte](0xFF.toByte, 0xD8.toByte,
      0xFF.toByte, 0xD9.toByte)
    val junk = "definitely not an image".getBytes
    val rows = Seq(("png1", png1x1), ("gif1", gif1x1), ("png640", png640),
        ("bmp", bmp), ("bmpTopDown", bmpTopDown), ("jpeg", jpeg),
        ("jpegNoSof", jpegNoSof), ("junk", junk))
      .toDF("name", "media")
      .withColumn("m", Multimodal.decode(col("media")))
      .select(col("name"), col("m.format"), col("m.width"), col("m.height"))
      .collect().map(r => r.getString(0) ->
        (r.getString(1), if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3))).toMap
    assert(rows("png1") == (("png", 1, 1)))
    assert(rows("gif1") == (("gif", 1, 1)))
    assert(rows("png640") == (("png", 640, 480)))
    assert(rows("bmp") == (("bmp", 800, 600)))
    assert(rows("bmpTopDown") == (("bmp", 800, 600))) // abs(negative height)
    assert(rows("jpeg") == (("jpeg", 1024, 768)))     // SOF segment walk
    assert(rows("jpegNoSof") == ((null, -1, -1)))
    assert(rows("junk") == ((null, -1, -1))) // not GRFT either -> null
  }

  test("JPEG dims: SOF walk skips APPn/quantization segments and resyncs " +
       "over entropy-coded data; real 1x1 JPEG decodes") {
    import java.util.Base64
    // genuine minimal 1x1 baseline JPEG (quality irrelevant)
    val jpg1x1 = Base64.getDecoder.decode(
      "/9j/4AAQSkZJRgABAQEAYABgAAD/2wBDAAgGBgcGBQgHBwcJCQgKDBQNDAsLDBkS" +
      "Ew8UHRofHh0aHBwgJC4nICIsIxwcKDcpLDAxNDQ0Hyc5PTgyPC4zNDL/wAALCAAB" +
      "AAEBAREA/8QAFAABAAAAAAAAAAAAAAAAAAAACf/EABQQAQAAAAAAAAAAAAAAAAAA" +
      "AAD/2gAIAQEAAD8AKp//2Q==")
    val got = Seq(Tuple1(jpg1x1)).toDF("media")
      .select(Multimodal.decode(col("media")).as("m"))
      .select("m.format", "m.width", "m.height").collect().head
    assert(got.getString(0) == "jpeg")
    assert(got.getInt(1) == 1 && got.getInt(2) == 1)
  }

  private def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()

  test("multimodal decode: REAL WAV containers — RIFF chunk walk finds " +
       "fmt/data past foreign chunks; n_samples null without data chunk") {
    // canonical PCM WAV: 2 ch, 44100 Hz, 16-bit, data declares 44100
    // samples (1000 ms); payload truncated after the header (metadata scan)
    val fmtChunk = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++
      le32(44100) ++ le32(176400) ++ le16(4) ++ le16(16)
    val dataChunk = "data".getBytes ++ le32(176400)
    val wav = "RIFF".getBytes ++ le32(36 + 176400) ++ "WAVE".getBytes ++
      fmtChunk ++ dataChunk
    // a LIST chunk precedes fmt — the walk must skip it (odd size: padded)
    val wavList = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++
      ("LIST".getBytes ++ le32(5) ++ "INFOx\u0000".getBytes) ++
      fmtChunk ++ dataChunk
    val wavNoData = "RIFF".getBytes ++ le32(0) ++ "WAVE".getBytes ++ fmtChunk
    val junk = "RIFFnot actually wave".getBytes

    val rows = Seq(("wav", wav), ("wavList", wavList),
        ("wavNoData", wavNoData), ("junk", junk))
      .toDF("name", "media")
      .withColumn("m", Multimodal.decodeWav(col("media")))
      .select(col("name"), col("m.channels"), col("m.sample_rate"),
        col("m.bits_per_sample"), col("m.n_samples"), col("m.duration_ms"))
      .collect().map(r => r.getString(0) -> r).toMap
    for (k <- Seq("wav", "wavList")) {
      val r = rows(k)
      assert(r.getInt(1) == 2 && r.getInt(2) == 44100 && r.getInt(3) == 16)
      assert(r.getLong(4) == 44100L && r.getLong(5) == 1000L)
    }
    val nd = rows("wavNoData")
    assert(nd.getInt(2) == 44100 && nd.isNullAt(4) && nd.isNullAt(5))
    assert(rows("junk").isNullAt(1) && rows("junk").isNullAt(2))
  }

  test("multimodal decode: REAL MP4 containers — box walk to mvhd " +
       "duration and first visual tkhd; v1 full boxes; audio-only null w/h") {
    def box(typ: String, payload: Array[Byte]) =
      be32(8 + payload.length) ++ typ.getBytes ++ payload
    // mvhd v0: timescale 1000, duration 5000 -> 5000 ms
    val mvhd = box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
      be32(1000) ++ be32(5000) ++ Array.fill[Byte](80)(0))
    // tkhd v0: width/height 16.16 fixed at payload offsets 76/80
    val tkhdV = box("tkhd", Array[Byte](0, 0, 0, 0) ++
      Array.fill[Byte](72)(0) ++ be32(1920 << 16) ++ be32(1080 << 16))
    val tkhdA = box("tkhd", Array[Byte](0, 0, 0, 0) ++ Array.fill[Byte](80)(0))
    val ftyp = box("ftyp", "isom".getBytes ++ be32(0))
    val mp4 = ftyp ++ box("moov", mvhd ++ box("trak", tkhdV) ++
      box("trak", tkhdA))
    // v1 variant: 64-bit times shift width/height to offsets 88/92
    val mvhdV1 = box("mvhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](16)(0) ++ be32(600) ++ be32(0) ++ be32(3000) ++
      Array.fill[Byte](80)(0))
    val tkhdV1 = box("tkhd", Array[Byte](1, 0, 0, 0) ++
      Array.fill[Byte](84)(0) ++ be32(640 << 16) ++ be32(480 << 16))
    val mp4V1 = ftyp ++ box("moov", mvhdV1 ++ box("trak", tkhdV1))
    val audioOnly = ftyp ++ box("moov", mvhd ++ box("trak", tkhdA))
    val junk = be32(16) ++ "mdat".getBytes ++ Array.fill[Byte](8)(0)

    val rows = Seq(("mp4", mp4), ("mp4V1", mp4V1),
        ("audioOnly", audioOnly), ("junk", junk))
      .toDF("name", "media")
      .withColumn("m", Multimodal.decodeMp4(col("media")))
      .select(col("name"), col("m.width"), col("m.height"),
        col("m.duration_ms"), col("m.n_tracks"))
      .collect().map(r => r.getString(0) -> r).toMap
    val m = rows("mp4")
    assert(m.getInt(1) == 1920 && m.getInt(2) == 1080)
    assert(m.getLong(3) == 5000L && m.getInt(4) == 2)
    val v1 = rows("mp4V1")
    assert(v1.getInt(1) == 640 && v1.getInt(2) == 480)
    assert(v1.getLong(3) == 5000L && v1.getInt(4) == 1) // 3000/600 ticks*1000
    val ao = rows("audioOnly")
    assert(ao.isNullAt(1) && ao.isNullAt(2) && ao.getInt(4) == 1)
    assert(rows("junk").isNullAt(3) && rows("junk").isNullAt(4))
  }

  test("PNG pixel decode: real IDAT inflate + all five filter types " +
       "reconstruct the exact raster; bombs and interlace return null") {
    import java.util.zip.{CRC32, Deflater}
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(12 + payload.length)
      bb.putInt(payload.length)
      bb.put(typ.getBytes("US-ASCII")); bb.put(payload)
      val crc = new CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(payload)
      bb.putInt(crc.getValue.toInt)
      bb.array()
    }
    def ihdr(w: Int, h: Int, colorType: Int, interlace: Int) = {
      val bb = java.nio.ByteBuffer.allocate(13)
      bb.putInt(w).putInt(h).put(8.toByte).put(colorType.toByte)
        .put(0.toByte).put(0.toByte).put(interlace.toByte)
      chunk("IHDR", bb.array())
    }
    val sig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
      .map(_.toByte)
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new Deflater(); d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 128)
      val m = d.deflate(buf); d.end(); buf.take(m)
    }
    def png(w: Int, h: Int, colorType: Int, filtered: Array[Byte],
            interlace: Int = 0): Array[Byte] =
      sig ++ ihdr(w, h, colorType, interlace) ++
        chunk("IDAT", deflate(filtered)) ++ chunk("IEND", Array.empty)

    // 3x5 RGB raster, deterministic; rows 0..4 use filters None, Sub,
    // Up, Average, Paeth respectively (filtering applied FORWARD here,
    // the decoder must invert it)
    val w = 3; val h = 5; val bpp = 3; val stride = w * bpp
    val raster = Array.tabulate(stride * h)(i => ((i * 37 + 11) % 256).toByte)
    def u(x: Byte) = x & 0xFF
    val filtered = new Array[Byte]((stride + 1) * h)
    for (y <- 0 until h) {
      val f = y % 5
      filtered(y * (stride + 1)) = f.toByte
      for (x <- 0 until stride) {
        val cur = u(raster(y * stride + x))
        val a = if (x >= bpp) u(raster(y * stride + x - bpp)) else 0
        val b = if (y > 0) u(raster((y - 1) * stride + x)) else 0
        val c = if (y > 0 && x >= bpp) u(raster((y - 1) * stride + x - bpp))
                else 0
        val pred = f match {
          case 0 => 0
          case 1 => a
          case 2 => b
          case 3 => (a + b) >> 1
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b)
            val pc = math.abs(p - c)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
        }
        filtered(y * (stride + 1) + 1 + x) = ((cur - pred) & 0xFF).toByte
      }
    }
    val crafted = png(w, h, 2, filtered)

    // an INDEPENDENT encoder: the JDK's own ImageIO PNG writer
    val img = new java.awt.image.BufferedImage(13, 7,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 13)
      img.setRGB(x, y, ((x * 31 + y * 7) % 256) << 16 |
        ((x * 13 + y * 3) % 256) << 8 | ((x + y * 29) % 256))
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", baos))
    val imageioPng = baos.toByteArray
    val imageioRaster = (for (y <- 0 until 7; x <- 0 until 13;
                              ch <- Seq(16, 8, 0))
      yield ((img.getRGB(x, y) >> ch) & 0xFF).toByte).toArray

    // negatives: Adam7 interlace, truncated IDAT, decompression bomb
    val interlaced = png(w, h, 2, filtered, interlace = 1)
    val truncated = crafted.dropRight(30)
    val bombIhdr = ihdr(1 << 20, 1 << 20, 2, 0)
    val bomb = sig ++ bombIhdr ++ chunk("IDAT", deflate(Array[Byte](0))) ++
      chunk("IEND", Array.empty)

    val rows = Seq(("crafted", crafted), ("imageio", imageioPng),
        ("interlaced", interlaced), ("truncated", truncated),
        ("bomb", bomb))
      .toDF("name", "media")
      .select(col("name"),
        Multimodal.decodePngPixels(col("media")).as("p"))
      .select(col("name"), col("p.width"), col("p.height"),
        col("p.channels"), col("p.pixels"),
        sha2(col("p.pixels"), 256).as("pix_sha"))
      .collect().map(r => r.getString(0) -> r).toMap

    def sha256hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map("%02x".format(_)).mkString

    val c = rows("crafted")
    assert((c.getInt(1), c.getInt(2), c.getInt(3)) == ((3, 5, 3)))
    assert(c.getAs[Array[Byte]](4).toSeq == raster.toSeq)
    assert(c.getString(5) == sha256hex(raster)) // the pixel checksum seam
    val i2 = rows("imageio")
    assert((i2.getInt(1), i2.getInt(2), i2.getInt(3)) == ((13, 7, 3)))
    assert(i2.getAs[Array[Byte]](4).toSeq == imageioRaster.toSeq)
    assert(rows("interlaced").isNullAt(1))
    assert(rows("truncated").isNullAt(1))
    assert(rows("bomb").isNullAt(1))
    // adversarial kernels, called directly (the codegen path invokes the
    // same static): a forged IHDR whose (w*ch+1)*h wraps Long negative
    // must not sneak past the bomb cap into a NegativeArraySizeException,
    // and an FDICT zlib header (inflate()==0 with needsDictionary) must
    // return null, not spin the executor task forever
    val overflow = sig ++ ihdr(0x40000000, 0x80000000, 6, 0) ++
      chunk("IDAT", deflate(Array[Byte](0))) ++ chunk("IEND", Array.empty)
    assert(graft.expressions.PngPixels.pixels(overflow) == null)
    val fdictZlib = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 0, 0, 0, 0)
    val fdict = sig ++ ihdr(w, h, 2, 0) ++
      chunk("IDAT", fdictZlib) ++ chunk("IEND", Array.empty)
    assert(graft.expressions.PngPixels.pixels(fdict) == null)
  }

  test("PII scrubbing: each category detected and redacted; clean text " +
       "untouched") {
    val dirty = "reach me at jane.q+spam@mail.example.org from " +
      "10.0.255.3, ssn 987-65-4320, card 4111-1111-1111-1111, " +
      "call +1 (415) 555-2671 please"
    val df = Seq((1L, dirty), (2L, "a perfectly clean sentence"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df).collect()
      .map(r => r.getLong(0) -> r).toMap
    val p1 = out(1L).getStruct(out(1L).fieldIndex("pii"))
    assert((0 to 4).map(p1.getInt).sum >= 5) // every category hit
    val red = out(1L).getString(out(1L).fieldIndex("text_redacted"))
    for (tok <- Seq("<EMAIL>", "<IP>", "<SSN>", "<CARD>", "<PHONE>"))
      assert(red.contains(tok), s"$tok missing in: $red")
    for (leak <- Seq("example.org", "987-65", "4111", "555-2671"))
      assert(!red.contains(leak), s"leaked $leak in: $red")
    val p2 = out(2L).getStruct(out(2L).fieldIndex("pii"))
    assert((0 to 4).map(p2.getInt).sum == 0)
    assert(out(2L).getString(out(2L).fieldIndex("text_redacted")) ==
      "a perfectly clean sentence")
  }

  test("decontamination: docs sharing a 13-gram with the benchmark are " +
       "flagged; shorter-than-n docs match on whole text; clean docs " +
       "pass") {
    val window = "one two three four five six seven eight nine ten " +
      "eleven twelve thirteen"
    val train = Seq(
      (10L, s"prefix words then $window and a tail"), // shares the window
      (11L, "totally unrelated words that overlap with nothing at all " +
        "in the benchmark set here"),
      (12L, "tiny doc"), // < 13 words, equals a benchmark short doc
      (13L, window)      // exactly the window
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, s"benchmark question says $window indeed"),
      (2L, "tiny doc")
    ).toDF("doc_id", "text")
    val flagged = TextAnalysis.contamination(train, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(10L, 12L, 13L))
    assert(flagged(13L) == 1L) // the single shared gram
  }

  test("repetition signals: duplicate lines and repeated n-grams " +
       "quantified; clean docs score zero") {
    val repeaty = "alpha beta gamma\nmenu item one\nmenu item one\n" +
      "menu item one\nclosing words"
    val clean = "every line here\nis entirely different\nfrom the others"
    val df = Seq((1L, repeaty), (2L, clean)).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(df).collect()
      .map(r => r.getLong(r.fieldIndex("id")) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(r1.fieldIndex("n_lines")) == 5)
    // 5 lines, 3 distinct -> dup_line_frac = 1 - 3/5
    assert(r1.getDouble(r1.fieldIndex("dup_line_frac")) == 0.4)
    // "menu item one" x3 = 39 chars of 16+39+13=68 total line chars
    assert(r1.getDouble(r1.fieldIndex("dup_line_char_frac")) ==
      math.round(39.0 / 68.0 * 1e6) / 1e6)
    // 14 tokens -> 12 3-grams; "menu item one" occurs 3x (the max)
    assert(r1.getLong(r1.fieldIndex("n_grams")) == 12)
    assert(r1.getDouble(r1.fieldIndex("top_gram_frac")) == 0.25)
    val r2 = out(2L)
    assert(r2.getDouble(r2.fieldIndex("dup_line_frac")) == 0.0)
    assert(r2.getDouble(r2.fieldIndex("dup_gram_frac")) == 0.0)
  }

  test("components: a failing job releases every intermediate cache " +
       "(error-path hygiene, not just the happy path)") {
    Dedup.releaseCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // ANSI integer division by zero poisons edge materialization
    val poisoned = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
      .select((col("id_a") / (col("id_a") - col("id_a")))
        .cast("long").as("id_a"), col("id_b"))
    intercept[Exception] { Dedup.components(poisoned) }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"leaked persistent RDDs: ${after -- before}")
  }

  test("LSH pairing: a failing eager cache fill releases the persisted " +
       "signature / band rows (hamming, embedding, minhash)") {
    Dedup.releaseCaches()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // ANSI division by zero poisons the first (eager) fill of each
    val ids = spark.range(8).toDF("i")
    val boom = (col("i") / (col("i") - col("i"))).cast("long")
    val sigRows = ids.select(col("i").as("id"), boom.as("sig"))
    val vecRows = ids.select(col("i").as("id"), array(lit(1.0)).as("vec"),
      lit(1.0).as("norm"), boom.as("bucket"))
    val bandRows = ids.select(col("i").as("id"), lit(0).as("band"),
      boom.as("band_hash"))
    intercept[Exception] { Dedup.hammingDedup(sigRows, 3, 200) }
    intercept[Exception] { Dedup.embeddingNearDupFromSigs(vecRows, 0.9, 100) }
    intercept[Exception] { Dedup.minhashLshFromBands(docs, bandRows) }
    for (f <- Seq(sigRows, vecRows, bandRows))
      assert(f.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"leaked persistent RDDs: ${after -- before}")
  }

  test("stale oracle-dump dirs are reaped only when the owner is dead " +
       "AND the dir is old; fresh dumps survive for the post-mortem pass") {
    val stale = new java.io.File("/tmp/graft_oracle_tables_999999999")
    val inner = new java.io.File(stale, "t.parquet")
    inner.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(inner, "part-0.parquet").toPath, "x")
    val live = new java.io.File(
      s"/tmp/graft_oracle_tables_${ProcessHandle.current().pid()}")
    val hadLive = live.exists()
    // dead owner but FRESH dir: must survive (a reader may still come)
    SparkEntry.OracleDump.cleanStale()
    assert(stale.exists())
    // dead owner and old: reaped
    stale.setLastModified(System.currentTimeMillis() - 48L * 3600 * 1000)
    SparkEntry.OracleDump.cleanStale()
    assert(!stale.exists())
    if (hadLive) assert(live.exists()) // own dir untouched
  }
}
