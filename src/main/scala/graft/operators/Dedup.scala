package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n^2) all-pairs comparison by
  * bucketing (LSH bands / simhash chunks / centroid cells) so the only
  * joins are equi-joins on bucket keys — shuffle-partitionable, AQE-skew
  * splittable. Exact verification (Jaccard / Hamming / cosine) runs only
  * inside candidate buckets.
  *
  * Single-scan contract: each LSH variant computes its signature stage
  * EXACTLY ONCE per run. The signature frame is persisted
  * (MEMORY_AND_DISK — a few fixed-width columns per doc, orders of
  * magnitude narrower than the corpus), the bucket-size aggregate and the
  * bucket join both read the cache, candidate pairs are materialized
  * eagerly, and the signature cache is unpersisted before the operator
  * returns. The pre-fix plan re-evaluated the signature pipeline for every
  * consumer — six full corpus scans per minhash run.
  *
  * Cache lifecycle contract: every INTERMEDIATE cache (signatures,
  * candidate pairs, shingles, edges, per-round labels) is materialized
  * and unpersisted before its operator returns. The RESULT frame each
  * operator returns is itself persisted (it is always consumed more than
  * once — by the caller and, in compositions like [[dedupCorpus]], by a
  * downstream stage) and registered with the operator registry; a
  * long-lived driver releases all of them with [[releaseCaches]] when the
  * results are no longer needed. Nothing else is left cached — asserted
  * in OperatorsSpec via `sparkContext.getPersistentRDDs`.
  *
  * No silent caps: buckets larger than `maxBucket` are dropped (mass
  * duplication is [[exact]]'s job — see the per-operator notes); the
  * `*BucketStats` diagnostics report exactly how many buckets/rows the cap
  * dropped, so a run can prove the cap didn't eat real signal.
  */
object Dedup {

  /** Release actions for result caches still owned by this operator
    * family (see the cache lifecycle contract above) — DataFrame
    * unpersists for frame-level caches, RDD unpersists for the
    * lineage-truncated iterative results ([[components]]). */
  private val resultCaches =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  /** Persist + register a RESULT frame (caller-visible cache). */
  private def owned(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    resultCaches.add(() => { df.unpersist(); () })
    df
  }

  /** Release every result cache the dedup operators are still holding.
    * Call when the returned frames are no longer in use (a long-lived
    * driver that runs dedup repeatedly must, or cached blocks accumulate).
    * Unpersisting is safe at any point — frames remain correct, they just
    * recompute if consumed again. */
  def releaseCaches(): Unit = {
    var f = resultCaches.poll()
    while (f != null) { f(); f = resultCaches.poll() }
  }

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

  /** Convenience text->shingles form (tests / small frames): fine when the
    * result is consumed once, pays the per-element tokenizer re-evaluation
    * described on [[shinglesFromTokens]] otherwise. */
  def shingles(text: Column, n: Int = 3): Column =
    shinglesFromTokens(tokens(text), n)

  /** Local-parallelism guard for the expensive narrow signature stages: a
    * small parquet input (one file, one row group) arrives as a single
    * scan split, serializing per-row signature work onto one core. When
    * the scan has fewer splits than the session's parallelism, repartition
    * first — at real scale (splits >= cores) this is a no-op, so the
    * shuffle is only ever paid on inputs small enough not to care. */
  private def parallelize(df: DataFrame): DataFrame = {
    // a streaming frame can't be probed (no executable physical RDD);
    // micro-batch parallelism is the source's concern, not this guard's
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    // split count read off the internal physical RDD: `df.rdd` would
    // additionally plan a row-deserializing conversion DAG per call just
    // to read a partition count
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Exact dedup via hash-groupBy: one shuffle on the 256-bit content
    * hash; keeps the smallest id per duplicate group and a BOUNDED member
    * sample (first `memberCap` ids). An unbounded `collect_list` would
    * build an O(group size) aggregation buffer — a 10^7-copy group at
    * 100 TB is one reducer OOM — so membership is ranked with a window
    * first and only ranks <= memberCap enter the list (the window's sort
    * and the groupBy share the content_sha partitioning: one exchange).
    * The full membership is recoverable by joining the corpus back on
    * content_sha. */
  def exact(df: DataFrame, textCol: String = "text",
            idCol: String = "doc_id", memberCap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.select(sha2(col(textCol), 256).as("content_sha"),
      col(idCol).as("_id"))
    val ranked = keyed.withColumn("_rn",
      row_number().over(Window.partitionBy("content_sha").orderBy("_id")))
    ranked.groupBy("content_sha")
      .agg(count(lit(1)).as("n_copies"), min("_id").as("keep_id"),
        sort_array(collect_list(when(col("_rn") <= memberCap, col("_id"))))
          .as("member_sample"))
      .where(col("n_copies") > 1)
  }

  /** MinHash signature from a MATERIALIZED shingle array column: k hash
    * permutations approximated with seed-chained xxhash64
    * (`xxhash64(seed_i, shingle)`). The shingle argument must be an
    * attribute, not the shingles(...) expression — higher-order lambdas
    * re-evaluate their argument subtree per outer element, so an inlined
    * shingle expression would be recomputed k times per row. */
  def minhashSignatureFromShingles(sh: Column, k: Int = 64): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => xxhash64(i, s))))

  /** Convenience text->signature form (tests); production paths hoist the
    * shingle array first — see [[minhashLsh]]. */
  def minhashSignature(text: Column, k: Int = 64, shingleN: Int = 3): Column =
    minhashSignatureFromShingles(shingles(text, shingleN), k)

  /** All unordered in-bucket pairs from a collected (sorted) members
    * array: for each element x at 0-based index i, pair it with every
    * later element. `pairFn` builds the output struct — computing the
    * verification metric INSIDE the lambda keeps the flattened
    * intermediate array to scalar structs (never pairs of vectors). */
  private[operators] def bucketPairs(members: Column,
                          pairFn: (Column, Column) => Column): Column =
    explode(flatten(transform(members, (x, i) =>
      transform(slice(members, i + 2, size(members)), y => pairFn(x, y)))))

  /** Bucket-bounding stage shared by the LSH variants. `rows` is the
    * persisted signature frame; one count-only aggregate (map-side
    * partials, immune to hot buckets) finds the buckets sized in
    * [2, maxBucket]; joining it back (cache read, AQE-skew-splittable SMJ)
    * and collecting members per kept bucket bounds every aggregation
    * buffer at maxBucket elements. */
  private[graft] def boundedBucketMembers(rows: DataFrame, keys: Seq[String],
                                   member: Column, maxBucket: Int): DataFrame = {
    val keyCols = keys.map(col)
    val kept = rows.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n").between(2, maxBucket))
      .select(keyCols: _*)
    rows.join(kept, keys)
      // explicit-N repartition on the bucket keys: AQE sizes the
      // aggregate's exchange by the (small) member BYTES, but the
      // downstream cost is the QUADRATIC in-bucket pair explode —
      // size-based coalescing would serialize that explode onto one
      // task (measured at sf0.1: 125 s single-task vs ~2 s wide). A
      // user repartition with explicit numPartitions is exempt from AQE
      // coalescing, and the groupBy below reuses its hash partitioning,
      // so this costs no extra exchange.
      .repartition(rows.sparkSession.sparkContext.defaultParallelism,
        keyCols: _*)
      .groupBy(keyCols: _*)
      .agg(sort_array(collect_list(member)).as("members"))
  }

  /** Bucket-cap diagnostics row for a signature frame: total buckets,
    * kept (2..maxBucket), dropped (> maxBucket), and member rows inside
    * the dropped buckets. */
  private[operators] def bucketStatsOf(rows: DataFrame, keys: Seq[String],
                            maxBucket: Int): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        coalesce(sum(when(col("n").between(2, maxBucket), 1L)), lit(0L))
          .as("kept_buckets"),
        coalesce(sum(when(col("n") > maxBucket, 1L)), lit(0L))
          .as("dropped_buckets"),
        coalesce(sum(when(col("n") > maxBucket, col("n"))), lit(0L))
          .as("dropped_rows"))

  /** The minhash band-row frame `(id, band, band_hash)` — bucket rows
    * carry ONLY three fixed-width columns: the band explode is a x`bands`
    * fan-out, so shuffling shingle arrays through it would multiply the
    * shuffle volume by `bands`; texts re-join by id in verification. The
    * shingle array is materialized behind a Generate barrier first (same
    * plan-shape rule as Validator.validate: never hand an expensive
    * expression to a higher-order lambda). */
  private[graft] def minhashBandRows(df: DataFrame, textCol: String, idCol: String,
                              k: Int, bands: Int, shingleN: Int): DataFrame = {
    val r = k / bands
    // native fused shingle kernel feeding the native signature kernel —
    // one call per row each, no Generate barriers needed (the kernel
    // output is referenced exactly once, so CollapseProject inlining is
    // harmless); the declarative tokens->shinglesFromTokens chain stays
    // as the parity-pinned reference implementation
    parallelize(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"),
        graft.expressions.Ngrams.shinglesCol(col("text"), shingleN).as("sh"))
      // native codegen'd signature (bit-identical to
      // minhashSignatureFromShingles, the HOF reference impl)
      .select(col("id"),
        graft.expressions.MinHashSig.minhashSig(col("sh"), k).as("sig"))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_hash",
        aggregate(slice(col("sig"), col("band") * r + 1, lit(r)),
          col("band").cast(LongType), (acc, h) => xxhash64(acc, h)))
      .select("id", "band", "band_hash")
  }

  /** MinHash + LSH banding: signatures split into `bands` bands of
    * `k/bands` rows; docs sharing any band hash become candidates; each
    * candidate pair is verified with EXACT shingle Jaccard. Returns
    * verified near-dup pairs (id_a < id_b, jaccard >= threshold).
    *
    * Plan shape at scale: ONE corpus scan computes+persists band rows, one
    * count aggregate + bucket join (both cache reads), in-bucket pair
    * explode (no self-join), then the verification kernel's ONE further
    * corpus scan restricted to candidate docs. Candidate pairs are
    * materialized eagerly so the signature cache can be released here.
    *
    * Degenerate-bucket cap: a bucket of m docs yields m^2/2 candidate
    * pairs, so a near-duplicate-saturated corpus would turn pair
    * generation quadratic. Buckets beyond `maxBucket` are dropped — mass
    * duplication is exact/prefix dedup's job ([[exact]]), LSH's job is the
    * long tail (standard practice in production MinHash-LSH). The drop is
    * NOT silent: [[minhashBucketStats]] reports dropped buckets/rows. */
  def minhashLsh(df: DataFrame, textCol: String = "text",
                 idCol: String = "doc_id", k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.7, shingleN: Int = 3,
                 maxBucket: Int = 200): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    minhashLshFromBands(df,
      minhashBandRows(df, textCol, idCol, k, bands, shingleN),
      textCol, idCol, threshold, shingleN, maxBucket)
  }

  /** [[minhashLsh]]'s pairing + verification stages over an
    * externally-supplied `(id, band, band_hash)` frame — the seam that
    * lets `q_minhash_pairs` run against a DUMPED band-row table its
    * DuckDB oracle re-derives candidates from (the same-rows contract
    * as the simhash signature dump). */
  private[graft] def minhashLshFromBands(df: DataFrame, bandRows0: DataFrame,
                 textCol: String = "text", idCol: String = "doc_id",
                 threshold: Double = 0.7, shingleN: Int = 3,
                 maxBucket: Int = 200): DataFrame = {
    val bandRows = bandRows0.persist(StorageLevel.MEMORY_AND_DISK)
    // every intermediate is finally-released so a failed job can't strand
    // it (the registry only owns `verified`)
    try {
      // eager cache fill — see hammingDedup: concurrent AQE stages would
      // otherwise race the cache and re-run the banding scan per reference
      bandRows.count()
      val candidates = boundedBucketMembers(bandRows,
          Seq("band", "band_hash"), col("id"), maxBucket)
        .select(bucketPairs(col("members"),
          (x, y) => struct(x.as("id_a"), y.as("id_b"))).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .dropDuplicates("id_a", "id_b")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val (jac, sh) =
          verifiedJaccard(df, candidates, textCol, idCol, shingleN)
        try {
          val verified = owned(jac
            .where(col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))
          // ONE materialization barrier: every reference to bandRows/
          // candidates/sh in the plan is the same persisted instance (one
          // shared InMemoryRelation each), so this single job computes
          // each exactly once and fills its cache in passing — the
          // round-3 shape (an eager count() per intermediate) serialized
          // formerly-overlapping stages and doubled fixed job latency at
          // toy scale (q_minhash_pairs 2.3s -> 4.7s). After the barrier
          // the result cache is full, so the intermediates release safely.
          verified.count()
          verified
        } finally sh.unpersist()
      } finally candidates.unpersist()
    } finally bandRows.unpersist()
  }

  /** [[minhashLsh]]'s bucket-cap diagnostics (one row): how many buckets
    * the `maxBucket` cap dropped and how many band rows they held. */
  def minhashBucketStats(df: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id", k: Int = 64,
                         bands: Int = 16, shingleN: Int = 3,
                         maxBucket: Int = 200): DataFrame =
    bucketStatsOf(minhashBandRows(df, textCol, idCol, k, bands, shingleN),
      Seq("band", "band_hash"), maxBucket)

  /** [[minhashBucketStats]] over an externally-supplied band-row frame —
    * the dumped-table seam that lets `q_lsh_bucket_stats` describe the
    * exact bucketing `q_minhash_pairs` ran with, against a DuckDB twin
    * recomputing the same stats from the same parquet. */
  private[graft] def minhashBucketStatsFromBands(bandRows: DataFrame,
                         maxBucket: Int): DataFrame =
    bucketStatsOf(bandRows, Seq("band", "band_hash"), maxBucket)

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

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Number of pigeonhole chunks that guarantees recall for Hamming
    * distance <= maxHamming over a 64-bit signature: maxHamming+1 chunks
    * partition the 64 bits, so <= maxHamming differing bits cannot touch
    * every chunk — at least one chunk matches exactly. Capped at 64
    * (1-bit chunks), i.e. full recall is guaranteed for maxHamming <= 63.
    * The trade is explicit: more chunks -> shorter chunk values -> denser
    * buckets (a c-chunk scheme has 2^(64/c) distinct values per chunk),
    * so large maxHamming costs bucket fan-in, never silent recall loss
    * (maxBucket drops stay diagnosed via the *BucketStats queries). */
  private[graft] def hammingChunks(maxHamming: Int): Int =
    math.min(math.max(maxHamming, 0) + 1, 64)

  /** (bit offset, mask) per chunk for a `chunks`-way partition of 64
    * bits: `64 % chunks` leading chunks take one extra bit so every bit
    * is covered exactly once. */
  private[graft] def chunkBounds(chunks: Int): Seq[(Int, Long)] = {
    val base = 64 / chunks; val rem = 64 % chunks
    val widths = Seq.fill(rem)(base + 1) ++ Seq.fill(chunks - rem)(base)
    widths.scanLeft(0)(_ + _).zip(widths).map { case (off, w) =>
      (off, if (w >= 64) -1L else (1L << w) - 1L)
    }
  }

  /** Chunk explode over a 64-bit signature frame `(id, sig)` — the
    * pigeonhole stage shared by every Hamming-space near-dup variant
    * (text [[simhashDedup]], image [[imageDedup]]). Chunk count derives
    * from the caller's maxHamming via [[hammingChunks]] (default 4 =
    * the classic 4x16-bit split, recall-exact for Hamming <= 3); offsets
    * and masks ride as literal arrays indexed by the exploded chunk id,
    * so the whole stage stays codegen'd with zero joins. */
  private def hammingChunkRows(sigRows: DataFrame,
                               chunks: Int = 4): DataFrame = {
    val bounds = chunkBounds(chunks)
    sigRows
      .withColumn("chunk", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("chunk_val",
        call_function("shiftrightunsigned", col("sig"),
          element_at(typedlit(bounds.map(_._1)), col("chunk") + 1))
          .bitwiseAND(
            element_at(typedlit(bounds.map(_._2)), col("chunk") + 1)))
  }

  /** Hamming-pigeonhole near-dup pairing over a signature frame
    * `(id, sig)`, duplication-proof: identical sigs collapse first
    * (within-group pairs via output-sized equi-join), the chunk explode
    * (chunk count derived from `maxHamming` so recall is guaranteed for
    * any maxHamming <= 63, [[hammingChunks]]) and bounded-bucket pair
    * explode run over DISTINCT signatures only, and the surviving sig
    * pairs expand back to member pairs through two more output-sized
    * joins. Exact Hamming verified inside the pair lambda. Same
    * cache-lifecycle shape as [[minhashLsh]]. */
  private[graft] def hammingDedup(sigRows0: DataFrame, maxHamming: Int,
                           maxBucket: Int): DataFrame = {
    val sigRows = sigRows0.persist(StorageLevel.MEMORY_AND_DISK)
    // finally: a failed job must not strand the non-registry-owned
    // intermediates
    try {
      // Materialize the signature cache EAGERLY: the downstream plan
      // references it from several AQE-materialized shuffle stages that
      // start CONCURRENTLY, and cache population is per-partition — racing
      // stages each recompute the signature projection until blocks land
      // (measured on q_image_neardup: two full ~7.7 CPU-s decode passes in
      // one "single-scan" run). One count() fills the cache once, so the
      // expensive per-row signature work truly runs once — the single-scan
      // contract this module documents. Cost: one extra job over the
      // already-cached narrow rows.
      sigRows.count()
      // Identical signatures collapse BEFORE the pigeonhole. Mass
      // duplication — the common case in web corpora, and exactly what a
      // near-dup corpus looks like — would otherwise park every member of
      // a duplicate cluster in every chunk bucket, making the in-bucket
      // explode quadratic in CLUSTER size (measured: 25 s at sf0.1 vs
      // 2 s with the collapse; at 100 TB it is the difference between
      // output-sized work and a job that never finishes). Within-group
      // pairs come from an output-sized equi-join on the signature — no
      // aggregation buffer ever holds a cluster — and the chunk machinery
      // only ever sees DISTINCT signatures, so `maxBucket` bounds
      // distinct-signature density, not duplication.
      val within = sigRows.select(col("id").as("id_a"), col("sig"))
        .join(sigRows.select(col("id").as("id_b"), col("sig")), "sig")
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
      val distinctSigs = sigRows.select(col("sig")).distinct()
      val chunkRows = hammingChunkRows(
          distinctSigs.select(col("sig").as("id"), col("sig")),
          hammingChunks(maxHamming))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // pair DISTINCT signatures (two distinct sigs always have
        // hamming >= 1, so these are disjoint from `within` by construction).
        // Native in-bucket pair generation ([[graft.expressions
        // .HammingPairs]]): members collect per bounded bucket (the cap
        // bounds both the buffer and the m^2/2 scan) and a precompiled
        // xor+popcount loop emits ONLY the surviving pairs — the join-shaped
        // r5 formulation streamed every candidate pair through SMJ row
        // machinery (measured at sf0.1: 10.4M joined rows to keep 964,
        // 200 CPU-s on a cold run); the kernel does the same scan at ~5 ns
        // per candidate, so even a full maxBucket bucket is milliseconds on
        // one task, not a straggler.
        val keys = Seq("chunk", "chunk_val")
        val sigPairs = boundedBucketMembers(chunkRows, keys, col("sig"),
            maxBucket)
          .select(explode(graft.expressions.HammingPairs.hammingPairs(
            col("members"), maxHamming)).as("p"))
          .select(col("p.sig_a"), col("p.sig_b"), col("p.hamming"))
          .dropDuplicates("sig_a", "sig_b")
        // expand sig pairs to member pairs: two output-sized equi-joins
        val cross = sigPairs
          .join(sigRows.select(col("id").as("ia"), col("sig").as("sig_a")),
            "sig_a")
          .join(sigRows.select(col("id").as("ib"), col("sig").as("sig_b")),
            "sig_b")
          .select(least(col("ia"), col("ib")).as("id_a"),
            greatest(col("ia"), col("ib")).as("id_b"), col("hamming"))
        val pairs = owned(within.unionAll(cross))
        // materialize so the caches can be freed
        pairs.count()
        pairs
      } finally chunkRows.unpersist()
    } finally sigRows.unpersist()
  }

  /** SimHash near-dup: docs are candidates when any of the
    * maxHamming+1 pigeonhole chunks of their simhash match — full
    * recall for any maxHamming <= 63 ([[hammingChunks]]); verified with
    * exact Hamming. Same single-scan shape as [[minhashLsh]]: persist
    * chunk rows, bound buckets, explode in-bucket pairs with the Hamming
    * distance computed inside the pair lambda. Cap diagnostics:
    * [[simhashBucketStats]] (pass the same maxHamming). */
  def simhashDedup(df: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id",
                   maxHamming: Int = 3, maxBucket: Int = 200): DataFrame =
    hammingDedup(
      parallelize(df.select(col(idCol).as("id"), col(textCol).as("text")))
        .select(col("id"),
          graft.expressions.SimHash64.simhash64(col("text")).as("sig")),
      maxHamming, maxBucket)

  /** Image near-dup over REAL decoded pixels: 64-bit difference hash
    * (decode -> gray 9x8 thumbnail -> per-row left<right bits,
    * [[graft.expressions.ImageOps]]) pushed through the same
    * Hamming-pigeonhole pairing as [[simhashDedup]] — chunk count
    * derives from maxHamming, so recall is exact for any
    * maxHamming <= 63 ([[hammingChunks]]). Invariant to
    * re-encoding (compression level, scanline filter) and to the
    * container FORMAT (PNG and uncompressed BMP decode to the same
    * raster) and uniform brightness shift; rows whose bytes don't decode
    * (unsupported format, corrupt, bomb-capped) are dropped before
    * bucketing — at 100 TB the signature
    * stage is one narrow codegen'd scan, and only 16-byte
    * (id, sig, chunk, chunk_val) rows ever shuffle. */
  def imageDedup(df: DataFrame, mediaCol: String = "media",
                 idCol: String = "doc_id",
                 maxHamming: Int = 0, maxBucket: Int = 200): DataFrame =
    hammingDedup(
      parallelize(df.select(col(idCol).as("id"), col(mediaCol).as("m")))
        .select(col("id"),
          graft.expressions.ImageOps.imageDHash(col("m")).as("sig"))
        .where(col("sig").isNotNull),
      maxHamming, maxBucket)

  /** [[imageDedup]]'s bucket-cap diagnostics (one row); pass the SAME
    * maxHamming/maxBucket as the dedup call so the stats describe the
    * exact bucketing the pairing ran with. */
  def imageBucketStats(df: DataFrame, mediaCol: String = "media",
                       idCol: String = "doc_id",
                       maxHamming: Int = 0, maxBucket: Int = 200): DataFrame =
    bucketStatsOf(hammingChunkRows(
      df.select(
          graft.expressions.ImageOps.imageDHash(col(mediaCol)).as("sig"))
        .where(col("sig").isNotNull)
        .distinct() // buckets hold DISTINCT sigs, like the pairing
        .select(col("sig").as("id"), col("sig")),
      hammingChunks(maxHamming)),
      Seq("chunk", "chunk_val"), maxBucket)

  /** [[simhashDedup]]'s bucket-cap diagnostics (one row); pass the SAME
    * maxHamming/maxBucket as the dedup call. */
  def simhashBucketStats(df: DataFrame, textCol: String = "text",
                         idCol: String = "doc_id",
                         maxHamming: Int = 3, maxBucket: Int = 200): DataFrame =
    bucketStatsOf(hammingChunkRows(
      parallelize(df.select(col(textCol).as("text")))
        .select(graft.expressions.SimHash64.simhash64(col("text")).as("sig"))
        .distinct() // buckets hold DISTINCT sigs, like the pairing
        .select(col("sig").as("id"), col("sig")),
      hammingChunks(maxHamming)),
      Seq("chunk", "chunk_val"), maxBucket)

  /** Exact pairwise n-gram Jaccard for a (small) candidate pair table:
    * `pairs(id_a, id_b)` joined back to texts. The scale path generates
    * `pairs` with [[minhashLsh]]; this is the verification kernel alone.
    * NOTE: both joins re-evaluate the shingle frame (two corpus scans) —
    * fine for an externally-supplied small pair table; the LSH operators
    * use [[verifiedJaccard]], which shingles only candidate docs and
    * persists that small frame (one corpus scan total). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame,
                   textCol: String = "text", idCol: String = "doc_id",
                   n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(idCol).as("id"),
        graft.expressions.Ngrams.shinglesCol(col(textCol), n).as("sh"))
    joinJaccard(sh, pairs)
  }

  /** Verification kernel for LSH candidates (`pairs` must be persisted —
    * it is referenced three times): shingle ONLY the docs that appear in
    * some candidate pair (broadcast-able semi-join), persist that small
    * frame, and join it to both pair sides — one corpus scan regardless of
    * pair count. Returns the jaccard frame AND the persisted shingle
    * cache; the caller unpersists the cache after materializing the
    * result (see the cache lifecycle contract). */
  private[operators] def verifiedJaccard(docs: DataFrame, pairs: DataFrame,
                              textCol: String, idCol: String,
                              n: Int): (DataFrame, DataFrame) = {
    val ids = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct()
    // semi-join FIRST (on the raw columns, so it can ride the scan), then
    // tokenize/shingle only the surviving candidate docs
    val sh = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .join(ids, Seq("id"), "left_semi")
      .select(col("id"),
        graft.expressions.Ngrams.shinglesCol(col("text"), n).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (joinJaccard(sh, pairs), sh)
  }

  private[operators] def joinJaccard(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(sh.withColumnRenamed("id", "id_a")
              .withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(sh.withColumnRenamed("id", "id_b")
              .withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b")))).as("jaccard"))

  /** HOF reference implementation of the random-hyperplane sign sketch
    * (parity-tested against the native codegen'd
    * [[graft.expressions.SignSketch]]). */
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

  /** The embedding sign-sketch frame `(id, vec, norm, bucket)`: random-
    * hyperplane LSH (sign sketch of `planes` pseudo-random hyperplanes,
    * derived deterministically from xxhash64 — no RNG state to ship).
    * Sketch + norm are the native codegen'd vector expressions. */
  private[graft] def embeddingSigRows(df: DataFrame, vecCol: String,
                               idCol: String, planes: Int): DataFrame = {
    import graft.expressions.VectorOps
    parallelize(df.select(col(idCol).as("id"),
        col(vecCol).cast(ArrayType(DoubleType)).as("vec")))
      .withColumn("norm", sqrt(VectorOps.dotProduct(col("vec"), col("vec"))))
      .withColumn("bucket", VectorOps.signSketchCol(col("vec"), planes))
  }

  /** Embedding-cosine near-dup: the sign sketch buckets vectors; exact
    * cosine runs within buckets only, computed INSIDE the pair lambda so
    * the exploded intermediate holds scalar triples, never vector pairs.
    * Same single-scan persist/unpersist shape as [[minhashLsh]]. Member
    * buffers hold up to `maxBucket` vectors — at production dims (~768)
    * size maxBucket accordingly (more planes => smaller buckets).
    * Cap diagnostics: [[embeddingBucketStats]]. */
  def embeddingNearDup(df: DataFrame, vecCol: String = "embedding",
                       idCol: String = "vec_id", planes: Int = 16,
                       threshold: Double = 0.99,
                       maxBucket: Int = 1000): DataFrame =
    embeddingNearDupFromSigs(embeddingSigRows(df, vecCol, idCol, planes),
      threshold, maxBucket)

  /** [[embeddingNearDup]]'s bucketing + in-pair cosine over an
    * externally-supplied `(id, vec, norm, bucket)` frame — the seam that
    * lets `q_embedding_neardup` run against a DUMPED sig table its
    * DuckDB oracle re-derives pairs from (same-rows contract as the
    * simhash/minhash dumps). */
  private[graft] def embeddingNearDupFromSigs(sigRows0: DataFrame,
                       threshold: Double,
                       maxBucket: Int): DataFrame = {
    val sigRows = sigRows0.persist(StorageLevel.MEMORY_AND_DISK)
    // finally: a failed fill or pairing job must not strand the sig cache
    try {
      // eager cache fill — see hammingDedup: concurrent AQE stages would
      // otherwise race the cache and re-run the sketch scan per reference
      sigRows.count()
      // under ANSI a zero-norm member throws at the divide
      val pairs = owned(boundedBucketMembers(sigRows, Seq("bucket"),
          struct(col("id"), col("norm"), col("vec")), maxBucket)
        .select(bucketPairs(col("members"), (x, y) => struct(
          x.getField("id").as("id_a"), y.getField("id").as("id_b"),
          (graft.expressions.VectorOps.dotProduct(
              x.getField("vec"), y.getField("vec")) /
            (x.getField("norm") * y.getField("norm"))).as("cosine"))).as("p"))
        .select(col("p.id_a"), col("p.id_b"), col("p.cosine").as("cosine"))
        .where(col("cosine") >= threshold))
      // materialize so the sig cache can be freed
      pairs.count()
      pairs
    } finally sigRows.unpersist()
  }

  /** Connected components over a near-dup pair table `(id_a, id_b)`:
    * every document gets the MINIMUM id reachable through pair edges as
    * its `component` label — the canonical representative a dedup keep/
    * drop decision needs (pairs alone under-delete transitive clusters:
    * A~B and B~C must collapse to one keeper even when A~C was never a
    * candidate). Ids keep their NATIVE orderable type (string doc ids
    * work; `min`/`least` order strings lexicographically).
    *
    * Algorithm: join-based min-label propagation WITH pointer jumping.
    * Labels start as own id; each round a node takes the min over (its
    * label, its neighbors' labels, its label's label). The neighbor term
    * alone moves a label one hop per round (O(diameter) rounds — a chain
    * of 10^6 near-identical docs would never finish); the pointer-jump
    * term `component(component(id))` halves the remaining distance each
    * round, so convergence is O(log diameter) — `maxIter = 25` covers
    * chains beyond 2^25 nodes. Convergence is detected IN the same job
    * that materializes the round (a `_changed` flag aggregated over the
    * persisted frame): one Spark job per round. If the loop somehow still
    * hits `maxIter` unconverged it THROWS rather than returning silently
    * wrong labels (non-converged labels under-delete transitive
    * duplicates downstream).
    *
    * Per-round LINEAGE TRUNCATION: round n+1's plan references round n
    * three times (neighbor join, pointer-jump self-join, base), so
    * without truncation the LOGICAL plan tree more than doubles per round
    * — persist caches the data but analysis, AQE plan-description events
    * and codegen still walk the exponentially-growing tree (observed:
    * minutes of pure driver CPU by round 10 on toy inputs). Each round is
    * therefore rebuilt over its materialized row RDD (row-copied,
    * persisted, wrapped via the same internal entry point
    * `Dataset.localCheckpoint` uses), pinning plan AND lineage at O(1),
    * while keeping ONE Spark job per round: the convergence aggregate is
    * the action that materializes the round's blocks. The returned labels
    * frame is backed by the final round's RDD cache, registered with the
    * operator registry (see the cache lifecycle contract). */
  def components(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.graft.shims
    val spark = pairs.sparkSession
    def truncated(df: DataFrame)
        : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
      // copy: codegen reuses its UnsafeRow buffer, so persisting the raw
      // iterator's references would alias every row in a partition.
      // toRdd FIRST (builds the adaptive physical plan), then the
      // partitioning-preserving wrap — the round output is
      // hash-partitioned by `id`, and carrying that into the truncated
      // plan lets next round's id-keyed joins skip re-exchanging the
      // labels side (r6: 2 of the ~6 per-round exchanges were re-shuffles
      // of the already-id-partitioned labels cache).
      val rdd = df.queryExecution.toRdd.map(_.copy())
        .persist(StorageLevel.MEMORY_AND_DISK)
      (shims.truncatedDf(df, rdd), rdd)
    }
    // edges pre-partitioned by the lookup key `b` ONCE: every round joins
    // edges to labels on b, and a bare persisted union would re-shuffle
    // the edge table EVERY round (shuffle reuse does not cross jobs) —
    // the cached partitioning makes the per-round neighbor join reuse it
    val edges = pairs.select(col("id_a").as("a"), col("id_b").as("b"))
      .unionAll(pairs.select(col("id_b").as("a"), col("id_a").as("b")))
      .repartition(spark.sparkContext.defaultParallelism, col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels: DataFrame = null
    var labelsRdd: org.apache.spark.rdd.RDD[_] = null
    var converged = false
    // error-path cache hygiene: a mid-iteration job failure (task error,
    // OOM, corrupt partition) must not strand edges + the current/next
    // round's persisted RDDs — they are not registry-owned, so a leak
    // here would be unreleasable in a long-lived driver that retries
    try {
      val init = truncated(
        edges.groupBy(col("a").as("id"))
          .agg(min("b").as("_minb"))
          .select(col("id"), least(col("id"), col("_minb")).as("component")))
      labels = init._1; labelsRdd = init._2
      labels.count() // materialize round-0 blocks
      var iter = 0
      while (!converged && iter < maxIter) {
        val viaNeighbors = edges
          .join(labels.select(col("id").as("b"),
            col("component").as("nbr_component")), Seq("b"))
          .groupBy(col("a").as("id"))
          .agg(min("nbr_component").as("nbr_component"))
        // pointer jump: my label's current label (labels self-join)
        val viaParent = labels.select(col("id").as("_pid"),
          col("component").as("parent_component"))
        // pointer-jump join FIRST, id-keyed neighbor join LAST: the round
        // then ENDS partitioned by id, which the partitioning-preserving
        // truncation carries into next round — labels re-enter their
        // id-keyed joins (and the alias-renamed b-keyed neighbor join)
        // without a fresh exchange. Same rows, same least(): the parent
        // lookup is unique per row (labels ids are unique), so join order
        // only reassociates the commutative least. (A double pointer
        // jump — two parent hops per round for ~log3 instead of log2
        // convergence — was measured SLOWER end-to-end at bench scale:
        // the extra per-round join/stage costs more than the saved
        // rounds; rejected A/B, see OPTIMIZATION_r06.md.)
        val (next, nextRdd) = truncated(
          labels.select(col("id"), col("component").as("old"))
            .join(viaParent, col("old") === col("_pid"), "left")
            .select(col("id"), col("old"),
              coalesce(col("parent_component"), col("old")).as("_jump"))
            .join(viaNeighbors, Seq("id"), "left")
            .select(col("id"),
              least(col("old"),
                coalesce(col("nbr_component"), col("old")),
                col("_jump")).as("component"),
              col("old"))
            .select(col("id"), col("component"),
              (col("component") < col("old")).as("_changed")))
        // ONE job: the full aggregate computes (and thereby persists)
        // every partition of the round's RDD and returns the changed count
        val changed =
          try next
            .agg(coalesce(sum(when(col("_changed"), 1L).otherwise(0L)),
              lit(0L)))
            .head().getLong(0)
          catch { case t: Throwable =>
            nextRdd.unpersist(blocking = false); throw t
          }
        labelsRdd.unpersist(blocking = false)
        labels = next; labelsRdd = nextRdd
        converged = changed == 0L
        iter += 1
      }
      if (!converged)
        throw new IllegalStateException(
          s"components: labels still changing after $maxIter rounds — " +
            "refusing to return non-converged (silently wrong) labels")
    } catch { case t: Throwable =>
      edges.unpersist()
      if (labelsRdd != null) labelsRdd.unpersist(blocking = false)
      throw t
    }
    edges.unpersist()
    val finalRdd = labelsRdd
    resultCaches.add(() => { finalRdd.unpersist(blocking = false); () })
    labels.select("id", "component")
  }

  /** End-to-end corpus dedup: exact dedup (content hash) THEN near-dup
    * clustering (MinHash-LSH pairs -> [[components]]), returning the
    * input with `keep` / `duplicate_of` columns — the decision table a
    * training-data pipeline filters on (`where(col("keep"))`). The
    * exact stage removes mass duplication first, so the LSH stage's
    * bucket caps only ever see the long tail. */
  /** @param pairsOf near-dup pair generator over the exact-canonical
    *        survivors, `(id_a, id_b)`-shaped; defaults to [[minhashLsh]].
    *        Injectable so the composition itself is oracle-checkable with
    *        a DETERMINISTIC pair construction (LSH banding has no DuckDB
    *        twin; its verification metric is oracled separately). */
  def dedupCorpus(df: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id", threshold: Double = 0.7,
                  maxBucket: Int = 200,
                  pairsOf: DataFrame => DataFrame = null): DataFrame = {
    val exactGroups = exact(df, textCol, idCol)
      .select(col("content_sha"), col("keep_id"))
    val withSha = df.withColumn("_sha", sha2(col(textCol), 256))
    val exactCanon = withSha
      .join(exactGroups, withSha("_sha") === exactGroups("content_sha"),
        "left")
      .withColumn("_exact_canon",
        coalesce(col("keep_id"), col(idCol)))
      .drop("content_sha", "keep_id")
    // near-dup pairs over exact-canonical docs only
    val canonDocs = exactCanon.where(col(idCol) === col("_exact_canon"))
    val pairs = Option(pairsOf).map(_(canonDocs)).getOrElse(
      minhashLsh(canonDocs, textCol, idCol,
        threshold = threshold, maxBucket = maxBucket))
    val comp = components(pairs)
    // components() materialized its labels; the pair cache is no longer
    // needed — the decision table below reads only the labels cache
    pairs.unpersist()
    exactCanon
      .join(comp.withColumnRenamed("id", "_exact_canon")
        .withColumnRenamed("component", "_near_canon"),
        Seq("_exact_canon"), "left")
      .withColumn("duplicate_of",
        when(coalesce(col("_near_canon"), col("_exact_canon")) =!= col(idCol),
          coalesce(col("_near_canon"), col("_exact_canon"))))
      .withColumn("keep", col("duplicate_of").isNull)
      .drop("_sha", "_exact_canon", "_near_canon")
  }

  /** [[embeddingNearDup]]'s bucket-cap diagnostics (one row). */
  def embeddingBucketStats(df: DataFrame, vecCol: String = "embedding",
                           idCol: String = "vec_id", planes: Int = 16,
                           maxBucket: Int = 1000): DataFrame =
    bucketStatsOf(embeddingSigRows(df, vecCol, idCol, planes),
      Seq("bucket"), maxBucket)
}
