package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{DatasetRules, Validator}
import graft.operators.{Curation, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.RecordTable

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` entries with an `oracleSql` twin are DuckDB-cross-checked over
  * the parquet tables in `sfDir`; entries without one (the WCMP2 constraint
  * suite over the fixture-seeded record table, and the non-SQL-expressible
  * operators) get the driver's rows-only check and are covered by the
  * ScalaTest golden suites instead.
  */
object SparkEntry {

  /** Flagship: full ETS+KPI constraint suite over a fixture-seeded
    * synthesized record table; returns the violation rows
    * `(repo, path, commit, lang, rule_id, severity, diagnostic)`. */
  def entry(spark: SparkSession): DataFrame = {
    val records = RecordTable.fixtures(spark)
      .unionAll(RecordTable.synthesize(spark, 2000))
    Validator.violations(Validator.validate(records))
  }

  // crafted canonical media containers for the q_multimodal real-decode
  // rows (same layouts as the OperatorsSpec fixtures)
  private def le16(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
  private def be32(v: Int) = java.nio.ByteBuffer.allocate(4).putInt(v).array()
  private def box(typ: String, p: Array[Byte]) =
    be32(8 + p.length) ++ typ.getBytes ++ p
  private lazy val wavSample: Array[Byte] =
    "RIFF".getBytes ++ le32(36 + 176400) ++ "WAVE".getBytes ++
      ("fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
        le32(176400) ++ le16(4) ++ le16(16)) ++
      ("data".getBytes ++ le32(176400))
  private lazy val mp4Sample: Array[Byte] =
    box("ftyp", "isom".getBytes ++ be32(0)) ++
      box("moov",
        box("mvhd", Array[Byte](0, 0, 0, 0) ++ be32(0) ++ be32(0) ++
          be32(1000) ++ be32(5000) ++ Array.fill[Byte](80)(0)) ++
        box("trak", box("tkhd", Array[Byte](0, 0, 0, 0) ++
          Array.fill[Byte](72)(0) ++ be32(1920 << 16) ++ be32(1080 << 16))))

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic engine-side tables dumped ONCE per JVM to a fixed local
    * path, so the DuckDB oracle can read the SAME parquet bytes the Spark
    * query read (the records tables are synthesized in memory and have no
    * sf-dir file otherwise). The generator is seed-free deterministic, so
    * re-writing on a fresh JVM reproduces identical content. */
  private[graft] object OracleDump {
    // per-process dir: two concurrent driver JVMs on a shared box must not
    // overwrite each other's parquet mid-oracle-read. The oracle SQL this
    // JVM generates embeds this JVM's globs, so the pairing stays exact;
    // the dir outlives the JVM for the driver's separate DuckDB pass.
    val dir =
      s"/tmp/graft_oracle_tables_${ProcessHandle.current().pid()}"

    /** Reap per-pid dump dirs whose owning process is gone AND that are
      * older than a day (each Verify/Bench JVM leaves one behind for the
      * post-mortem DuckDB pass; on a shared box repeated best-of runs
      * would otherwise accumulate full parquet dumps in /tmp without
      * bound). The age guard matters: the post-mortem reader runs
      * MINUTES after the dumping JVM exits, and a fresh JVM starting in
      * between must not reap the dump out from under it. Runs once per
      * JVM, before the first dump write. */
    private[graft] def cleanStale(
        maxAgeMs: Long = 24L * 3600 * 1000): Unit = {
      val self = ProcessHandle.current().pid()
      val cutoff = System.currentTimeMillis() - maxAgeMs
      Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
        .foreach { f =>
          val n = f.getName
          if (f.isDirectory && n.startsWith("graft_oracle_tables_") &&
              f.lastModified() < cutoff) {
            // ProcessHandle.of is present iff that native process exists;
            // on any probe error, assume alive (never delete a live dir)
            val alive = n.stripPrefix("graft_oracle_tables_").toLongOption
              .exists(p => p == self ||
                scala.util.Try(ProcessHandle.of(p).isPresent).getOrElse(true))
            if (!alive)
              try deleteTree(f) catch { case _: Exception => } // best-effort
          }
        }
    }
    cleanStale()

    private def deleteTree(f: java.io.File): Unit =
      scala.util.Using.resource(java.nio.file.Files.walk(f.toPath)) {
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }

    /** Delete this JVM's dumps now. For JVMs whose dumps no later reader
      * needs (`graft.Probe`, the tests); `Verify` and `Bench` keep theirs
      * for the DuckDB pass that runs after they exit. */
    private[graft] def delete(): Unit = synchronized {
      val d = new java.io.File(dir)
      if (d.exists) deleteTree(d)
      written.clear()
    }
    /** the read_parquet glob the oracle SQL uses for table `name` */
    def glob(name: String): String = s"$dir/$name.parquet/*.parquet"
    private val written = scala.collection.mutable.Set[String]()
    /** @param files output file count. repartition(files), NOT
      *   coalesce: coalesce back-propagates and collapses the whole
      *   upstream compute onto `files` tasks (measured: the media dump
      *   and the reference-BPE dump each ran their full per-row kernel
      *   work serially — 15.1 s media_dump_sec, ~4 s of q_token_bpe).
      *   repartition inserts an exchange, so the producing stages keep
      *   their parallelism and only the (small) finished dump rows
      *   funnel to the writers. Dumps that Spark queries RE-SCAN pass
      *   files = defaultParallelism: a 1-file dump is ONE scan split,
      *   which would serialize the consumer's per-row work (and force
      *   the operators' parallelism-guard repartition to shuffle the
      *   payload again); a multi-file dump scans wide with no extra
      *   exchange. Oracle-only dumps keep the single file. Same rows
      *   either way; row order is not load-bearing (both engines
      *   aggregate/sort). */
    def table(s: SparkSession, name: String, files: Int = 1)
             (mk: => DataFrame): DataFrame =
      synchronized {
        val path = s"$dir/$name.parquet"
        if (!written.contains(name)) {
          mk.repartition(files).write.mode("overwrite").parquet(path)
          written += name
        }
        s.read.parquet(path)
      }
  }

  /** The 3,010-record verdict-matrix corpus (synthesized mutations +
    * reference fixtures + gate-edge records), dumped once under the
    * shared name `records_ets` that all four matrix queries and their
    * DuckDB oracles read — ONE definition, so a future edit cannot make
    * one query compute on a different frame than the dump its oracle
    * reads. */
  private def etsCorpus(s: SparkSession): DataFrame =
    OracleDump.table(s, "records_ets", s.sparkContext.defaultParallelism) {
      // one task wave, not synthesize's default 4 waves: 3,000 rows at
      // 128 partitions is 23 rows/task — pure task overhead at dump size
      RecordTable.synthesize(s, 3000, s.sparkContext.defaultParallelism)
        .unionAll(RecordTable.fixtures(s))
        .unionAll(RecordTable.gateEdgeRecords(s))
    }

  /** The synthesized image corpus for q_image_neardup, dumped once per
    * JVM per sf dir: each doc carries a raster that is a pure function
    * of doc_id % 100, but whose BYTES differ per doc. Groups 0-79 are
    * the lossless family (PNG compression level + scanline filter vary
    * with doc_id; ~1/6 uncompressed BMP); groups 80-99 are baseline
    * JPEG whose bytes vary via COM padding / restart intervals but whose
    * DC-only construction decodes bit-exactly (see
    * `graft.expressions.JpegOps`) — so the lossy web format rides the
    * same seed-arithmetic oracle. Dumping separates the one-off encode
    * cost from the decode pipeline under measurement. */
  /** Engine-computed 64-bit simhash signatures over `documents`, dumped
    * once per JVM: `q_simhash_pairs` and its DuckDB brute-force Hamming
    * twin read THE SAME rows, so the oracle verifies the
    * Hamming-pigeonhole pairing machinery (not the hash bits, which are
    * engine-defined — those are pinned separately by SimHash64's
    * HOF-parity kernel test). */
  private[graft] def simhashSigTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "simhash_sigs", s.sparkContext.defaultParallelism) {
      t(s, dir, "documents").select(col("doc_id"), col("text"))
        .repartition(s.sparkContext.defaultParallelism) // one-split scan
        .select(col("doc_id").as("id"),
          graft.expressions.SimHash64.simhash64(col("text")).as("sig"))
    }

  /** Engine-computed MinHash LSH band rows `(id, band, band_hash)` over
    * `documents`, dumped once per JVM: `q_minhash_pairs` buckets THESE
    * rows, and its DuckDB twin re-derives the candidate buckets from the
    * same parquet and re-verifies each candidate with the exact-Jaccard
    * SQL kernel `q_jaccard_exact` already proves — so the whole
    * band->bucket->pair->verify composition is oracle-checked, not just
    * its verification tail. */
  private[graft] def minhashBandTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "minhash_bands",
        s.sparkContext.defaultParallelism) {
      Dedup.minhashBandRows(t(s, dir, "documents"), "text", "doc_id",
        k = 64, bands = 16, shingleN = 3)
    }

  /** Engine-computed random-hyperplane sign-sketch rows
    * `(id, vec, norm, bucket)` over `embeddings`, dumped once per JVM:
    * `q_embedding_neardup` buckets THESE rows, and DuckDB re-derives the
    * in-bucket pairs + cosines from the same parquet — the sketch bits
    * are engine-defined (pinned by SignSketch's HOF-parity test), the
    * bucketing/pairing/threshold machinery is what the oracle checks. */
  private[graft] def embSigTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "emb_sigs", s.sparkContext.defaultParallelism) {
      Dedup.embeddingSigRows(t(s, dir, "embeddings"), "embedding",
        "vec_id", planes = 8)
    }

  private[graft] def imageMediaTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "image_media_" + Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir)),
        s.sparkContext.defaultParallelism) {
      // repartition BEFORE the per-row encode: the one-split scan would
      // otherwise run every PNG/BMP/JPEG encode on a single task
      t(s, dir, "documents").select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          graft.expressions.ImageOps.synthMedia(
            pmod(col("doc_id"), lit(100L)),
            pmod(col("doc_id") * 7 + 3, lit(12L)).cast("int")).as("media"))
    }

  /** Per-doc BPE token counts computed by the INDEPENDENT reference
    * implementation ([[graft.tools.BpeReference]]: string-pair ranks,
    * immutable-list merging — nothing shared with the codegen'd kernel
    * but the published spec), dumped once per JVM. The q_token_bpe
    * oracle reads this dump, so DuckDB cross-checks kernel vs reference
    * on every document; q_token_budget's oracle re-derives the budget
    * cut from the same counts. Static dump name: the driver runs one
    * sf dir per JVM (same contract as the records_* dumps). */
  private[graft] def bpeRefTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "bpe_ref") {
      import s.implicits._
      // a one-file parquet scan is ONE split, which would serialize the
      // (deliberately slow, structurally independent) reference BPE onto
      // one core — spread the rows across the session's parallelism first
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, String, String)]
        .map { case (id, lang, txt) =>
          (id, lang, graft.tools.BpeReference.count(txt)) }
        .toDF("doc_id", "lang", "n_bpe")
    }

  /** Per-doc IMA ADPCM features computed by the INDEPENDENT reference
    * decoder ([[graft.tools.AdpcmReference]]: ByteBuffer parsing,
    * immutable fold state, whole-file materialize-then-measure — nothing
    * shared with the streaming production kernel but the published
    * spec), dumped once per JVM for the q_audio_adpcm oracle. */
  private[graft] def adpcmRefTable(s: SparkSession, dir: String): DataFrame =
    OracleDump.table(s, "adpcm_ref") {
      import s.implicits._
      t(s, dir, "documents").select("doc_id")
        .repartition(s.sparkContext.defaultParallelism) // one-split scan
        .as[Long]
        .map { id =>
          val f = graft.tools.AdpcmReference
            .features(graft.expressions.AudioOps.synthWavAdpcm(id)).get
          (id, f.nFrames, f.durationMs, f.peak, f.rms, f.silenceRatio)
        }
        .toDF("doc_id", "n_frames", "duration_ms", "peak", "rms",
          "silence_ratio")
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- WCMP2 constraint suite (fixture-seeded; ScalaTest-golden) ------
    "wcmp_violations" -> ((s, _) =>
      Validator.violations(Validator.validate(RecordTable.fixtures(s)))
        .orderBy("path", "rule_id")),
    // both summaries read the dumped fixture table so their DuckDB
    // oracles (aggregations over the matrix SQL) see the same bytes
    "wcmp_ets_summary" -> ((s, _) =>
      Validator.validate(
        OracleDump.table(s, "records_fix")(RecordTable.fixtures(s)))
        .select(col("path"), col("parse_ok"),
          col("ets_summary.PASSED").as("passed"),
          col("ets_summary.FAILED").as("failed"))
        .orderBy("path")),
    "wcmp_kpi_summary" -> ((s, _) =>
      Validator.validate(
        OracleDump.table(s, "records_fix")(RecordTable.fixtures(s)))
        .select(col("path"), col("kpi_summary.total").as("total"),
          col("kpi_summary.score").as("score"),
          col("kpi_summary.percentage").as("percentage"),
          col("kpi_summary.grade").as("grade"))
        .orderBy("path")),
    // S2 URL scan: fixtures written to a temp dir, fetched back through
    // the PRODUCTION java.net transport as file:// URLs (zero-egress
    // sandbox), validated like any records table
    "wcmp_url_scan" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("urlscan")
      val urls = RecordTable.fixtureNames.map { n =>
        val f = dir.resolve(n)
        java.nio.file.Files.writeString(f, RecordTable.fixtureContent(n))
        f.toUri.toString
      } :+ dir.resolve("does-not-exist.json").toUri.toString
      // materialize the (11-row) fetch eagerly so the temp dir can be
      // removed before the lazy validation frame is handed to the driver
      val fetchedLazy = graft.sources.UrlSource.fetchTable(s, urls)
      val fetched = s.createDataFrame(
        java.util.Arrays.asList(fetchedLazy.collect(): _*), fetchedLazy.schema)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      Validator.validate(fetched.drop("fetch_error"))
        .select(col("path"), col("parse_ok"),
          col("ets_summary.FAILED").as("failed"))
        .withColumn("path", element_at(split(col("path"), "/"), -1))
        .orderBy("path")
    }),
    "wcmp_partition_verdicts" -> ((s, _) =>
      Validator.partitionVerdicts(
        Validator.validate(RecordTable.synthesize(s, 2000)))
        .orderBy("lang")),

    // ---- relational operator coverage (DuckDB-oracle-checked) -----------
    // A1/A3 analog: grouped aggregation with exact-in-double sums
    "q_agg_summary" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum("l_quantity").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        min("l_extendedprice").as("min_price"),
        max("l_extendedprice").as("max_price"))),
    // J1-J9 analog: broadcast dimension joins
    "q_broadcast_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(count(lit(1)).as("n_customers"),
             min("c_name").as("first_customer"))
        .select(col("region_name"), col("n_customers"),
                col("first_customer"))),
    // membership semi-join (EXISTS)
    "q_semi_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_totalprice") > 100000)
      t(s, dir, "customer")
        .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }),
    // A9 analog: referential-integrity violations via broadcast anti-join
    "q_anti_referential" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation").where(col("n_nationkey") < 20)),
          col("c_nationkey") === col("n_nationkey"), "left_anti")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_violations"))),
    // A7 analog: key-uniqueness violations
    "q_uniqueness" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1)
        .groupBy().agg(count(lit(1)).as("dup_groups"),
                       sum("cnt").as("dup_rows"))),
    // A6 analog: single-pass per-column stats (exact, oracle-comparable)
    "q_colstats" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        count(col("o_custkey")).as("custkey_nonnull"),
        countDistinct(col("o_custkey")).as("custkey_distinct"),
        min("o_totalprice").as("min_total"),
        max("o_totalprice").as("max_total"),
        countDistinct(col("o_orderpriority")).as("n_priorities"))),
    // A4 analog: ordered when-chain bucketing (grade semantics)
    "q_grade_bucket" -> ((s, dir) =>
      t(s, dir, "customer")
        .withColumn("grade",
          when(col("c_acctbal") >= 8000, "A")
            .when(col("c_acctbal") >= 6500, "B")
            .when(col("c_acctbal") >= 5000, "C")
            .when(col("c_acctbal") >= 3500, "D")
            .when(col("c_acctbal") >= 2000, "E")
            .otherwise("X"))
        .groupBy("grade").agg(count(lit(1)).as("n"))),
    // E-rule analog over a real table: ordered first-failure when-chain
    // (regex, range and prefix predicates), like the ETS rules
    "q_rule_violations" -> ((s, dir) =>
      t(s, dir, "part")
        .withColumn("rule_id",
          when(!col("p_name").rlike("^[a-z ]+$"), "name_charset")
            .when(col("p_size") > 45, "size_range")
            .when(length(col("p_name")) > 11, "name_length"))
        .where(col("rule_id").isNotNull)
        .groupBy("rule_id").agg(count(lit(1)).as("n_violations"))),
    // window function: top-1 order per customer (deterministic tiebreak)
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),
    // set op: nations without suppliers minus nations without customers
    "q_set_ops" -> ((s, dir) => {
      val sup = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      val cus = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      sup.distinct().exceptAll(cus.distinct()).groupBy()
        .agg(count(lit(1)).as("n"))
    }),
    // datetime kernel: event counts per calendar field
    "q_date_parts" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(year(col("ts")).as("y"), month(col("ts")).as("m"))
        .agg(count(lit(1)).as("n"),
             countDistinct(col("user_id")).as("n_users"))),
    // hierarchical aggregation (ROLLUP)
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), sum("l_quantity").as("sum_qty"))),
    // outer join: customers with/without orders
    "q_outer_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders").agg(count(lit(1)).as("n_customers"))),
    // global top-k with deterministic tiebreak (TopK physical operator)
    "q_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")),
    // sessionization via lag window over event time
    "q_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
            1).otherwise(0))
        .groupBy("user_id")
        .agg(sum("new_session").as("n_sessions"),
             count(lit(1)).as("n_events"))
        .groupBy("n_sessions").agg(count(lit(1)).as("n_users"))
    }),
    // exact dedup over documents (hash-groupBy on a prefix fingerprint —
    // the full-text variant is covered by operators.Dedup)
    "q_dedup_exact" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(md5(substring(col("text"), 1, 60)).as("prefix_md5"))
        .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keep_id"))
        .where(col("n_copies") > 1)),
    // token counting over documents (whitespace tokenizer)
    "q_token_count" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("n_tokens",
          size(filter(split(col("text"), "\\s+"), w => w =!= "")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
             min("n_tokens").as("min_tokens"),
             max("n_tokens").as("max_tokens"))),
    // EXACT merges-based BPE token counts (codegen'd kernel) per doc;
    // the oracle reads per-doc counts the structurally independent
    // BpeReference implementation dumped — any single-document
    // disagreement between the two engines is a red row
    "q_token_bpe" -> ((s, dir) => {
      bpeRefTable(s, dir) // force the reference dump the oracle reads
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"))
        .orderBy("doc_id")
    }),
    // corpus term statistics: top-10 tokens per language (explode ->
    // count -> windowed top-k; deterministic tiebreak on term)
    "q_top_terms" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = t(s, dir, "documents")
        .select(col("lang"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
      val counts = toks.groupBy("lang", "term").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("term"))
      counts.withColumn("rank", row_number().over(w))
        .where(col("rank") <= 10)
        .select("lang", "term", "n", "rank")
    }),
    // language-ID heuristic: confusion counts vs the labeled lang column
    "q_langid_confusion" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))),

    // ---- training-data operators --------------------------------------
    // MinHash LSH against a DuckDB twin that re-derives candidates from
    // the engine's own dumped band rows and re-verifies them with the
    // exact-Jaccard SQL kernel: bucket -> pair -> verify, all checked.
    // maxBucket corpus-sized so the cap never drops a bucket at test
    // scale (both engines would otherwise need identical cap semantics).
    "q_minhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val n = docs.count()
      Dedup.minhashLshFromBands(docs, minhashBandTable(s, dir),
          threshold = 0.5, maxBucket = math.max(256L, n).toInt)
        .orderBy("id_a", "id_b")
    }),
    // simhash near-dup against a DuckDB BRUTE-FORCE twin: the engine's
    // own signature bits are dumped once (simhashSigTable), and DuckDB
    // derives the exact Hamming<=8 pair set by O(n^2) xor/bit_count over
    // the same rows — so the oracle checks the pigeonhole machinery
    // itself (chunk explode, bounded buckets, in-bucket pair explode):
    // recall AND precision, not just "rows came back". maxBucket is
    // corpus-sized so the cap can never drop a bucket at test scale
    // (drops would be a recall loss the brute-force twin still derives).
    "q_simhash_pairs" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      Dedup.hammingDedup(simhashSigTable(s, dir), maxHamming = 8,
          maxBucket = math.max(256L, n).toInt)
        .orderBy("id_a", "id_b")
    }),
    // image near-dup over REAL decoded pixels: each doc carries an image
    // whose pixels are a pure function of doc_id % 100 but whose BYTES
    // differ per doc — groups 0-79: PNG compression level + scanline
    // filter vary with doc_id, ~1/6 uncompressed BMP; groups 80-99:
    // baseline JPEG (bytes vary via COM padding / restart intervals,
    // decode bit-exact by DC-only construction, see JpegOps) — decode +
    // dHash + Hamming-pigeonhole must recover exactly the same-image
    // pairs, which the DuckDB twin derives from the seed arithmetic
    // alone. Proves end-to-end encoding- AND format-invariance of the
    // decode->resize->hash pipeline across all four formats, including
    // the dominant lossy web format's Huffman+IDCT path.
    "q_image_neardup" -> ((s, dir) => {
      // media bytes are pre-dumped once per JVM (per sf dir, via
      // imageMediaTable) so the measured path is decode -> thumbnail ->
      // dHash -> pair, not the 1-per-row PNG/BMP ENCODES of synthImage
      // (round-4 hot spot: synthesis dominated the timed query); Bench
      // forces the dump before timing and reports its cost separately.
      val docs = imageMediaTable(s, dir)
      // maxBucket sized from the corpus: every doc_id%100 same-image
      // group lands WHOLE in each of its chunk buckets, so a fixed cap
      // of 200 would silently drop pairs (that the seed-arithmetic
      // DuckDB twin still derives) once the table exceeds 20k rows.
      val n = t(s, dir, "documents").count()
      Dedup.imageDedup(docs, "media", "doc_id", maxHamming = 0,
          maxBucket = math.max(256L, n / 100 * 2).toInt)
        .orderBy("id_a", "id_b")
    }),
    // no-silent-caps contract: how many LSH buckets the maxBucket cap
    // dropped (and the band rows inside them) for the minhash run above —
    // same dumped band rows, same corpus-sized maxBucket, and a DuckDB
    // twin recomputing the identical stats from the same parquet
    "q_lsh_bucket_stats" -> ((s, dir) => {
      val n = t(s, dir, "documents").count()
      Dedup.minhashBucketStatsFromBands(minhashBandTable(s, dir),
        maxBucket = math.max(256L, n).toInt)
    }),
    // duplicate-cluster resolution: chain edges (consecutive ids within
    // each exact-dup prefix group) force transitive label propagation;
    // oracle = DuckDB recursive-CTE closure
    "q_components" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("g").orderBy("doc_id")
      val pairs = t(s, dir, "documents")
        .select(md5(substring(col("text"), 1, 60)).as("g"), col("doc_id"))
        .withColumn("prev", lag(col("doc_id"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      Dedup.components(pairs).orderBy("id")
    }),
    // end-to-end dedup composition (exact canon -> near-dup pairs ->
    // components -> keep/duplicate_of), oracle-checked: exact duplicates
    // injected by re-keying the first 10 docs, near-dup pairs from a
    // DETERMINISTIC chain construction over the exact survivors (the LSH
    // generator is oracled separately via its exact-Jaccard twin)
    "q_dedup_corpus" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val base = t(s, dir, "documents").select("doc_id", "text")
      val docs = base.unionByName(base.where(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      val pairsOf = (canon: DataFrame) => {
        val w = Window.partitionBy("g").orderBy("doc_id")
        canon.select(md5(substring(col("text"), 1, 40)).as("g"),
            col("doc_id"))
          .withColumn("prev", lag(col("doc_id"), 1).over(w))
          .where(col("prev").isNotNull)
          .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
      }
      Dedup.dedupCorpus(docs, pairsOf = pairsOf)
        .select("doc_id", "keep", "duplicate_of").orderBy("doc_id")
    }),
    // the synthetic embeddings are near-orthogonal (max pairwise cosine
    // ~0.4), so the demo threshold is set where candidates exist; the
    // production default stays 0.99 in the operator. Oracle: DuckDB
    // re-derives in-bucket pairs + cosines from the engine's own dumped
    // sign-sketch rows (cosine bround(6) both sides, the
    // q_cosine_exact accumulation-order convention).
    "q_embedding_neardup" -> ((s, dir) => {
      val n = t(s, dir, "embeddings").count()
      Dedup.embeddingNearDupFromSigs(embSigTable(s, dir),
          threshold = 0.2, maxBucket = math.max(1000L, n).toInt)
        .withColumn("cosine", bround(col("cosine"), 6))
        .orderBy("id_a", "id_b")
    }),
    "q_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "id", "rank").orderBy("query_id", "rank")
    }),
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, queries, k = 10)
        .select("query_id", "id", "rank").orderBy("query_id", "rank")
    }),
    // measured IVF recall against the brute-force truth: both result
    // sets are dumped, Spark joins them into per-query recall@10, and
    // DuckDB recomputes the same join from the same dumped bytes —
    // converting the approximate-ANN family from rows-only into an
    // oracle-checked, committed recall number
    "q_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val bf = OracleDump.table(s, "ann_bf") {
        Similarity.bruteForceTopK(emb, queries, k = 10)
          .select("query_id", "id", "rank")
      }
      val ivf = OracleDump.table(s, "ann_ivf") {
        Similarity.ivfTopK(emb, queries, k = 10)
          .select("query_id", "id", "rank")
      }
      bf.join(ivf.withColumnRenamed("rank", "ivf_rank"),
          Seq("query_id", "id"), "left")
        .groupBy("query_id")
        .agg(count(col("ivf_rank")).as("n_found"),
          (count(col("ivf_rank")).cast("double") / count(lit(1)))
            .as("recall_at_10"))
        .orderBy("query_id")
    }),
    // exact-Jaccard twin of q_minhash_pairs' verification kernel, on a
    // deterministic pair set (adjacent doc ids) so DuckDB can mirror it
    "q_jaccard_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.where(col("doc_id") < 50)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(docs, pairs).orderBy("id_a")
    }),
    // exact-cosine twin of q_embedding_neardup's verification formula
    // (dot / (norm_a * norm_b)), rounded to 6 dp on both sides to absorb
    // sub-ulp accumulation-order noise between engines
    "q_cosine_exact" -> ((s, dir) => {
      import org.apache.spark.sql.types.{ArrayType, DoubleType}
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      val a = e.where(col("vec_id") < 50)
        .select(col("vec_id").as("id_a"), col("v").as("va"))
      val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          bround(Similarity.cosine(col("va"), col("vb")), 6).as("cosine"))
        .orderBy("id_a")
    }),
    // PII scrubbing: deterministic PII strings appended to known rows,
    // per-category counts + sequentially-redacted text length — the
    // DuckDB twin runs the IDENTICAL regexes (generated from the same
    // pattern list)
    "q_pii" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val withPii = docs.select(col("doc_id"), concat(col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" contact me at john.doe@example.com or at 192.168.1.77"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" ssn 123-45-6789 card 4111 1111 1111 1111 " +
            "call +1 (415) 555-0134"))
          .otherwise(lit(""))).as("text"))
      TextAnalysis.redactPii(withPii).agg(
        sum("pii.n_email").as("n_email"),
        sum("pii.n_card").as("n_card"),
        sum("pii.n_ssn").as("n_ssn"),
        sum("pii.n_ipv4").as("n_ipv4"),
        sum("pii.n_phone").as("n_phone"),
        sum(when(col("pii.n_email") + col("pii.n_card") + col("pii.n_ssn")
          + col("pii.n_ipv4") + col("pii.n_phone") > 0, 1L).otherwise(0L))
          .as("docs_with_pii"),
        sum(length(col("text_redacted"))).as("redacted_chars"))
    }),
    // benchmark decontamination: 13-gram overlap between a benchmark
    // slice (doc_id % 41 = 0) and a training corpus that EMBEDS each
    // benchmark text inside extra context under a new id (the realistic
    // contamination shape: test items quoted verbatim inside web pages).
    // The engine joins on xxhash64(gram) (8-byte shuffle rows at scale),
    // the oracle joins on the gram text — identical results absent
    // 64-bit collisions.
    "q_decontaminate" -> ((s, dir) => {
      val base = t(s, dir, "documents").select("doc_id", "text")
      val bench = base.where(pmod(col("doc_id"), lit(41)) === 0)
      val train = base.where(pmod(col("doc_id"), lit(41)) =!= 0)
        .unionByName(bench.select(
          (col("doc_id") + lit(5000000L)).as("doc_id"),
          concat(lit("leading context "), col("text"), lit(" trailing"))
            .as("text")))
      TextAnalysis.contamination(train, bench).orderBy("id")
    }),
    // repetition filters (duplicate lines / repeated n-grams): boilerplate
    // injected on known rows; per-doc fractions cross-checked in DuckDB
    "q_repetition" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // filter BEFORE the op (a post-join id filter can't push through
      // the full-outer join); the oracle filters identically
      val withRep = docs.where(col("doc_id") < 300)
        .select(col("doc_id"),
          concat(col("text"),
            when(pmod(col("doc_id"), lit(13)) === 0,
              lit("\nboilerplate navigation menu\n" +
                "boilerplate navigation menu\nunique footer line"))
              .otherwise(lit(""))).as("text"))
      TextAnalysis.repetitionStats(withRep).orderBy("id")
    }),
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.analyze(t(s, dir, "documents"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("quality.quality_score") >= 0.6, 1).otherwise(0))
            .as("n_high_quality"),
          sum("n_tokens_ws").as("tokens_ws"),
          sum("n_tokens_pretok").as("tokens_pretok"))
        .orderBy("lang")),
    "q_multimodal" -> ((s, dir) => {
      import s.implicits._
      val fake = Multimodal.pipeline(t(s, dir, "documents"))
        .groupBy(col("media_meta.format").as("format"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("decode_ok"), 1).otherwise(0)).as("n_decoded"),
          sum(size(col("sampled_frames"))).as("n_frames_sampled"))
      // plus two REAL containers through the native decoders: a canonical
      // PCM WAV (44.1 kHz stereo 16-bit, 1 s) and a minimal MP4 (1920x1080
      // visual track, 5 s movie) — n_decoded asserts the decoded fields
      val real = Seq(("mp4", mp4Sample), ("wav", wavSample))
        .toDF("format", "media")
        .select(col("format"), lit(1L).as("n"),
          when(col("format") === "wav",
            (Multimodal.decodeWav(col("media")).getField("sample_rate")
              === 44100).cast("long"))
          .otherwise(
            (Multimodal.decodeMp4(col("media")).getField("width")
              === 1920).cast("long")).as("n_decoded"),
          lit(0L).as("n_frames_sampled"))
      fake.unionAll(real).orderBy("format")
    }),

    // audio QC features over REAL decoded PCM samples: each doc carries a
    // synthetic WAV whose silence prefix / amplitude / length are pure
    // seed arithmetic (AudioOps.synthWav), so the DuckDB twin recomputes
    // peak/rms/silence from the closed forms while the engine must reach
    // the same numbers by actually walking the RIFF chunks and decoding
    // every 16-bit PCM frame
    "q_audio_features" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.expressions.AudioOps.audioFeatures(
            graft.expressions.AudioOps.synthWav(col("doc_id"))).as("f"))
        .select(col("doc_id"),
          col("f.n_frames").as("n_frames"),
          col("f.duration_ms").as("duration_ms"),
          bround(col("f.peak"), 6).as("peak"),
          bround(col("f.rms"), 6).as("rms"),
          bround(col("f.silence_ratio"), 6).as("silence_ratio"))
        .orderBy("doc_id")),

    // lossy/float codec coverage: per-doc WAVs cycling µ-law, A-law and
    // IEEE-float32 (AudioOps.synthWavCodec). The engine must expand real
    // G.711 log codes (ITU-T G.711 segment arithmetic) / parse IEEE bit
    // patterns; the DuckDB twin recomputes the same features from the
    // seed's closed forms — the expansion formulas themselves — so a
    // single mis-expanded code class breaks the hash
    "q_audio_codecs" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
          graft.expressions.AudioOps.audioFeatures(
            graft.expressions.AudioOps.synthWavCodec(col("doc_id"))).as("f"))
        .select(col("doc_id"),
          col("f.n_frames").as("n_frames"),
          col("f.duration_ms").as("duration_ms"),
          // HALF_UP round, not bround: A-law magnitudes are dyadic
          // (e.g. peak = 10496/2^15 = 0.3203125) so 6th-digit TIES are
          // real, and DuckDB's ROUND is half-up while bround is
          // half-even — the one rounding-mode seam in the whole oracle
          round(col("f.peak"), 6).as("peak"),
          round(col("f.rms"), 6).as("rms"),
          round(col("f.silence_ratio"), 6).as("silence_ratio"))
        .orderBy("doc_id")),
    // IMA ADPCM (the most common COMPRESSED WAV codec): adaptive coding
    // has no closed form, so the oracle is the structurally independent
    // tools.AdpcmReference decode of the SAME bytes, dumped to parquet
    // (the BpeReference pattern) — DuckDB compares engine vs reference
    // per document; the nibble arithmetic itself is pinned by
    // hand-derived golden vectors in AudioSpec
    "q_audio_adpcm" -> ((s, dir) => {
      adpcmRefTable(s, dir) // force the dump the oracle SQL reads
      t(s, dir, "documents").select(col("doc_id"),
          graft.expressions.AudioOps.audioFeatures(
            graft.expressions.AudioOps.synthWavAdpcm(col("doc_id"))).as("f"))
        .select(col("doc_id"),
          col("f.n_frames").as("n_frames"),
          col("f.duration_ms").as("duration_ms"),
          round(col("f.peak"), 6).as("peak"),
          round(col("f.rms"), 6).as("rms"),
          round(col("f.silence_ratio"), 6).as("silence_ratio"))
        .orderBy("doc_id")
    }),

    // ---- corpus curation: deterministic sampling, caps, funnel ----------
    // stratified hash sample: per-lang keep rates decided by an md5-hex
    // threshold on the doc key — reproducible across engines/retries, so
    // the DuckDB twin re-derives the EXACT sampled row set
    "q_sample_stratified" -> ((s, dir) =>
      Curation.stratifiedSample(t(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultRate = 0.1,
        keyCol = "doc_id", seed = "s42")
        .select("doc_id", "lang").orderBy("doc_id")),
    // per-source cap (domain cap): first 5 docs per source by doc_id;
    // the engine runs the salted pre-prune + exact window, the oracle
    // runs the plain window — identical row sets prove the pre-prune
    // conservative
    "q_source_cap" -> ((s, dir) =>
      Curation.perSourceCap(t(s, dir, "documents"), "source", "doc_id",
        k = 5, salts = 8)
        .select("doc_id", "source").orderBy("doc_id")),
    // token-budget sample: greedily fill a per-lang token budget in
    // deterministic hash order, keyed to EXACT BPE token counts (the
    // metric a training pipeline actually budgets with). The engine runs
    // the bucketed path (4096 hash-prefix buckets, driver prefix sums,
    // exact window over the cut bucket only) over kernel counts; the
    // oracle runs the naive full window over the independent
    // BpeReference counts from the dump — proving both the bucketed cut
    // AND the tokenizer in one row-set equality
    "q_token_budget" -> ((s, dir) => {
      bpeRefTable(s, dir) // force the reference dump the oracle joins
      Curation.tokenBudgetSample(
        t(s, dir, "documents").withColumn("n_tok",
          TextAnalysis.tokenCountBpe(col("text")).cast("long")),
        "lang", "n_tok", Map("en" -> 4000L, "de" -> 3000L),
        defaultBudget = 1600L, keyCol = "doc_id", seed = "tb7")
        .select("doc_id", "lang").orderBy("doc_id")
    }),
    // filter funnel: first-reject attribution across 4 cleaning rules in
    // ONE aggregate pass; drops sum to n_in - n_out by construction
    "q_filter_funnel" -> ((s, dir) =>
      Curation.filterFunnel(t(s, dir, "documents"), Seq(
        "min_len" -> (length(col("text")) >= 150),
        "lang_known" -> col("lang").isInCollection(Seq("en", "de", "es", "fr")),
        "min_tokens" -> (size(TextAnalysis.tokens(col("text"))) >= 25),
        "punct_ratio" -> (length(regexp_replace(col("text"),
          "[\\p{L}\\p{N}\\s]", "")).cast("double") /
          greatest(length(col("text")), lit(1)) <= 0.2)))
        .orderBy("rule_seq")),

    // ---- dataset-level constraint suite over the records table ----------
    "q_records_colstats" -> ((s, _) =>
      DatasetRules.columnStats(RecordTable.synthesize(s, 2000))
        .orderBy("column")),
    "q_records_colstats_sketch" -> ((s, _) =>
      DatasetRules.columnStatsSketch(RecordTable.synthesize(s, 2000))
        .orderBy("lang")),
    // the three below read their records input back from a parquet dump
    // (OracleDump) so DuckDB can cross-check the exact same bytes
    "q_records_uniqueness" -> ((s, _) => {
      val dup = OracleDump.table(s, "records_dup") {
        val base = RecordTable.synthesize(s, 500)
        base.unionAll(base.limit(7))
      }
      DatasetRules.uniquenessViolations(dup).orderBy("path")
    }),
    "q_records_referential" -> ((s, _) => {
      val fix = OracleDump.table(s, "records_fix")(RecordTable.fixtures(s))
      // the centre dim rides along for the oracle's NOT IN
      OracleDump.table(s, "dim_centre")(
        graft.dims.Dims.dimDf(s, "centre", graft.dims.Dims.centreIds))
      DatasetRules.referentialViolations(fix).orderBy("path")
    }),
    "q_records_drift" -> ((s, _) => {
      val recs = OracleDump.table(s, "records")(
        RecordTable.synthesize(s, 2000))
      DatasetRules.langDrift(recs)
        .select(col("lang"), bround(col("psi"), 6).as("psi"), col("drifted"))
        .orderBy("lang")
    }),
    // the FLAGSHIP oracle: the full per-record x per-test ETS PASS/FAIL
    // matrix (the 12 conformance tests + the gating schema validation)
    // over synthesized mutations UNION the reference fixtures, mirrored
    // in DuckDB SQL generated from the same vendored codelists — an
    // independent re-implementation of the whole rule catalog's verdict
    // logic (messages are golden-tested in ScalaTest; the matrix here
    // cross-checks every code on 3010 records)
    "q_ets_matrix" -> ((s, _) => {
      val recs = etsCorpus(s)
      val v = Validator.validate(recs)
      def code(i: Int, name: String) =
        get(col("ets_tests"), lit(i)).getField("code").as(name)
      v.select(col("path"), col("parse_ok"),
        col("validation.code").as("validation"),
        code(0, "conformance"), code(1, "contacts"),
        code(2, "created_datetime"), code(3, "data_policy"),
        code(4, "description"), code(5, "extent_geospatial"),
        code(6, "extent_temporal"), code(7, "identifier"),
        code(8, "links"), code(9, "themes"),
        code(10, "title"), code(11, "rtype"))
        .orderBy("path")
    }),
    // A1/A4 aggregation face, oracle-checked end-to-end: per-lang verdict
    // rollup over the full 3016-record matrix corpus — counts, failed-test
    // totals, mean KPI percentage, the xor'd sha256-prefix partition
    // fingerprint (recomputable by ANY engine from the content column —
    // DuckDB does), and the PASS/FAIL verdict
    "q_partition_verdicts" -> ((s, _) => {
      val recs = etsCorpus(s)
      Validator.partitionVerdicts(Validator.validate(recs)).orderBy("lang")
    }),
    // S7/A1 violation-row face, oracle-checked at the (path, rule_id)
    // level over the full matrix corpus (diagnostic TEXT stays
    // golden-tested in ReportsSpec; the row SET — which record violates
    // which rule, incl. parse and schema-gate rows — is re-derived from
    // the independent DuckDB matrix)
    "q_violation_rows" -> ((s, _) => {
      val recs = etsCorpus(s)
      Validator.violations(Validator.validate(recs))
        .select("path", "rule_id", "severity")
        .orderBy("path", "rule_id")
    }),
    // the KPI twin of q_ets_matrix: per-record total+score for all 7 KPIs
    // plus the summary (incl. percentage, grade, and the pids
    // score-exceeds-total quirk), independently re-scored in DuckDB SQL
    "q_kpi_matrix" -> ((s, _) => {
      val recs = etsCorpus(s)
      val v = Validator.validate(recs)
      def kpi(i: Int, name: String): Seq[Column] = Seq(
        get(col("kpi_tests"), lit(i)).getField("total").as(s"${name}_total"),
        get(col("kpi_tests"), lit(i)).getField("score").as(s"${name}_score"))
      v.select(Seq(col("path"), col("parse_ok")) ++
        kpi(0, "contacts") ++ kpi(1, "description") ++ kpi(2, "graphic") ++
        kpi(3, "links") ++ kpi(4, "pids") ++ kpi(5, "time") ++
        kpi(6, "title") ++ Seq(
          col("kpi_summary.total").as("sum_total"),
          col("kpi_summary.score").as("sum_score"),
          col("kpi_summary.percentage").as("sum_percentage"),
          col("kpi_summary.grade").as("grade")): _*)
        .orderBy("path")
    })
  )

  /** The q_ets_matrix oracle: a from-scratch DuckDB re-implementation of
    * the ENTIRE ETS verdict logic (gate + 12 tests, PASS/FAIL codes) over
    * the dumped records, generated from the same vendored codelists the
    * engine compiles in. Deliberately built on different primitives
    * (json_type / json_transform list-lambda walks vs the engine's
    * single-tokenize kernel) so agreement is meaningful. DuckDB 1.0
    * conventions relied on (probed): constant-path json_type gives 'NULL'
    * for JSON null and SQL NULL for missing; dynamic-path (the security
    * map walk) gives SQL NULL for both; json_transform '["JSON"]' maps
    * JSON-null elements to SQL NULL; json_extract_string coerces scalars
    * (floats via double formatting, matching the engine kernel) and
    * minifies containers. */
  private def etsMatrixSql: String = etsMatrixSqlFor(OracleDump.glob("records_ets"))
  private def etsMatrixSqlFor(glob: String): String = {
    import graft.dims.Dims
    def arrLit(vs: Seq[String]): String =
      vs.distinct.map(v => "'" + v.replace("'", "''") + "'")
        .mkString("[", ", ", "]")
    val centresArr = arrLit(Dims.centreIds)
    val resTypesArr = arrLit(Dims.resourceTypes)
    val rolesArr = arrLit(Dims.contactRoles)
    val relsArr = arrLit(Dims.linkRelations)
    val policiesArr = arrLit(Dims.dataPolicies)
    val esdArr = arrLit(Dims.earthSystemDisciplines)
    val core = "http://wis.wmo.int/spec/wcmp/2/conf/core"
    val kebab = "^[a-z0-9][a-z0-9-]*$"
    // level-wise WIS2 channel walk (TopicChannel.valid; no published
    // sub-discipline table in the verify environment -> levels 8+ are
    // charset grammar). `ch` is the channel string expression.
    def validChannel(ch: String): String = {
      val t = s"string_split($ch, '/')"
      s"""($t[1] IN ('origin','cache') AND $t[2] = 'a' AND $t[3] = 'wis2'
         |      AND (list_contains($centresArr, $t[4])
         |           OR ends_with($t[4], '-test'))
         |      AND CASE
         |       WHEN $t[5] = 'data' THEN len($t) >= 7
         |        AND list_contains($policiesArr, $t[6])
         |        AND list_contains($esdArr, $t[7])
         |        AND len(list_filter($t[8:],
         |             tok -> NOT regexp_matches(tok, '$kebab'))) = 0
         |       WHEN $t[5] IN ('metadata','reports') THEN len($t) >= 5
         |        AND len(list_filter($t[6:],
         |             tok -> NOT regexp_matches(tok, '$kebab'))) = 0
         |       ELSE false END)""".stripMargin
    }
    s"""WITH r AS (
       | -- DuckDB json functions THROW on malformed input; null the
       | -- content for invalid rows (their codes are NULL behind `ok`)
       | SELECT path, CASE WHEN json_valid(content) THEN content END
       |   AS content, json_valid(content) AS ok
       | FROM read_parquet('$glob')),
       |f AS (SELECT path, content, ok,
       | json_type(content, '$$.links') = 'ARRAY' AS links_arr,
       | json_type(content, '$$.properties') = 'OBJECT' AS props_ok,
       | json_type(content, '$$.properties.contacts') = 'ARRAY' AS contacts_arr,
       | json_type(content, '$$.properties.themes') = 'ARRAY' AS themes_arr,
       | json_transform(json_extract(content, '$$.links'), '["JSON"]') AS ll,
       | json_transform(json_extract(content, '$$.properties.contacts'),
       |   '["JSON"]') AS cl,
       | json_transform(json_extract(content, '$$.properties.themes'),
       |   '["JSON"]') AS tl,
       | json_extract_string(content, '$$.id') AS rid,
       | json_extract_string(content, '$$.properties.type') AS ptype,
       | json_extract_string(content, '$$.properties.created') AS created,
       | json_extract_string(content, '$$.geometry.type') AS gtype,
       | json_extract(content, '$$.geometry.coordinates') AS coords,
       | json_type(content, '$$.geometry') AS geom_type,
       | json_type(content, '/properties/wmo:dataPolicy') AS policy_type,
       | json_extract_string(content, '/properties/wmo:dataPolicy') AS policy,
       | json_transform(json_extract(content, '$$.conformsTo'),
       |   '["VARCHAR"]') AS conforms,
       | json_transform(json_extract(content, '$$.properties.themes'),
       |   '[{"concepts":[{"id":"VARCHAR"}],"scheme":"VARCHAR"}]') AS tlist,
       | json_transform(json_extract(content, '$$.properties.contacts'),
       |   '[{"roles":["VARCHAR"]}]') AS clist
       | FROM r),
       |g AS (SELECT *, CASE gtype
       |   WHEN 'Point' THEN [json_transform(coords, '["DOUBLE"]')]
       |   WHEN 'LineString' THEN json_transform(coords, '[["DOUBLE"]]')
       |   WHEN 'MultiPoint' THEN json_transform(coords, '[["DOUBLE"]]')
       |   WHEN 'Polygon' THEN
       |     flatten(json_transform(coords, '[[["DOUBLE"]]]'))
       |   WHEN 'MultiLineString' THEN
       |     flatten(json_transform(coords, '[[["DOUBLE"]]]'))
       |   WHEN 'MultiPolygon' THEN
       |     flatten(flatten(json_transform(coords, '[[[["DOUBLE"]]]]')))
       |   ELSE NULL END AS pos,
       | coalesce(len(list_filter(ll, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS links_bad_elem,
       | coalesce(len(list_filter(cl, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS contacts_bad_elem,
       | coalesce(len(list_filter(tl, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS themes_bad_elem,
       | len(ll) AS n_links_raw,
       | coalesce(len(list_filter(ll, e ->
       |   e IS NOT NULL AND json_type(e) = 'OBJECT'
       |   AND json_extract_string(e, '$$.rel') = 'license')) > 0, false)
       |   AS has_license_raw,
       | coalesce(len(list_filter(ll, e ->
       |   e IS NOT NULL AND json_type(e) = 'OBJECT' AND (
       |    coalesce(NOT list_contains($relsArr,
       |      json_extract_string(e, '$$.rel')), false)
       |    OR coalesce(starts_with(json_extract_string(e, '$$.href'), 'mqtt')
       |       AND json_extract_string(e, '$$.channel') IS NULL, false)
       |    OR coalesce(starts_with(json_extract_string(e, '$$.href'), 'mqtt')
       |       AND (starts_with(json_extract_string(e, '$$.channel'),
       |              'origin/a/wis2')
       |         OR starts_with(json_extract_string(e, '$$.channel'),
       |              'cache/a/wis2'))
       |       AND NOT ${validChannel("json_extract_string(e, '$.channel')")},
       |       false)
       |    OR coalesce(json_type(e, '$$.security') = 'OBJECT'
       |       AND len(list_filter(json_keys(e, '$$.security'), k ->
       |            json_type(e, '/security/' || k) IS NOT NULL
       |            AND json_type(e, '/security/' || k) != 'OBJECT')) = 0
       |       AND len(list_filter(json_keys(e, '$$.security'), k ->
       |            json_type(e, '/security/' || k) IS NULL
       |            OR (json_type(e, '/security/' || k) = 'OBJECT'
       |                AND json_type(e, '/security/' || k || '/description')
       |                    IS NULL))) > 0, false)
       |  ))) > 0, false) AS any_link_fail,
       | coalesce(len(list_filter(ll, e ->
       |   e IS NULL OR json_type(e) != 'OBJECT'
       |   OR json_type(e, '$$.href') IS DISTINCT FROM 'VARCHAR'
       |   OR json_type(e, '$$.rel') IS DISTINCT FROM 'VARCHAR')) > 0, false)
       |   AS gate_links_item,
       | coalesce(len(list_filter(cl, e ->
       |   e IS NULL OR json_type(e) != 'OBJECT'
       |   OR json_type(e, '$$.roles') IS DISTINCT FROM 'ARRAY'
       |   OR (json_type(e, '$$.name') IS NULL
       |       AND json_type(e, '$$.organization') IS NULL))) > 0, false)
       |   AS gate_contacts_item,
       | coalesce(len(list_filter(tl, te ->
       |   te IS NULL OR json_type(te) != 'OBJECT'
       |   OR json_type(te, '$$.concepts') IS DISTINCT FROM 'ARRAY'
       |   OR (json_type(te, '$$.concepts') = 'ARRAY'
       |       AND json_array_length(te, '$$.concepts') = 0)
       |   OR json_type(te, '$$.scheme') IS DISTINCT FROM 'VARCHAR'
       |   OR (json_type(te, '$$.concepts') = 'ARRAY'
       |       AND len(list_filter(
       |            json_transform(json_extract(te, '$$.concepts'),
       |              '["JSON"]'), ke ->
       |            ke IS NULL OR json_type(ke) != 'OBJECT'
       |            OR json_type(ke, '$$.id') IS DISTINCT FROM 'VARCHAR'))
       |           > 0))) > 0, false)
       |   AS gate_themes_item
       | FROM f),
       |v AS (SELECT path, ok,
       | (json_type(content, '$$.id') IS DISTINCT FROM 'VARCHAR'
       |  OR json_type(content, '$$.conformsTo') IS DISTINCT FROM 'ARRAY'
       |  OR NOT coalesce(list_contains(conforms, '$core'), false)
       |  OR json_type(content, '$$.type') IS NULL
       |  OR json_extract_string(content, '$$.type')
       |     IS DISTINCT FROM 'Feature'
       |  OR json_type(content, '$$.time') IS NULL
       |  OR json_type(content, '$$.time') NOT IN ('OBJECT','NULL')
       |  OR json_type(content, '$$.geometry') IS NULL
       |  OR json_type(content, '$$.geometry') NOT IN ('OBJECT','NULL')
       |  OR NOT props_ok
       |  OR json_type(content, '$$.links') IS DISTINCT FROM 'ARRAY'
       |  OR (links_arr AND json_array_length(content, '$$.links') = 0)
       |  OR (props_ok AND (
       |    json_type(content, '$$.properties.title')
       |      IS DISTINCT FROM 'VARCHAR'
       |    OR json_type(content, '$$.properties.description')
       |      IS DISTINCT FROM 'VARCHAR'
       |    OR json_type(content, '$$.properties.type')
       |      IS DISTINCT FROM 'VARCHAR'
       |    OR json_type(content, '$$.properties.created')
       |      IS DISTINCT FROM 'VARCHAR'
       |    OR NOT contacts_arr
       |    OR (contacts_arr
       |        AND json_array_length(content, '$$.properties.contacts') = 0)
       |    OR NOT themes_arr
       |    OR (themes_arr
       |        AND json_array_length(content, '$$.properties.themes') = 0)))
       |  OR (links_arr AND gate_links_item)
       |  OR (props_ok AND contacts_arr AND gate_contacts_item)
       |  OR (props_ok AND themes_arr AND gate_themes_item)
       |  -- pattern (string instances only): the WCMP2 id URN prefix
       |  OR (json_type(content, '$$.id') = 'VARCHAR'
       |      AND NOT starts_with(rid, 'urn:wmo:md:'))
       |  -- uniqueItems over conformsTo's coerced string leaves
       |  -- (list_distinct drops NULLs, so compare against non-null count)
       |  OR (json_type(content, '$$.conformsTo') = 'ARRAY'
       |      AND len(list_distinct(conforms))
       |          != len(list_filter(conforms, x -> x IS NOT NULL)))
       |  ) AS gate_fail,
       | (rid IS NOT NULL AND (
       |   len(string_split(rid, ':')) < 5
       |   OR NOT starts_with(rid, 'urn:wmo:md:')
       |   OR contains(list_extract(string_split(rid, ':'), -1), ' ')
       |   OR coalesce(NOT ends_with(string_split(rid, ':')[4], '-test')
       |       AND NOT list_contains($centresArr,
       |             string_split(rid, ':')[4]), false)
       |   OR NOT regexp_matches(rid, '^[\\x00-\\x7F]*$$')
       |   OR list_extract(string_split(rid, ':'), -1) = ''
       | )) AS identifier_fail,
       | coalesce(NOT list_contains($resTypesArr, ptype), false) AS rtype_fail,
       | (geom_type IS NOT NULL AND geom_type != 'NULL' AND coalesce(
       |   NOT (list_min(list_transform(pos, p -> p[1])) BETWEEN -180 AND 180
       |     AND list_min(list_transform(pos, p -> p[2])) BETWEEN -90 AND 90
       |     AND list_max(list_transform(pos, p -> p[1])) BETWEEN -180 AND 180
       |     AND list_max(list_transform(pos, p -> p[2])) BETWEEN -90 AND 90),
       |   false)) AS geo_fail,
       | (CASE WHEN themes_arr AND NOT themes_bad_elem
       |         AND len(tlist) < 1 THEN true
       |   ELSE
       |    coalesce(len(list_filter(
       |      CASE WHEN themes_arr AND NOT themes_bad_elem
       |           THEN tlist ELSE NULL END,
       |      t -> CASE WHEN len(t.concepts) < 1 THEN true
       |            WHEN t.scheme IS NULL THEN true
       |            ELSE len(list_filter(t.concepts, c ->
       |              c.id IS NULL
       |              OR (ends_with(t.scheme, 'earth-system-discipline')
       |                  AND NOT list_contains($esdArr, c.id)))) > 0 END))
       |      > 0, false)
       |    OR NOT coalesce(len(list_filter(
       |      CASE WHEN themes_arr AND NOT themes_bad_elem
       |           THEN tlist ELSE NULL END,
       |      t -> coalesce(contains(t.scheme, 'earth-system-discipline'),
       |                    false))) > 0, false)
       |  END) AS themes_fail,
       | coalesce(len(list_filter(
       |   CASE WHEN contacts_arr AND NOT contacts_bad_elem
       |        THEN clist ELSE NULL END,
       |   c -> len(list_filter(c.roles,
       |     ro -> ro IS NOT NULL AND NOT list_contains($rolesArr, ro))) > 0
       |  )) > 0, false) AS contacts_fail,
       | NOT coalesce(
       |   try_strptime(substr(created, 1, 19),
       |     '%Y-%m-%dT%H:%M:%S') IS NOT NULL
       |   AND regexp_matches(created,
       |     '^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}(Z|\\.[0-9]{1,6}Z|[+-]([0-9]{4}|[0-9]{6}|[0-9]{2}:[0-9]{2}(:[0-9]{2})?))$$'),
       |   false) AS created_fail,
       | (coalesce(ptype = 'dataset', false) AND (
       |   policy_type IS NULL
       |   OR coalesce(NOT list_contains($policiesArr, policy), false)
       |   OR coalesce(policy = 'recommended'
       |       AND NOT (links_arr AND NOT links_bad_elem
       |                AND has_license_raw), false))) AS policy_fail,
       | (links_arr AND NOT links_bad_elem
       |  AND (n_links_raw = 0 OR coalesce(any_link_fail, false)))
       |  AS links_fail
       | FROM g)
       |SELECT path, ok AS parse_ok,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN gate_fail THEN 'FAILED' ELSE 'PASSED' END AS validation,
       | CASE WHEN NOT ok THEN NULL ELSE 'PASSED' END AS conformance,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN contacts_fail THEN 'FAILED' ELSE 'PASSED' END AS contacts,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN created_fail THEN 'FAILED' ELSE 'PASSED' END
       |   AS created_datetime,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN policy_fail THEN 'FAILED' ELSE 'PASSED' END AS data_policy,
       | CASE WHEN NOT ok THEN NULL ELSE 'PASSED' END AS description,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN geo_fail THEN 'FAILED' ELSE 'PASSED' END
       |   AS extent_geospatial,
       | CASE WHEN NOT ok THEN NULL ELSE 'PASSED' END AS extent_temporal,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN identifier_fail THEN 'FAILED' ELSE 'PASSED' END
       |   AS identifier,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN links_fail THEN 'FAILED' ELSE 'PASSED' END AS links,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN themes_fail THEN 'FAILED' ELSE 'PASSED' END AS themes,
       | CASE WHEN NOT ok THEN NULL ELSE 'PASSED' END AS title,
       | CASE WHEN NOT ok THEN NULL
       |      WHEN rtype_fail THEN 'FAILED' ELSE 'PASSED' END AS rtype
       |FROM v ORDER BY path""".stripMargin
  }

  /** The q_kpi_matrix oracle: independent DuckDB re-scoring of all 7
    * KPIs (totals, scores, summary percentage + grade) with the offline
    * probe's semantics (accessible = true, mime = declared type else
    * text/html), the vendored 7k-word spell lexicon inlined, and every
    * reference quirk mirrored: the kpi_title bulletin -1, the
    * kpi_contacts last-contact email bug, the kpi_pids
    * score-exceeds-total, and the link-pool theme-poisoning rules. */
  private def kpiMatrixSql: String = kpiMatrixSqlFor(OracleDump.glob("records_ets"))
  private def kpiMatrixSqlFor(glob: String): String = {
    import graft.dims.Dims
    require(Dims.validMimes.contains("text/html"),
      "K5 null-type entries assume text/html is a valid MIME")
    def arrLit(vs: Seq[String]): String =
      vs.distinct.map(v => "'" + v.replace("'", "''") + "'")
        .mkString("[", ", ", "]")
    val dict = arrLit(Dims.dictionary)
    val webImgArr = arrLit(Dims.webImageMimes)
    val mimesArr = arrLit(Dims.validMimes)
    // pyspellchecker split_words: Java (?U)\w over the lowercased text;
    // RE2 spelling of the same class
    val w = "[\\p{L}\\p{N}_]"
    // the apostrophe inside the class is doubled for SQL string embedding
    val wordRe = s"$w[\\p{L}\\p{N}_'']*$w|$w"
    // Python float() grammar, kept in sync with TextKernels.floatLikeToken
    val floatRe = {
      val d = "[0-9](?:_?[0-9])*"
      s"^[+-]?((?i:inf(?:inity)?|nan)|(?:$d(?:\\.(?:$d)?)?|\\.$d)(?:[eE][+-]?$d)?)$$$$"
    }
    val acronymRe = "\\b([A-Z]{2,}[0-9]*)\\b"
    val bulletinRe = "[A-Z]{4}[0-9]{2}[\\s_]*[A-Z]{4}"
    val alnumRe = "^[\\p{L}\\p{N}]+$$"
    // misspelled-token count for a text expression
    def mis(col: String): String =
      s"""len(list_filter(regexp_extract_all(lower($col), '$wordRe'),
         |   tok -> NOT regexp_matches(tok, '$floatRe')
         |          AND NOT list_contains($dict, tok)))""".stripMargin
    def pyStrip(e: String): String =
      s"regexp_replace(regexp_replace($e, '^\\s+', ''), '\\s+$$', '')"
    // one gathered temporal extent's 3-point score (engine timeIntervals)
    def ivScore(base: String): String = {
      val iv = s"json_transform(json_extract(content, '$base.interval'), '[\"VARCHAR\"]')"
      s"""(CASE WHEN coalesce((NOT list_contains($iv, '..')
         |        AND $iv[1] <= $iv[2]) OR $iv[2] = '..', false)
         |   THEN 1 ELSE 0 END
         | + CASE WHEN coalesce(NOT ($iv[1] = '..' AND $iv[2] = '..'), false)
         |   THEN 1 ELSE 0 END
         | + CASE WHEN json_type(content, '$base.resolution')
         |        IS NOT NULL AND json_type(content, '$base.resolution')
         |        != 'NULL' THEN 1 ELSE 0 END)""".stripMargin
    }
    s"""WITH r AS (
       | SELECT path, CASE WHEN json_valid(content) THEN content END
       |   AS content, json_valid(content) AS ok
       | FROM read_parquet('$glob')),
       |f AS (SELECT path, content, ok,
       | json_extract_string(content, '$$.properties.title') AS title,
       | json_extract_string(content, '$$.properties.description') AS descr,
       | json_type(content, '$$.links') = 'ARRAY' AS links_arr,
       | json_type(content, '$$.properties') = 'OBJECT' AS props_ok,
       | json_type(content, '$$.properties.contacts') = 'ARRAY'
       |   AS contacts_arr,
       | json_type(content, '$$.properties.themes') = 'ARRAY' AS themes_arr,
       | json_transform(json_extract(content, '$$.links'), '["JSON"]') AS ll,
       | json_transform(json_extract(content, '$$.properties.contacts'),
       |   '["JSON"]') AS cl,
       | json_transform(json_extract(content, '$$.properties.themes'),
       |   '["JSON"]') AS tl
       | FROM r),
       |g AS (SELECT *, 
       | coalesce(len(list_filter(ll, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS links_bad_elem,
       | coalesce(len(list_filter(cl, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS contacts_bad_elem,
       | coalesce(len(list_filter(tl, e ->
       |   e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |   AS themes_bad_elem,
       | list_filter(regexp_split_to_array(title, '\\s+'), x -> x != '')
       |   AS words,
       | ${pyStrip(s"regexp_replace(title, '$acronymRe', '', 'g')")}
       |   AS stripped,
       | ${mis("title")} AS mis_title,
       | ${mis("descr")} AS mis_descr
       | FROM f),
       |k AS (SELECT path, ok,
       | -- K1 good_quality_title (total 8; bulletin scores -1 when present)
       | 8 AS title_total,
       | (CASE WHEN title IS NOT NULL THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(len(words) >= 3, false) THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(length(title) <= 150, false) THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(len(list_filter(words,
       |       x -> NOT regexp_matches(x, '$alnumRe'))) = 0, false)
       |    THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce((CASE WHEN length(stripped) = 0 THEN stripped
       |       ELSE upper(substr(stripped, 1, 1)) || lower(substr(stripped, 2))
       |       END) = stripped, false) THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(len(regexp_extract_all(title,
       |       '$acronymRe', 1)) <= 3, false) THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(regexp_matches(title, '$bulletinRe'), false)
       |    THEN -1 ELSE 1 END
       |  + CASE WHEN coalesce(mis_title = 0, false) THEN 1 ELSE 0 END)
       |   AS title_score,
       | -- K2 good_quality_description (total 4)
       | 4 AS description_total,
       | (CASE WHEN coalesce(length(descr) BETWEEN 16 AND 2048, false)
       |    THEN 1 ELSE 0 END
       |  + CASE WHEN coalesce(regexp_matches(descr,
       |      '<[a-zA-Z!/][^>]*>'), false) THEN 0 ELSE 1 END
       |  + CASE WHEN coalesce(regexp_matches(descr, '$bulletinRe'), false)
       |    THEN 0 ELSE 1 END
       |  + CASE WHEN coalesce(mis_descr = 0, false) THEN 1 ELSE 0 END)
       |   AS description_score,
       | -- K3 time_intervals (per gathered interval: order/open/resolution)
       | (CASE WHEN json_type(content, '$$.time') IS DISTINCT FROM 'OBJECT'
       |    THEN 0 ELSE 3 * (
       |     (CASE WHEN json_type(content, '$$.time.interval') = 'ARRAY'
       |       THEN 1 ELSE 0 END)
       |     + (CASE WHEN json_type(content, '$$.additionalExtents')
       |          = 'OBJECT'
       |         AND json_type(content, '$$.additionalExtents.temporal')
       |          = 'OBJECT'
       |         AND json_type(content,
       |          '$$.additionalExtents.temporal.interval') = 'ARRAY'
       |       THEN 1 ELSE 0 END)) END) AS time_total,
       | (CASE WHEN json_type(content, '$$.time') IS DISTINCT FROM 'OBJECT'
       |    THEN 0 ELSE
       |     (CASE WHEN json_type(content, '$$.time.interval') = 'ARRAY'
       |       THEN ${ivScore("$.time")} ELSE 0 END)
       |     + (CASE WHEN json_type(content, '$$.additionalExtents')
       |          = 'OBJECT'
       |         AND json_type(content, '$$.additionalExtents.temporal')
       |          = 'OBJECT'
       |         AND json_type(content,
       |          '$$.additionalExtents.temporal.interval') = 'ARRAY'
       |       THEN ${ivScore("$.additionalExtents.temporal")}
       |       ELSE 0 END) END) AS time_score,
       | -- K4 graphic_overview (offline probe: accessible, mime=declared)
       | (CASE WHEN links_arr AND NOT links_bad_elem THEN
       |   3 * len(list_filter(ll, e -> e IS NOT NULL
       |      AND json_extract_string(e, '$$.rel') = 'preview')) END)
       |   AS graphic_total,
       | (CASE WHEN links_arr AND NOT links_bad_elem THEN
       |   coalesce(list_sum(list_transform(list_filter(ll, e ->
       |     e IS NOT NULL
       |     AND json_extract_string(e, '$$.rel') = 'preview'),
       |    e -> 2 + (CASE WHEN coalesce(list_contains($webImgArr,
       |         json_extract_string(e, '$$.type')), false)
       |       THEN 1 ELSE 0 END))), 0) END) AS graphic_score,
       | -- K5 links_health: pooled record/theme/contact URLs, 2 pts each
       | (CASE WHEN links_arr AND NOT links_bad_elem THEN
       |   list_filter(ll, e -> e IS NOT NULL AND coalesce(starts_with(
       |     json_extract_string(e, '$$.href'), 'http'), false))
       |  ELSE [] END) AS pool_rec,
       | (CASE WHEN themes_arr AND NOT themes_bad_elem
       |    AND NOT coalesce(len(list_filter(tl, te ->
       |      te IS NULL
       |      OR json_type(te, '$$.concepts') IS DISTINCT FROM 'ARRAY'
       |      OR coalesce(len(list_filter(
       |          json_transform(json_extract(te, '$$.concepts'), '["JSON"]'),
       |          ke -> ke IS NOT NULL AND json_type(ke) != 'OBJECT')) > 0,
       |         false))) > 0, false)
       |  THEN
       |   coalesce(list_sum(list_transform(tl, te ->
       |     len(list_filter(
       |       json_transform(json_extract(te, '$$.concepts'), '["JSON"]'),
       |       ke -> ke IS NOT NULL AND coalesce(starts_with(
       |         json_extract_string(ke, '$$.url'), 'http'), false)))
       |     + (CASE WHEN coalesce(starts_with(
       |          json_extract_string(te, '$$.scheme'), 'http'), false)
       |        THEN 1 ELSE 0 END))), 0)
       |  ELSE 0 END) AS pool_theme_n,
       | (CASE WHEN contacts_arr AND NOT contacts_bad_elem THEN
       |   coalesce(list_sum(list_transform(cl, ce ->
       |     CASE WHEN ce IS NOT NULL
       |       AND json_type(ce, '$$.links') = 'ARRAY'
       |       AND NOT coalesce(len(list_filter(
       |           json_transform(json_extract(ce, '$$.links'), '["JSON"]'),
       |           le -> le IS NOT NULL AND json_type(le) != 'OBJECT')) > 0,
       |          false)
       |     THEN len(list_filter(
       |       json_transform(json_extract(ce, '$$.links'), '["JSON"]'),
       |       le -> le IS NOT NULL AND coalesce(starts_with(
       |         json_extract_string(le, '$$.href'), 'http'), false)))
       |     ELSE 0 END)), 0)
       |  ELSE 0 END) AS pool_contact_n,
       | -- K6 contacts (reference bug: email check reads the LAST contact)
       | (CASE WHEN contacts_arr AND NOT contacts_bad_elem THEN
       |   list_filter(cl, c -> c IS NOT NULL
       |     AND json_type(c, '$$.roles') = 'ARRAY'
       |     AND coalesce(list_contains(json_transform(
       |       json_extract(c, '$$.roles'), '["VARCHAR"]'), 'host'), false))
       |  ELSE NULL END) AS hosts,
       | (CASE WHEN contacts_arr AND NOT contacts_bad_elem
       |   THEN list_extract(cl, -1) END) AS last_contact,
       | -- K7 pids
       | (props_ok AND json_type(content, '/properties/externalIds')
       |   IS NOT NULL) AS ext_present,
       | coalesce(json_type(content, '$$.properties.externalIds') = 'ARRAY'
       |  AND NOT coalesce(len(list_filter(json_transform(
       |       json_extract(content, '$$.properties.externalIds'),
       |       '["JSON"]'), e ->
       |       e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0, false)
       |  AND len(list_filter(json_transform(
       |       json_extract(content, '$$.properties.externalIds'),
       |       '["JSON"]'), e -> e IS NOT NULL
       |       AND json_extract_string(e, '$$.scheme')
       |           IN ('doi','ark','hdl'))) > 0, false) AS scheme_ok,
       | coalesce(links_arr AND NOT links_bad_elem
       |  AND len(list_filter(ll, e -> e IS NOT NULL
       |      AND json_extract_string(e, '$$.rel') = 'cite-as')) > 0, false)
       |   AS cite_as,
       | ll, links_arr, links_bad_elem
       | FROM g),
       |k2 AS (SELECT *, 
       | 2 * (len(pool_rec) + pool_theme_n + pool_contact_n) AS links_total,
       | coalesce(list_sum(list_transform(pool_rec, e ->
       |    1 + (CASE WHEN coalesce(list_contains($mimesArr,
       |          coalesce(json_extract_string(e, '$$.type'), 'text/html')),
       |         false) THEN 1 ELSE 0 END))), 0)
       |  + 2 * (pool_theme_n + pool_contact_n) AS links_score,
       | (CASE WHEN hosts IS NOT NULL AND len(hosts) > 0
       |   THEN list_extract(hosts, -1) END) AS host
       | FROM k),
       |k3 AS (SELECT *, 
       | 3 AS contacts_total,
       | ((CASE WHEN host IS NOT NULL THEN 1 ELSE 0 END)
       |  + (CASE WHEN host IS NOT NULL
       |      AND json_type(host, '$$.contactInstructions') IS NOT NULL
       |      AND json_type(host, '$$.contactInstructions') != 'NULL'
       |     THEN 1 ELSE 0 END)
       |  + (CASE WHEN host IS NOT NULL AND last_contact IS NOT NULL
       |      AND json_type(last_contact, '$$.emails') = 'ARRAY'
       |      AND NOT coalesce(len(list_filter(json_transform(
       |           json_extract(last_contact, '$$.emails'), '["JSON"]'),
       |           e -> e IS NOT NULL AND json_type(e) != 'OBJECT')) > 0,
       |          false)
       |      AND len(list_filter(json_transform(
       |           json_extract(last_contact, '$$.emails'), '["JSON"]'),
       |           e -> e IS NOT NULL
       |           AND json_type(e, '$$.value') IS NOT NULL
       |           AND json_type(e, '$$.value') != 'NULL')) > 0
       |     THEN 1 ELSE 0 END)) AS contacts_score,
       | (CASE WHEN ext_present THEN 3 ELSE 0 END) AS pids_total,
       | ((CASE WHEN ext_present
       |    THEN 1 + (CASE WHEN scheme_ok THEN 1 ELSE 0 END) ELSE 0 END)
       |  + (CASE WHEN cite_as THEN 1 ELSE 0 END)) AS pids_score
       | FROM k2),
       |fin AS (SELECT *, 
       | contacts_total + description_total + graphic_total + links_total
       |  + pids_total + time_total + title_total AS sum_total,
       | contacts_score + description_score + graphic_score + links_score
       |  + pids_score + time_score + title_score AS sum_score
       | FROM k3)
       |SELECT path, ok AS parse_ok,
       | CASE WHEN ok THEN contacts_total END AS contacts_total,
       | CASE WHEN ok THEN contacts_score END AS contacts_score,
       | CASE WHEN ok THEN description_total END AS description_total,
       | CASE WHEN ok THEN description_score END AS description_score,
       | CASE WHEN ok THEN graphic_total END AS graphic_total,
       | CASE WHEN ok THEN graphic_score END AS graphic_score,
       | CASE WHEN ok THEN links_total END AS links_total,
       | CASE WHEN ok THEN links_score END AS links_score,
       | CASE WHEN ok THEN pids_total END AS pids_total,
       | CASE WHEN ok THEN pids_score END AS pids_score,
       | CASE WHEN ok THEN time_total END AS time_total,
       | CASE WHEN ok THEN time_score END AS time_score,
       | CASE WHEN ok THEN title_total END AS title_total,
       | CASE WHEN ok THEN title_score END AS title_score,
       | CASE WHEN ok THEN sum_total END AS sum_total,
       | CASE WHEN ok THEN sum_score END AS sum_score,
       | CASE WHEN ok AND sum_total != 0
       |   THEN round(sum_score * 100.0 / sum_total, 3) END
       |  AS sum_percentage,
       | CASE WHEN NOT ok OR sum_total = 0 OR sum_total IS NULL THEN NULL
       |  WHEN round(sum_score * 100.0 / sum_total, 3) > 100
       |    OR round(sum_score * 100.0 / sum_total, 3) < 0
       |   THEN 'ERROR:invalid percentage'
       |  WHEN round(sum_score * 100.0 / sum_total, 3) >= 80 THEN 'A'
       |  WHEN round(sum_score * 100.0 / sum_total, 3) >= 65 THEN 'B'
       |  WHEN round(sum_score * 100.0 / sum_total, 3) >= 50 THEN 'C'
       |  WHEN round(sum_score * 100.0 / sum_total, 3) >= 35 THEN 'D'
       |  WHEN round(sum_score * 100.0 / sum_total, 3) >= 20 THEN 'E'
       |  ELSE CAST(round(sum_score * 100.0 / sum_total, 3) AS VARCHAR) END
       |  AS grade
       |FROM fin ORDER BY path""".stripMargin
  }

  /** DuckDB-runnable ANSI SQL twins; column names/aliases match the Spark
    * results exactly (the driver compare sorts columns by name). */
  def oracleSql: Map[String, String] = Map(
    "q_ets_matrix" -> etsMatrixSql,
    "q_kpi_matrix" -> kpiMatrixSql,
    // (path, rule_id) violation rows unpivoted from the matrix columns
    "q_violation_rows" -> {
      val core = "http://wis.wmo.int/spec/wcmp/2/conf/core"
      // matrix column -> reference test-id slug (EtsRules testId)
      val slugs = Seq(
        "conformance" -> "conformance", "contacts" -> "contacts",
        "created_datetime" -> "record_created_datetime",
        "data_policy" -> "data_policy", "description" -> "description",
        "extent_geospatial" -> "extent_geospatial",
        "extent_temporal" -> "extent_temporal",
        "identifier" -> "identifier", "links" -> "links",
        "themes" -> "themes", "title" -> "title", "rtype" -> "type")
      val unions = slugs.map { case (col, slug) =>
        s"SELECT path, '$core/$slug' AS rule_id FROM m WHERE $col = 'FAILED'"
      }.mkString("\n        |  UNION ALL ")
      s"""WITH m AS (${etsMatrixSql}),
        | f AS (
        |  SELECT path, 'parse_error' AS rule_id FROM m WHERE NOT parse_ok
        |  UNION ALL
        |  SELECT path, '$core/validation' FROM m
        |   WHERE validation = 'FAILED'
        |  UNION ALL $unions)
        |SELECT path, rule_id, 'ERROR' AS severity FROM f""".stripMargin
    },
    // per-lang rollup over BOTH matrix re-implementations + an
    // independent sha256-prefix fingerprint recomputation
    "q_partition_verdicts" -> {
      def failedSum(code: String) =
        Seq("conformance", "contacts", "created_datetime", "data_policy",
          "description", "extent_geospatial", "extent_temporal",
          "identifier", "links", "themes", "title", "rtype")
          .map(t => s"(CASE WHEN $t = '$code' THEN 1 ELSE 0 END)")
          .mkString("\n        |   + ")
      s"""WITH m AS (${etsMatrixSql}),
        | k AS (${kpiMatrixSql}),
        | r AS (SELECT path, lang,
        |   CAST('0x' || substr(sha256(content), 1, 15) AS BIGINT) AS shafp
        |  FROM read_parquet('${OracleDump.glob("records_ets")}')),
        | per AS (SELECT r.lang, m.parse_ok, r.shafp,
        |   CASE WHEN m.parse_ok THEN
        |    (${failedSum("FAILED")}) END AS failed,
        |   k.sum_percentage AS pct
        |  FROM r JOIN m ON m.path = r.path JOIN k ON k.path = r.path)
        |SELECT lang, CAST(count(*) AS BIGINT) AS records,
        | CAST(sum(CASE WHEN NOT parse_ok THEN 1 ELSE 0 END) AS BIGINT)
        |   AS parse_errors,
        | CAST(sum(CASE WHEN parse_ok AND failed = 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS passed_records,
        | CAST(sum(CASE WHEN parse_ok AND failed > 0 THEN 1 ELSE 0 END)
        |   AS BIGINT) AS failed_records,
        | CAST(sum(CASE WHEN parse_ok THEN failed ELSE 0 END) AS BIGINT)
        |   AS failed_tests,
        | round_even(avg(pct), 3) AS mean_kpi_percentage,
        | bit_xor(shafp) AS sha_fingerprint,
        | CASE WHEN sum(CASE WHEN (parse_ok AND failed > 0)
        |       OR NOT parse_ok THEN 1 ELSE 0 END) = 0
        |   THEN 'PASS' ELSE 'FAIL' END AS verdict
        |FROM per GROUP BY lang""".stripMargin
    },
    // per-record ETS summary counts = an aggregation over the ETS matrix
    // evaluated on the dumped fixture table
    "wcmp_ets_summary" ->
      s"""WITH m AS (${etsMatrixSqlFor(OracleDump.glob("records_fix"))})
        | SELECT path, parse_ok,
        |  CASE WHEN parse_ok THEN
        |   ((CASE WHEN conformance = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN contacts = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN created_datetime = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN data_policy = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN description = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN extent_geospatial = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN extent_temporal = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN identifier = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN links = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN themes = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN title = 'PASSED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN rtype = 'PASSED' THEN 1 ELSE 0 END)) END AS passed,
        |  CASE WHEN parse_ok THEN
        |   ((CASE WHEN conformance = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN contacts = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN created_datetime = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN data_policy = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN description = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN extent_geospatial = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN extent_temporal = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN identifier = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN links = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN themes = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN title = 'FAILED' THEN 1 ELSE 0 END)
        |   + (CASE WHEN rtype = 'FAILED' THEN 1 ELSE 0 END)) END AS failed
        | FROM m ORDER BY path""".stripMargin,
    // per-record KPI summary = the matrix's summary columns on fixtures
    "wcmp_kpi_summary" ->
      s"""WITH m AS (${kpiMatrixSqlFor(OracleDump.glob("records_fix"))})
        | SELECT path, sum_total AS total, sum_score AS score,
        |  sum_percentage AS percentage, grade
        | FROM m ORDER BY path""".stripMargin,
    "q_agg_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS n_rows, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price
        | FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q_broadcast_join" ->
      """SELECT r_name AS region_name, count(*) AS n_customers,
        | min(c_name) AS first_customer
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name FROM customer WHERE EXISTS (
        | SELECT 1 FROM orders
        | WHERE o_custkey = c_custkey AND o_totalprice > 100000)""".stripMargin,
    "q_anti_referential" ->
      """SELECT c_nationkey, count(*) AS n_violations FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM nation
        |   WHERE n_nationkey = c_nationkey AND n_nationkey < 20)
        | GROUP BY c_nationkey""".stripMargin,
    "q_uniqueness" ->
      """SELECT count(*) AS dup_groups,
        | CAST(sum(cnt) AS BIGINT) AS dup_rows FROM (
        | SELECT o_custkey, o_orderdate, count(*) AS cnt FROM orders
        | GROUP BY o_custkey, o_orderdate HAVING count(*) > 1)""".stripMargin,
    "q_colstats" ->
      """SELECT count(*) AS n_rows, count(o_custkey) AS custkey_nonnull,
        | count(DISTINCT o_custkey) AS custkey_distinct,
        | min(o_totalprice) AS min_total, max(o_totalprice) AS max_total,
        | count(DISTINCT o_orderpriority) AS n_priorities
        | FROM orders""".stripMargin,
    "q_grade_bucket" ->
      """SELECT CASE WHEN c_acctbal >= 8000 THEN 'A'
        |  WHEN c_acctbal >= 6500 THEN 'B' WHEN c_acctbal >= 5000 THEN 'C'
        |  WHEN c_acctbal >= 3500 THEN 'D' WHEN c_acctbal >= 2000 THEN 'E'
        |  ELSE 'X' END AS grade, count(*) AS n
        | FROM customer GROUP BY 1""".stripMargin,
    "q_rule_violations" ->
      """WITH ruled AS (SELECT CASE
        |  WHEN NOT regexp_matches(p_name, '^[a-z ]+$') THEN 'name_charset'
        |  WHEN p_size > 45 THEN 'size_range'
        |  WHEN length(p_name) > 11 THEN 'name_length'
        |  END AS rule_id FROM part)
        | SELECT rule_id, count(*) AS n_violations FROM ruled
        | WHERE rule_id IS NOT NULL GROUP BY 1""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
        |   PARTITION BY o_custkey
        |   ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn = 1""".stripMargin,
    "q_set_ops" ->
      """SELECT count(*) AS n FROM (
        | SELECT DISTINCT s_nationkey AS nk FROM supplier
        | EXCEPT
        | SELECT DISTINCT c_nationkey AS nk FROM customer)""".stripMargin,
    "q_date_parts" ->
      """SELECT EXTRACT(year FROM ts) AS y, EXTRACT(month FROM ts) AS m,
        | count(*) AS n, count(DISTINCT user_id) AS n_users
        | FROM events GROUP BY 1, 2""".stripMargin,
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        | sum(l_quantity) AS sum_qty
        | FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "q_outer_join" ->
      """SELECT n_orders, count(*) AS n_customers FROM (
        | SELECT c_custkey, count(o_orderkey) AS n_orders FROM customer
        | LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey)
        | GROUP BY n_orders""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q_sessionize" ->
      """WITH g AS (SELECT user_id, CASE WHEN prev_ts IS NULL OR
        |   CAST(epoch(ts) AS BIGINT) - CAST(epoch(prev_ts) AS BIGINT) > 1800
        |   THEN 1 ELSE 0 END AS new_session FROM (
        |  SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_ts FROM events)),
        | per_user AS (SELECT user_id,
        |   CAST(sum(new_session) AS BIGINT) AS n_sessions
        |  FROM g GROUP BY user_id)
        | SELECT n_sessions, count(*) AS n_users FROM per_user
        | GROUP BY n_sessions""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(substr(text, 1, 60)) AS prefix_md5,
        | count(*) AS n_copies, min(doc_id) AS keep_id
        | FROM documents GROUP BY 1 HAVING count(*) > 1""".stripMargin,
    // the dump carries counts from the independent JVM reference BPE
    // implementation; equality against the Spark result proves the
    // codegen'd kernel document-by-document
    "q_token_bpe" ->
      s"""SELECT doc_id, CAST(n_bpe AS INTEGER) AS n_bpe
        | FROM read_parquet('${OracleDump.glob("bpe_ref")}')
        | ORDER BY doc_id""".stripMargin,
    "q_pii" -> {
      import graft.operators.TextAnalysis.piiPatterns
      val counts = piiPatterns.map { case (c, p, _) =>
        s"len(regexp_extract_all(text, '$p')) AS n_$c"
      }.mkString(",\n        | ")
      val redacted = piiPatterns.foldLeft("text") { case (acc, (_, p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      s"""WITH aug AS (SELECT doc_id, text ||
        | CASE WHEN doc_id % 7 = 0
        |  THEN ' contact me at john.doe@example.com or at 192.168.1.77'
        |  ELSE '' END ||
        | CASE WHEN doc_id % 11 = 0
        |  THEN ' ssn 123-45-6789 card 4111 1111 1111 1111 call +1 (415) 555-0134'
        |  ELSE '' END AS text FROM documents),
        |c AS (SELECT $counts,
        | length($redacted) AS rc FROM aug)
        |SELECT CAST(sum(n_email) AS BIGINT) AS n_email,
        | CAST(sum(n_card) AS BIGINT) AS n_card,
        | CAST(sum(n_ssn) AS BIGINT) AS n_ssn,
        | CAST(sum(n_ipv4) AS BIGINT) AS n_ipv4,
        | CAST(sum(n_phone) AS BIGINT) AS n_phone,
        | CAST(sum(CASE WHEN n_email + n_card + n_ssn + n_ipv4 + n_phone > 0
        |   THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
        | CAST(sum(rc) AS BIGINT) AS redacted_chars
        |FROM c""".stripMargin
    },
    "q_decontaminate" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        | corpus AS (
        |   SELECT doc_id, text, doc_id % 41 = 0 AS is_bench FROM base
        |   UNION ALL
        |   SELECT doc_id + 5000000,
        |     'leading context ' || text || ' trailing', false
        |   FROM base WHERE doc_id % 41 = 0),
        | tk AS (SELECT doc_id, is_bench,
        |   list_filter(string_split_regex(lower(text), '\s+'),
        |     w -> w <> '') AS t FROM corpus),
        | sh AS (SELECT doc_id, is_bench, CASE WHEN len(t) < 13
        |   THEN [array_to_string(t, ' ')]
        |   ELSE list_distinct(list_transform(range(0, len(t) - 12),
        |        i -> array_to_string(t[i+1:i+13], ' '))) END AS s FROM tk),
        | bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh
        |   WHERE is_bench),
        | train AS (SELECT doc_id AS id, unnest(s) AS gram FROM sh
        |   WHERE NOT is_bench)
        |SELECT id, CAST(count(DISTINCT t.gram) AS BIGINT)
        |   AS n_contaminated_grams
        |FROM train t JOIN bench b USING (gram) GROUP BY id""".stripMargin,
    "q_repetition" ->
      """WITH aug AS (SELECT doc_id AS id, text ||
        |  CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
        |   'boilerplate navigation menu' || chr(10) ||
        |   'boilerplate navigation menu' || chr(10) ||
        |   'unique footer line' ELSE '' END AS text
        | FROM documents WHERE doc_id < 300),
        | lns AS (SELECT id, trim(l) AS line FROM (
        |   SELECT id, unnest(string_split(text, chr(10))) AS l FROM aug)
        |  WHERE trim(l) <> ''),
        | lc AS (SELECT id, line, count(*) AS cnt FROM lns GROUP BY 1, 2),
        | lagg AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_lines,
        |   round(1.0 - CAST(count(*) AS DOUBLE) / sum(cnt), 6)
        |     AS dup_line_frac,
        |   round(CAST(coalesce(sum(CASE WHEN cnt > 1
        |       THEN length(line) * cnt END), 0) AS DOUBLE)
        |     / sum(length(line) * cnt), 6) AS dup_line_char_frac
        |  FROM lc GROUP BY id),
        | tk AS (SELECT id,
        |   list_filter(string_split_regex(lower(text), '\s+'),
        |     w -> w <> '') AS t FROM aug),
        | gr AS (SELECT id, unnest(CASE WHEN len(t) < 3
        |     THEN [array_to_string(t, ' ')]
        |     ELSE list_transform(range(0, len(t) - 2),
        |          i -> array_to_string(t[i+1:i+3], ' ')) END) AS gram
        |   FROM tk),
        | gc AS (SELECT id, gram, count(*) AS cnt FROM gr GROUP BY 1, 2),
        | gagg AS (SELECT id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |   round(CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0)
        |     AS DOUBLE) / sum(cnt), 6) AS dup_gram_frac,
        |   round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_gram_frac
        |  FROM gc GROUP BY id)
        |SELECT coalesce(l.id, g.id) AS id, n_lines, dup_line_frac,
        | dup_line_char_frac, n_grams, dup_gram_frac, top_gram_frac
        |FROM lagg l FULL OUTER JOIN gagg g ON l.id = g.id""".stripMargin,
    "q_top_terms" ->
      """WITH toks AS (SELECT lang,
        |   unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |     w -> w <> '')) AS term FROM documents),
        | c AS (SELECT lang, term, count(*) AS n FROM toks GROUP BY 1, 2),
        | r AS (SELECT lang, term, n, CAST(row_number() OVER (
        |   PARTITION BY lang ORDER BY n DESC, term) AS INTEGER) AS rank
        |  FROM c)
        | SELECT lang, term, n, rank FROM r WHERE rank <= 10""".stripMargin,
    "q_langid_confusion" ->
      """WITH toks AS (SELECT lang,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> w <> '') AS tk FROM documents),
        | hits AS (SELECT lang,
        |  len(list_filter(tk, t -> list_contains(['the','and','of','to',
        |   'in','is','that','for','with','a','on','as','at','this','are'],
        |   t))) AS h_en,
        |  len(list_filter(tk, t -> list_contains(['le','la','les','de',
        |   'des','et','en','un','une','du','est','que','pour','dans','au'],
        |   t))) AS h_fr,
        |  len(list_filter(tk, t -> list_contains(['der','die','das','und',
        |   'in','den','von','zu','mit','ist','des','im','ein','eine','auf'],
        |   t))) AS h_de,
        |  len(list_filter(tk, t -> list_contains(['el','la','los','las',
        |   'de','y','en','un','una','del','es','que','por','con','para'],
        |   t))) AS h_es FROM toks)
        | SELECT lang, CASE
        |  WHEN greatest(h_en, h_fr, h_de, h_es) = 0 THEN 'und'
        |  WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |  WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |  WHEN h_en >= h_de THEN 'en' ELSE 'de' END AS lang_pred,
        | count(*) AS n FROM hits GROUP BY 1, 2""".stripMargin,
    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id,
        |   CAST(embedding AS DOUBLE[]) AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        | scored AS (SELECT q.query_id, e.vec_id AS id,
        |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec)
        |     AS cos FROM embeddings e CROSS JOIN q),
        | ranked AS (SELECT query_id, id, CAST(row_number() OVER (
        |   PARTITION BY query_id ORDER BY cos DESC, id) AS INTEGER) AS rank
        |  FROM scored)
        | SELECT query_id, id, rank FROM ranked WHERE rank <= 10""".stripMargin,
    "q_jaccard_exact" ->
      """WITH tk AS (SELECT doc_id,
        |   list_filter(string_split_regex(lower(text), '\s+'),
        |     w -> w <> '') AS t FROM documents),
        | sh AS (SELECT doc_id, CASE WHEN len(t) < 3
        |   THEN [array_to_string(t, ' ')]
        |   ELSE list_distinct(list_transform(range(0, len(t) - 2),
        |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) END AS s
        |  FROM tk),
        | p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |   a.s AS sa, b.s AS sb
        |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id < 50)
        | SELECT id_a, id_b, CAST(len(list_intersect(sa, sb)) AS DOUBLE) /
        |   len(list_distinct(list_concat(sa, sb))) AS jaccard FROM p""".stripMargin,
    // the audio features from the synthWav closed forms: peak = A/2^15,
    // rms = A*sqrt((n-s)/n)/2^15 (both engines feed IEEE sqrt the exact
    // same integer-valued quotient — see AudioOps.synthWav), silence = s/n
    "q_audio_features" ->
      """WITH p AS (SELECT doc_id,
        |    400 + (doc_id % 5) * 100 AS n,
        |    doc_id % 100 AS s,
        |    CASE WHEN doc_id % 7 = 6 THEN 32767
        |         ELSE 1000 + (doc_id % 7) * 4000 END AS a
        |  FROM documents)
        | SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  ROUND(a / 32768.0, 6) AS peak,
        |  ROUND(sqrt(((n - s) * a * a) / CAST(n AS DOUBLE)) / 32768.0, 6)
        |    AS rms,
        |  ROUND(s / CAST(n AS DOUBLE), 6) AS silence_ratio
        | FROM p ORDER BY doc_id""".stripMargin,
    // codec closed forms (see AudioOps.synthWavCodec): fmt cycles
    // engine ADPCM decode vs the independent AdpcmReference decode of
    // the SAME bytes (adaptive coding has no closed form): DuckDB just
    // compares the two dumped/computed feature sets per document
    "q_audio_adpcm" ->
      s"""SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(duration_ms AS BIGINT) AS duration_ms,
        |  ROUND(peak, 6) AS peak, ROUND(rms, 6) AS rms,
        |  ROUND(silence_ratio, 6) AS silence_ratio
        | FROM read_parquet('${OracleDump.glob("adpcm_ref")}')
        | ORDER BY doc_id""".stripMargin,
    // µ-law / A-law / float32; for G.711 the active square wave is the
    // direct 7-bit magnitude code m, so the oracle's "decode" IS the
    // ITU-T G.711 expansion formula; A-law silence is the real codec
    // silence byte (decodes to +8 — A-law has no zero), µ-law's to 0.
    // All sums integer- or power-of-two-valued => IEEE-exact both sides
    "q_audio_codecs" ->
      """WITH p AS (SELECT doc_id, doc_id % 3 AS fmt,
        |    400 + (doc_id % 5) * 100 AS n,
        |    doc_id % 100 AS s,
        |    CAST(doc_id % 128 AS INTEGER) AS m,
        |    power(2.0, -(1 + doc_id % 6)) AS a
        |  FROM documents),
        | q AS (SELECT doc_id, fmt, n, s, a,
        |    CASE WHEN fmt = 0 THEN
        |           ((m % 16) * 8 + 132) * power(2.0, m // 16) - 132
        |         WHEN m // 16 = 0 THEN (m % 16) * 16 + 8
        |         WHEN m // 16 = 1 THEN (m % 16) * 16 + 264
        |         ELSE ((m % 16) * 16 + 264) * power(2.0, m // 16 - 1)
        |    END AS mag,
        |    CASE WHEN fmt = 1 THEN 8.0 ELSE 0.0 END AS z
        |  FROM p)
        | SELECT doc_id, CAST(n AS BIGINT) AS n_frames,
        |  CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms,
        |  ROUND(CASE WHEN fmt = 2 THEN a ELSE mag / 32768.0 END, 6) AS peak,
        |  ROUND(CASE WHEN fmt = 2
        |        THEN sqrt((n - s) * a * a / CAST(n AS DOUBLE))
        |        ELSE sqrt((s * z * z + (n - s) * mag * mag)
        |               / CAST(n AS DOUBLE)) / 32768.0 END, 6) AS rms,
        |  ROUND(CASE WHEN fmt < 2 AND mag < 327.68 THEN 1.0
        |        ELSE s / CAST(n AS DOUBLE) END, 6) AS silence_ratio
        | FROM q ORDER BY doc_id""".stripMargin,
    // same-image pairs from the seed arithmetic (doc_id % 100 defines the
    // image): the engine must reach the identical pair set through actual
    // PNG/BMP encode -> decode -> thumbnail -> dHash -> LSH bucketing,
    // across per-doc compression levels, filters and container formats
    "q_image_neardup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        | FROM documents a JOIN documents b
        |   ON a.doc_id % 100 = b.doc_id % 100 AND a.doc_id < b.doc_id
        | ORDER BY id_a, id_b""".stripMargin,
    // the cap-diagnostics stats recomputed from the same dumped band
    // rows with the same corpus-derived maxBucket (distinct doc count)
    "q_lsh_bucket_stats" ->
      s"""WITH b AS (SELECT id, band, band_hash
        |   FROM read_parquet('${OracleDump.glob("minhash_bands")}')),
        | mb AS (SELECT greatest(256, count(DISTINCT id)) AS m FROM b),
        | g AS (SELECT band, band_hash, count(*) AS n FROM b GROUP BY 1, 2)
        | SELECT CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(coalesce(sum(CASE WHEN n BETWEEN 2 AND (SELECT m FROM mb)
        |    THEN 1 END), 0) AS BIGINT) AS kept_buckets,
        |  CAST(coalesce(sum(CASE WHEN n > (SELECT m FROM mb)
        |    THEN 1 END), 0) AS BIGINT) AS dropped_buckets,
        |  CAST(coalesce(sum(CASE WHEN n > (SELECT m FROM mb)
        |    THEN n END), 0) AS BIGINT) AS dropped_rows
        | FROM g""".stripMargin,
    // in-bucket pair + cosine re-derivation from the engine's own dumped
    // sign-sketch rows; cosine uses the q_cosine_exact formula (explicit
    // left-to-right list_sum) rounded to 6 dp on both sides
    "q_embedding_neardup" ->
      s"""WITH s AS (SELECT id, vec, norm, bucket
        |   FROM read_parquet('${OracleDump.glob("emb_sigs")}')),
        | keep AS (SELECT bucket FROM s GROUP BY 1 HAVING count(*) >= 2),
        | m AS (SELECT s.* FROM s JOIN keep USING (bucket)),
        | p AS (SELECT a.id AS id_a, b.id AS id_b,
        |   list_sum(list_transform(range(1, len(a.vec) + 1),
        |     i -> a.vec[i] * b.vec[i])) / (a.norm * b.norm) AS cos
        |  FROM m a JOIN m b ON a.bucket = b.bucket AND a.id < b.id)
        | SELECT id_a, id_b, round(cos, 6) AS cosine FROM p
        | WHERE cos >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    // candidate re-derivation from the engine's own dumped band rows
    // (bucket on (band, band_hash), all in-bucket pairs) + exact-Jaccard
    // re-verification with the same shingle SQL q_jaccard_exact proves
    "q_minhash_pairs" ->
      s"""WITH b AS (SELECT id, band, band_hash
        |   FROM read_parquet('${OracleDump.glob("minhash_bands")}')),
        | keep AS (SELECT band, band_hash FROM b
        |   GROUP BY 1, 2 HAVING count(*) >= 2),
        | m AS (SELECT b.id, b.band, b.band_hash
        |   FROM b JOIN keep USING (band, band_hash)),
        | cand AS (SELECT DISTINCT a.id AS id_a, b2.id AS id_b
        |   FROM m a JOIN m b2 ON a.band = b2.band
        |     AND a.band_hash = b2.band_hash AND a.id < b2.id),
        | tk AS (SELECT doc_id,
        |   list_filter(string_split_regex(lower(text), '\\s+'),
        |     w -> w <> '') AS t FROM documents),
        | sh AS (SELECT doc_id, CASE WHEN len(t) < 3
        |   THEN [array_to_string(t, ' ')]
        |   ELSE list_distinct(list_transform(range(0, len(t) - 2),
        |        i -> concat_ws(' ', t[i+1], t[i+2], t[i+3]))) END AS s
        |  FROM tk),
        | j AS (SELECT c.id_a, c.id_b,
        |   CAST(len(list_intersect(a.s, b2.s)) AS DOUBLE) /
        |     len(list_distinct(list_concat(a.s, b2.s))) AS jaccard
        |  FROM cand c JOIN sh a ON a.doc_id = c.id_a
        |  JOIN sh b2 ON b2.doc_id = c.id_b)
        | SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
        | ORDER BY id_a, id_b""".stripMargin,
    // brute-force Hamming twin over the engine's own dumped signatures:
    // the bucketed pigeonhole pairing must reproduce the O(n^2) answer
    // exactly — full recall (pigeonhole, uncapped buckets) AND precision
    // (in-pair exact Hamming filter)
    "q_simhash_pairs" ->
      s"""SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
        | FROM read_parquet('${OracleDump.glob("simhash_sigs")}') a
        | JOIN read_parquet('${OracleDump.glob("simhash_sigs")}') b
        |   ON a.id < b.id
        | WHERE bit_count(xor(a.sig, b.sig)) <= 8
        | ORDER BY id_a, id_b""".stripMargin,
    "q_components" ->
      """WITH RECURSIVE
        | grp AS (SELECT md5(substr(text, 1, 60)) AS g, doc_id
        |   FROM documents),
        | ordered AS (SELECT g, doc_id, lag(doc_id) OVER (
        |   PARTITION BY g ORDER BY doc_id) AS prev FROM grp),
        | p AS (SELECT prev AS id_a, doc_id AS id_b FROM ordered
        |   WHERE prev IS NOT NULL),
        | edges AS (SELECT id_a AS a, id_b AS b FROM p
        |   UNION ALL SELECT id_b, id_a FROM p),
        | closure(id, lbl) AS (
        |   SELECT a, least(a, b) FROM edges
        |   UNION
        |   SELECT e.a, c.lbl FROM edges e JOIN closure c ON c.id = e.b)
        | SELECT id, min(lbl) AS component FROM closure GROUP BY id""".stripMargin,
    "q_dedup_corpus" ->
      """WITH RECURSIVE
        | base AS (SELECT doc_id, text FROM documents
        |   UNION ALL
        |   SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 10),
        | ex AS (SELECT doc_id, text,
        |   min(doc_id) OVER (PARTITION BY text) AS exact_canon FROM base),
        | canon AS (SELECT doc_id, text FROM ex
        |   WHERE doc_id = exact_canon),
        | grp AS (SELECT md5(substr(text, 1, 40)) AS g, doc_id FROM canon),
        | ordered AS (SELECT g, doc_id, lag(doc_id) OVER (
        |   PARTITION BY g ORDER BY doc_id) AS prev FROM grp),
        | p AS (SELECT prev AS id_a, doc_id AS id_b FROM ordered
        |   WHERE prev IS NOT NULL),
        | edges AS (SELECT id_a AS a, id_b AS b FROM p
        |   UNION ALL SELECT id_b, id_a FROM p),
        | closure(id, lbl) AS (
        |   SELECT a, least(a, b) FROM edges
        |   UNION
        |   SELECT e.a, c.lbl FROM edges e JOIN closure c ON c.id = e.b),
        | comp AS (SELECT id, min(lbl) AS component FROM closure GROUP BY id)
        |SELECT ex.doc_id,
        | coalesce(comp.component, ex.exact_canon) = ex.doc_id AS keep,
        | CASE WHEN coalesce(comp.component, ex.exact_canon) <> ex.doc_id
        |      THEN coalesce(comp.component, ex.exact_canon)
        | END AS duplicate_of
        |FROM ex LEFT JOIN comp ON comp.id = ex.exact_canon""".stripMargin,
    "q_ann_recall" ->
      s"""SELECT b.query_id, CAST(count(i.rank) AS BIGINT) AS n_found,
        |  CAST(count(i.rank) AS DOUBLE) / count(*) AS recall_at_10
        | FROM read_parquet('${OracleDump.glob("ann_bf")}') b
        | LEFT JOIN read_parquet('${OracleDump.glob("ann_ivf")}') i
        |   ON b.query_id = i.query_id AND b.id = i.id
        | GROUP BY b.query_id ORDER BY b.query_id""".stripMargin,
    "q_cosine_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |   a.v AS va, b.v AS vb
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        |  WHERE a.vec_id < 50)
        | SELECT id_a, id_b, round(
        |   list_sum(list_transform(range(1, len(va) + 1), i -> va[i]*vb[i]))
        |   / (sqrt(list_sum(list_transform(va, x -> x*x))) *
        |      sqrt(list_sum(list_transform(vb, x -> x*x)))), 6) AS cosine
        | FROM p""".stripMargin,
    "q_text_quality" ->
      """WITH base AS (SELECT lang, text,
        |   list_filter(string_split_regex(lower(text), '\s+'),
        |     w -> w <> '') AS tk,
        |   CAST(length(text) AS DOUBLE) AS nchars,
        |   CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g'))
        |     AS DOUBLE) AS punct
        |  FROM documents),
        | sig AS (SELECT lang, text, nchars, punct,
        |   CAST(len(tk) AS DOUBLE) AS ntoks,
        |   CAST(len(list_filter(tk, t -> list_contains(['the','and','of',
        |     'to','in','is','that','for','with','a','on','as','at','this',
        |     'are'], t))) AS DOUBLE) AS stophits,
        |   CASE WHEN len(tk) > 0
        |     THEN CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
        |     ELSE 0.0 END AS distinct_ratio,
        |   CASE WHEN len(tk) > 0
        |     THEN list_sum(list_transform(tk,
        |       t -> CAST(length(t) AS DOUBLE))) / len(tk)
        |     ELSE 0.0 END AS mwl
        |  FROM base),
        | scored AS (SELECT lang,
        |   ((CASE WHEN nchars BETWEEN 200 AND 50000 THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN nchars > 0 AND punct/nchars <= 0.2
        |     THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN ntoks > 0 AND stophits/ntoks >= 0.05
        |     THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
        |  + (CASE WHEN distinct_ratio >= 0.3 THEN 1.0 ELSE 0.0 END)) / 5.0
        |     AS quality_score,
        |   CAST(ntoks AS BIGINT) AS ntoks_i,
        |   len(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+'))
        |     AS bpe
        |  FROM sig)
        | SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN quality_score >= 0.6 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high_quality,
        |  CAST(sum(ntoks_i) AS BIGINT) AS tokens_ws,
        |  CAST(sum(bpe) AS BIGINT) AS tokens_pretok
        | FROM scored GROUP BY lang""".stripMargin,
    "q_records_uniqueness" ->
      s"""SELECT repo, path, "commit",
        | CAST(NULL AS VARCHAR) AS lang,
        | 'uniqueness:(repo,path,commit)' AS rule_id,
        | 'ERROR' AS severity,
        | 'duplicate identity x' || CAST(cnt AS VARCHAR) AS diagnostic
        | FROM (SELECT repo, path, "commit", count(*) AS cnt
        |   FROM read_parquet('${OracleDump.glob("records_dup")}')
        |   GROUP BY 1, 2, 3 HAVING count(*) > 1)""".stripMargin,
    "q_records_referential" ->
      s"""WITH w AS (SELECT repo, path, "commit", lang,
        |   CASE WHEN json_valid(content) THEN
        |     string_split(json_extract_string(content, '$$.id'), ':')[4]
        |   END AS centre_id
        |  FROM read_parquet('${OracleDump.glob("records_fix")}'))
        | SELECT repo, path, "commit", lang,
        |  'referential:centre_id' AS rule_id, 'ERROR' AS severity,
        |  'unknown centre_id ' || centre_id AS diagnostic
        | FROM w WHERE centre_id IS NOT NULL
        |  AND NOT ends_with(centre_id, '-test')
        |  AND centre_id NOT IN (SELECT centre
        |    FROM read_parquet('${OracleDump.glob("dim_centre")}'))""".stripMargin,
    "q_records_drift" ->
      s"""WITH h AS (SELECT lang,
        |   CASE WHEN length(content) < 0 THEN 0
        |        WHEN length(content) >= 20000 THEN 21
        |        ELSE CAST(floor(length(content) / 1000.0) AS INTEGER) + 1
        |   END AS bucket, count(*) AS cnt
        |  FROM read_parquet('${OracleDump.glob("records")}') GROUP BY 1, 2),
        | g AS (SELECT bucket, CAST(sum(cnt) AS DOUBLE) /
        |     (SELECT sum(cnt) FROM h) AS p_global FROM h GROUP BY bucket),
        | lp AS (SELECT lang, bucket, CAST(cnt AS DOUBLE) /
        |     sum(cnt) OVER (PARTITION BY lang) AS p_lang FROM h),
        | j AS (SELECT lang, p_lang, p_global FROM lp JOIN g USING (bucket))
        | SELECT lang,
        |  round(sum((p_lang - p_global) *
        |    ln((p_lang + 1e-9) / (p_global + 1e-9))), 6) AS psi,
        |  (sum((p_lang - p_global) *
        |    ln((p_lang + 1e-9) / (p_global + 1e-9))) >= 0.2) AS drifted
        | FROM j GROUP BY lang""".stripMargin,
    "q_sample_stratified" -> {
      // thresholds generated from the SAME code the engine filters with
      val thrEn = Curation.thresholdHex(0.5)
      val thrDe = Curation.thresholdHex(0.25)
      val thrDefault = Curation.thresholdHex(0.1)
      s"""SELECT doc_id, lang FROM documents
        | WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8) <
        |   CASE lang WHEN 'de' THEN '$thrDe' WHEN 'en' THEN '$thrEn'
        |     ELSE '$thrDefault' END
        | ORDER BY doc_id""".stripMargin
    },
    "q_token_budget" ->
      s"""WITH d AS (SELECT b.doc_id, b.lang,
        |   CAST(b.n_bpe AS BIGINT) AS n_tok,
        |   substr(md5(CAST(b.doc_id AS VARCHAR) || ':tb7'), 1, 8) AS h
        |  FROM read_parquet('${OracleDump.glob("bpe_ref")}') b),
        | c AS (SELECT doc_id, lang,
        |   coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT doc_id, lang FROM c
        | WHERE cum < CASE lang WHEN 'en' THEN 4000 WHEN 'de' THEN 3000
        |   ELSE 1600 END
        | ORDER BY doc_id""".stripMargin,
    "q_source_cap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn <= 5 ORDER BY doc_id""".stripMargin,
    "q_filter_funnel" ->
      """WITH p AS (SELECT
        |  coalesce(length(text) >= 150, false) AS p1,
        |  coalesce(list_contains(['en','de','es','fr'], lang), false) AS p2,
        |  coalesce(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    w -> w <> '')) >= 25, false) AS p3,
        |  coalesce(CAST(length(regexp_replace(text, '[\p{L}\p{N}\s]', '',
        |    'g')) AS DOUBLE) / greatest(length(text), 1) <= 0.2, false)
        |    AS p4
        | FROM documents),
        |agg AS (SELECT count(*) AS n_in,
        |  CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |  CAST(sum(CASE WHEN p1 AND NOT p2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS d2,
        |  CAST(sum(CASE WHEN p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d3,
        |  CAST(sum(CASE WHEN p1 AND p2 AND p3 AND NOT p4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS d4
        | FROM p)
        |SELECT 1 AS rule_seq, 'min_len' AS rule, n_in AS n_evaluated,
        |  d1 AS n_dropped, n_in - d1 AS n_remaining FROM agg
        |UNION ALL SELECT 2, 'lang_known', n_in - d1, d2,
        |  n_in - d1 - d2 FROM agg
        |UNION ALL SELECT 3, 'min_tokens', n_in - d1 - d2, d3,
        |  n_in - d1 - d2 - d3 FROM agg
        |UNION ALL SELECT 4, 'punct_ratio', n_in - d1 - d2 - d3, d4,
        |  n_in - d1 - d2 - d3 - d4 FROM agg
        |ORDER BY rule_seq""".stripMargin,
    "q_token_count" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
        |   w -> w <> ''))) AS BIGINT) AS total_tokens,
        | min(len(list_filter(regexp_split_to_array(text, '\s+'),
        |   w -> w <> ''))) AS min_tokens,
        | max(len(list_filter(regexp_split_to_array(text, '\s+'),
        |   w -> w <> ''))) AS max_tokens
        | FROM documents GROUP BY lang""".stripMargin
  )
}
