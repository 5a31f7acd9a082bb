package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: language ID
  * (n-gram/stopword heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), document fingerprinting (rolling-hash
  * selection). All pure Catalyst expressions — one narrow projection per
  * document, no shuffle, no UDF. */
object TextAnalysis {

  /** stopword profiles for the n-gram/stopword language-ID heuristic
    * (single source of truth: [[graft.expressions.LangId.profiles]], the
    * native kernel's table) */
  val langProfiles: Map[String, Seq[String]] =
    graft.expressions.LangId.profiles

  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** Language ID: argmax over per-language stopword hit counts; 'und'
    * (undetermined) when nothing matches. Native codegen'd kernel — one
    * lowercase + whitespace scan with prebuilt hash sets
    * ([[graft.expressions.LangId]]); [[languageIdFromTokens]] is the
    * declarative reference implementation it is parity-pinned against
    * (the HOF chain evaluates interpreted: measured ~3.4 ms/doc on the
    * bench corpus vs ~30 us for the kernel). */
  def languageId(text: Column): Column =
    graft.expressions.LangId.languageId(text)

  /** Declarative reference implementation of [[languageId]] over a
    * MATERIALIZED token array attribute (higher-order lambdas re-evaluate
    * inlined argument subtrees per element — see [[analyze]]'s Generate
    * barrier). Parity with the kernel pinned in OptimizationParitySpec. */
  def languageIdFromTokens(toks: Column): Column = {
    val scored = langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column = size(tokens(text))

  /** Pretokenizer-regex token count — the GPT-2-style pattern family
    * (contractions, letter runs, digit runs, punctuation runs) WITHOUT
    * merge application: a cheap oracle-SQL-expressible upper-bound
    * approximation of [[tokenCountBpe]], kept for pipelines that only
    * need a proportional signal. */
  def tokenCountPretok(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+"),
      lit(0)))

  /** EXACT merges-based byte-level BPE token count (the vendored
    * GPT-2-format table, [[graft.expressions.Bpe]]) — codegen'd, one
    * static kernel call per row; the count every token-budget decision
    * ([[Curation.tokenBudgetSample]]) is keyed to. Cross-checked against
    * the independent [[graft.tools.BpeReference]] implementation in the
    * q_token_bpe driver oracle. */
  def tokenCountBpe(text: Column): Column =
    graft.expressions.Bpe.bpeTokenCount(text)

  /** BPE token-id array (base bytes 0..255, merge results 256+i). */
  def bpeTokens(text: Column): Column =
    graft.expressions.Bpe.bpeTokenIds(text)

  /** Quality signals + composite score in [0,1]:
    * length band, punctuation ratio, stopword ratio, mean word length,
    * repetition (distinct/total tokens). The standard cheap pre-filter
    * stack for web-scale corpus cleaning. */
  def qualitySignals(text: Column): Column =
    qualitySignalsFromTokens(text, tokens(text))

  /** qualitySignals over a materialized token array attribute. */
  def qualitySignalsFromTokens(text: Column, toks: Column): Column = {
    val nToks = size(toks).cast(DoubleType)
    val nChars = length(text).cast(DoubleType)
    val punct = length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", ""))
      .cast(DoubleType)
    val stopHits = size(filter(toks,
      t => t.isInCollection(langProfiles("en")))).cast(DoubleType)
    val distinctRatio =
      when(nToks > 0, size(array_distinct(toks)) / nToks).otherwise(0.0)
    val meanWordLen = when(nToks > 0,
      aggregate(toks, lit(0.0d), (s, t) => s + length(t)) / nToks)
      .otherwise(0.0)
    val lenOk   = when(nChars.between(200, 50000), 1.0).otherwise(0.0)
    val punctOk = when(nChars > 0 && punct / nChars <= 0.2, 1.0).otherwise(0.0)
    val stopOk  = when(nToks > 0 && stopHits / nToks >= 0.05, 1.0).otherwise(0.0)
    val wordOk  = when(meanWordLen.between(2.0, 12.0), 1.0).otherwise(0.0)
    val repOk   = when(distinctRatio >= 0.3, 1.0).otherwise(0.0)
    struct(
      nToks.cast(LongType).as("n_tokens"),
      nChars.cast(LongType).as("n_chars"),
      bround(punct / greatest(nChars, lit(1.0)), 4).as("punct_ratio"),
      bround(stopHits / greatest(nToks, lit(1.0)), 4).as("stopword_ratio"),
      bround(distinctRatio, 4).as("distinct_ratio"),
      bround(meanWordLen, 4).as("mean_word_len"),
      ((lenOk + punctOk + stopOk + wordOk + repOk) / 5.0).as("quality_score"))
  }

  /** Document fingerprint: rolling character k-gram hashes with mod-p
    * selection (the classic "0 mod p" winnowing relative): the sorted set
    * of k-gram hashes ≡ 0 (mod p). Robust to small edits — shared
    * fingerprint elements betray overlapping passages. */
  def fingerprint(text: Column, k: Int = 8, p: Int = 16): Column =
    fingerprintFromNorm(normalizedText(text), k, p)

  /** whitespace-collapsed lower-cased text (hoist this to an attribute
    * before calling [[fingerprintFromNorm]] — the gram lambda references
    * it once per gram). */
  def normalizedText(text: Column): Column =
    regexp_replace(lower(text), "\\s+", " ")

  def fingerprintFromNorm(norm: Column, k: Int = 8, p: Int = 16): Column = {
    val n = length(norm)
    val grams = when(n < k, array(xxhash64(norm)))
      .otherwise(transform(sequence(lit(1), n - k + 1),
        i => xxhash64(norm.substr(i, lit(k)))))
    array_sort(array_distinct(filter(grams, h => pmod(h, lit(p)) === 0)))
  }

  /** PII patterns for corpus scrubbing — the standard cheap pre-release
    * filter for web-scale training data. Deliberately restricted to the
    * Java-regex ∩ RE2 dialect (no lookaround, no backrefs, `\b`/`\s`
    * only) so the DuckDB oracle runs the IDENTICAL patterns; these are
    * heuristics (recall-oriented, format-level), not a compliance tool.
    * Order matters for [[piiRedact]]: card before phone (a card's digit
    * groups could otherwise partially phone-match), ip before phone. */
  val piiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", "\\b(?:[0-9]{4}[\\s-]){3}[0-9]{4}\\b", "<CARD>"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b", "<SSN>"),
    ("ipv4", "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>"),
    ("phone", "\\+?[0-9]{1,3}[-. (]*[0-9]{3}[-. )]*[0-9]{3}[-. ]*[0-9]{4}\\b",
      "<PHONE>"))

  /** Per-category match counts, each evaluated INDEPENDENTLY on the raw
    * text (well-defined for cross-engine comparison; overlapping
    * categories may each count the same span). One codegen'd projection,
    * no shuffle. */
  def piiCounts(text: Column): Column =
    struct(piiPatterns.map { case (cat, pat, _) =>
      regexp_count(text, lit(pat)).as(s"n_$cat")
    }: _*)

  /** Sequentially redacted text: categories applied in [[piiPatterns]]
    * order (replacement tokens contain no digits, so later patterns
    * cannot re-match inside an earlier redaction). */
  def piiRedact(text: Column): Column =
    piiPatterns.foldLeft(text) { case (acc, (_, pat, repl)) =>
      regexp_replace(acc, lit(pat), lit(repl))
    }

  /** Documents + `pii` count struct + `text_redacted` — narrow, one scan. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("pii", piiCounts(col(textCol)))
      .withColumn("text_redacted", piiRedact(col(textCol)))

  /** Benchmark decontamination: flag training documents sharing any word
    * n-gram (default 13 — the common contamination window) with a
    * benchmark/test corpus, returning `(id, n_contaminated_grams)` for
    * contaminated docs only.
    *
    * Shape at 100 TB: both corpora project to `(doc, gram_hash)` rows —
    * xxhash64 of the shingle text, so the join shuffles 8-byte longs
    * instead of ~80-byte 13-gram strings — the benchmark side collapses
    * to a distinct hash set (tiny vs the corpus; typically
    * broadcast-able), and the equi-join + per-doc distinct count are
    * hash-partitioned, map-side partial-aggregated, AQE-skew-splittable.
    * Docs shorter than n words contribute their whole text as one gram
    * (same convention as [[Dedup.shinglesFromTokens]]). A 64-bit hash
    * collision can only OVER-flag a doc — the safe direction for
    * decontamination (expected collisions ~ grams^2 / 2^64). */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    n: Int = 13): DataFrame = {
    // native fused tokenize+shingle+hash kernel: ONE Generate per side
    // instead of two, no interpreted per-shingle lambdas (the declarative
    // twin — tokens explode, shinglesFromTokens, transform(xxhash64) —
    // stays the parity-pinned reference in Dedup/OptimizationParitySpec)
    def gramRows(df: DataFrame, idAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
        explode(graft.expressions.Ngrams.ngramHashes(col(textCol), n))
          .as("gram"))
    // benchmark corpora are test sets — small by construction — so the
    // distinct gram-hash set broadcasts: the corpus side then never
    // shuffles for the join (only the per-doc count aggregation does)
    val bench = broadcast(
      gramRows(benchmark, "bench_id").select("gram").distinct())
    gramRows(docs, "id")
      .join(bench, Seq("gram"))
      .groupBy("id")
      .agg(countDistinct("gram").as("n_contaminated_grams"))
  }

  /** Repetition signals per document — the duplicate-line / repeated
    * n-gram family of corpus-quality filters (boilerplate navigation,
    * SEO keyword stuffing, template spam). Computed SHUFFLE-STYLE
    * (explode -> groupBy(doc, unit) -> per-doc aggregate), not as
    * per-row O(units^2) lambda scans: counts partial-aggregate map-side
    * and the per-doc reduce is bounded by the doc's distinct units, so
    * the shape survives 100 TB where a quadratic per-row expression
    * would not. Two passes over the text column (lines, n-grams) — both
    * narrow until their own groupBy.
    *
    * Returns per-doc: `n_lines`, `dup_line_frac` (1 - distinct/total),
    * `dup_line_char_frac` (chars inside lines occurring >1x / all line
    * chars), `n_grams`, `dup_gram_frac` (grams occurring >1x, by
    * occurrence), `top_gram_frac` (most frequent gram's share). */
  def repetitionStats(docs: DataFrame, textCol: String = "text",
                      idCol: String = "doc_id", n: Int = 3): DataFrame = {
    val id = col(idCol).as("id")
    val lines = docs.select(id, explode(filter(
        transform(split(col(textCol), "\n"), l => trim(l)),
        l => l =!= "")).as("line"))
      .groupBy("id", "line").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        sum("cnt").as("n_lines"),
        round(lit(1.0) - count(lit(1)).cast(DoubleType) / sum("cnt"), 6)
          .as("dup_line_frac"),
        round(
          coalesce(sum(when(col("cnt") > 1, length(col("line")) * col("cnt"))),
            lit(0L)).cast(DoubleType) /
          sum(length(col("line")) * col("cnt")), 6).as("dup_line_char_frac"))
    // duplicates-kept native shingle kernel (ShinglesAll); the previous
    // interpreted tokens->transform(sequence, concat_ws(slice)) chain is
    // the parity-pinned reference (OptimizationParitySpec)
    val grams = docs
      .select(id, explode(graft.expressions.Ngrams.shinglesAllCol(
        col(textCol), n)).as("gram"))
      .groupBy("id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(
        sum("cnt").as("n_grams"),
        round(coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L))
          .cast(DoubleType) / sum("cnt"), 6).as("dup_gram_frac"),
        round(max("cnt").cast(DoubleType) / sum("cnt"), 6)
          .as("top_gram_frac"))
    lines.join(grams, Seq("id"), "full_outer")
  }

  /** Full per-document analysis projection over a documents table.
    * The token array is materialized ONCE behind a Generate barrier and
    * every signal derives from the attribute (tokenization would
    * otherwise be re-evaluated per referencing expression). */
  def analyze(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(col("*"), explode(array(struct(
        tokens(col(textCol)).as("toks"),
        normalizedText(col(textCol)).as("norm")))).as("_t"))
      .withColumn("lang_pred", languageId(col(textCol)))
      .withColumn("n_tokens_ws", size(col("_t.toks")))
      .withColumn("n_tokens_pretok", tokenCountPretok(col(textCol)))
      .withColumn("n_tokens_bpe", tokenCountBpe(col(textCol)))
      .withColumn("quality",
        qualitySignalsFromTokens(col(textCol), col("_t.toks")))
      .withColumn("fingerprint", fingerprintFromNorm(col("_t.norm")))
      .drop("_t")
}
