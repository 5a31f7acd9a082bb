package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the stopword-profile language-ID heuristic.
  *
  * The declarative reference implementation
  * (the tests' `TextAnalysisReference.languageIdFromTokens`: per language,
  * `size(filter(toks, isInCollection(words)))`, argmax via `array_max`
  * over (hits, lang) structs) evaluates INTERPRETED — higher-order
  * functions have no codegen — and probes a 15-element literal list per
  * token per language (measured: up to ~17 CPU-s for the 5k-doc
  * q_langid_confusion scan, ~3.4 ms/doc). This kernel makes the identical
  * decision in one lowercase + one whitespace scan with prebuilt hash
  * sets: tokens are the maximal non-`\s` runs of the lowercased text
  * (exactly `filter(split(lower(text), "\\s+"), _ =!= "")` — Java `\s`
  * without (?U)), hits count per profile, argmax with ties resolved to
  * the lexicographically GREATEST language (array_max struct ordering:
  * hits, then lang; profiles are scanned in ascending name order so the
  * last >= winner matches). Token-for-token parity with the declarative
  * form is pinned in OptimizationParitySpec.
  *
  * The profile table lives here (single source of truth);
  * [[graft.operators.TextAnalysis.langProfiles]] republishes it.
  */
object LangId {

  /** stopword profiles for the n-gram/stopword language-ID heuristic */
  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with",
      "a", "on", "as", "at", "this", "are"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une",
      "du", "est", "que", "pour", "dans", "au"),
    "de" -> Seq("der", "die", "das", "und", "in", "den", "von", "zu", "mit",
      "ist", "des", "im", "ein", "eine", "auf"),
    "es" -> Seq("el", "la", "los", "las", "de", "y", "en", "un", "una",
      "del", "es", "que", "por", "con", "para"))

  private val ordered: Array[(String, java.util.HashSet[String])] =
    profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val s = new java.util.HashSet[String](64)
      words.foreach(s.add)
      (lang, s)
    }.toArray
  private val langsU8: Array[UTF8String] =
    ordered.map(p => UTF8String.fromString(p._1))
  private val und = UTF8String.fromString("und")
  private val maxWordLen: Int =
    profiles.valuesIterator.flatten.map(_.length).max

  /** java.util.regex `\s` WITHOUT (?U): [ \t\n\x0B\f\r] exactly — the
    * class `split(text, "\\s+")` tokenizes with. */
  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  def predict(text: UTF8String): UTF8String = {
    // Lower.eval == UTF8String.toLowerCase — match the declarative
    // `lower(text)` exactly before tokenizing
    val lowered = text.toLowerCase.toString
    val n = lowered.length
    val nLangs = ordered.length
    val counts = new Array[Int](nLangs)
    var i = 0
    while (i < n) {
      if (isWs(lowered.charAt(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(lowered.charAt(i))) i += 1
        // no profile word is longer than maxWordLen — longer tokens can
        // never hit, so skip the substring + probes
        if (i - start <= maxWordLen) {
          val tok = lowered.substring(start, i)
          var j = 0
          while (j < nLangs) {
            if (ordered(j)._2.contains(tok)) counts(j) += 1
            j += 1
          }
        }
      }
    }
    // argmax, ties -> greatest index (= lexicographically greatest lang,
    // the array_max struct-ordering convention of the reference impl)
    var best = 0
    var bestHits = counts(0)
    var j = 1
    while (j < nLangs) {
      if (counts(j) >= bestHits) { bestHits = counts(j); best = j }
      j += 1
    }
    if (bestHits > 0) langsU8(best) else und
  }

  /** Column form; NULL text yields 'und', matching the declarative
    * chain's null propagation (`size(filter(null)) = null` hits ->
    * `when(null > 0, ...)` falls through to 'und'). */
  def languageId(c: Column): Column =
    coalesce(Kernel.call(this, "predict", StringType, Seq(c -> StringType),
      nullable = false), lit("und"))
}
