package graft.expressions

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native kernels for the two per-row text pipelines the KPI catalog
  * references many times each — previously interpreted HOF chains inside
  * the single-evaluation Generate barrier (regexp_extract_all + per-token
  * rlike + 7k-word set membership for the spellcheck; regex strip/split
  * chains for the title words), together a measurable slice of hot-path
  * CPU. Each kernel is one static JVM call with precompiled patterns and
  * a prebuilt hash set; semantics are IDENTICAL to the declarative
  * formulations in the tests' `Wcmp2Reference`, asserted
  * token-for-token by OptimizationParitySpec.
  */
object TextKernels {

  private lazy val dictionary: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](16384)
    graft.dims.Dims.dictionary.foreach(s.add)
    s
  }

  /** `(?U)\w` per java.util.regex with UNICODE_CHARACTER_CLASS:
    * [\p{Alpha}\p{gc=Mn}\p{gc=Me}\p{gc=Mc}\p{Digit}\p{gc=Pc}
    * \p{IsJoin_Control}] — the exact class the tokenizer regex used;
    * parity pinned against the regex in FunctionsSpec. */
  private[graft] def isWordCp(cp: Int): Boolean = {
    if (cp < 128) // ASCII fast path: [0-9A-Za-z_]
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9') || cp == '_'
    else {
      val t = Character.getType(cp)
      Character.isAlphabetic(cp) || Character.isDigit(cp) ||
        t == Character.NON_SPACING_MARK || t == Character.ENCLOSING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.CONNECTOR_PUNCTUATION ||
        cp == 0x200C || cp == 0x200D // join controls ZWNJ/ZWJ
    }
  }

  /** Exact-match equivalent of the Python `float()` grammar regex
    * (`Wcmp2Reference.floatLike` in the tests)
    * RESTRICTED to tokenizer output: tokens contain only word chars and
    * apostrophes (never '+', '-' or '.'), and the text is lowercased, so
    * the only reachable float forms are `inf`, `infinity`, `nan` and
    * `digits(_digits)*(e digits(_digits)*)?` over ASCII digits (the
    * pattern's digit class is ASCII [0-9]; '.', sign and uppercase-E arms
    * are unreachable). Parity vs the regex pinned in FunctionsSpec over
    * the full token space. */
  private[graft] def floatLikeToken(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    val c0 = s.charAt(0)
    if (c0 == 'i' || c0 == 'n')
      return s == "inf" || s == "infinity" || s == "nan"
    if (c0 < '0' || c0 > '9') return false
    // digits with single embedded underscores, one optional 'e' exponent
    var i = 1
    var sawExp = false
    var lastDigit = true // charAt(0) is a digit
    while (i < n) {
      val c = s.charAt(i)
      if (c >= '0' && c <= '9') lastDigit = true
      else if (c == '_') {
        // underscore only BETWEEN digits
        if (!lastDigit || i + 1 >= n) return false
        val nx = s.charAt(i + 1)
        if (nx < '0' || nx > '9') return false
        lastDigit = false
      } else if (c == 'e') {
        if (sawExp || !lastDigit || i + 1 >= n) return false
        val nx = s.charAt(i + 1)
        if (nx < '0' || nx > '9') return false
        sawExp = true; lastDigit = false
      } else return false
      i += 1
    }
    lastDigit
  }

  /** `SpellChecker.unknown(split_words(text))` preserving encounter order
    * and duplicates — the token list the declarative
    * `filter(spellTokens(text), ...)` chain produces. Hand-rolled
    * codepoint scanner equivalent to `(?U)\w[\w']*\w|\w` (a maximal run
    * of word-or-apostrophe chars starting at a word char, with trailing
    * apostrophes trimmed; the regex backtracks to exactly that, and
    * resumes after the match — the trimmed trailing apostrophes cannot
    * start a new match, so scanning resumes after the run). The previous
    * java.util.regex form was the #2 hot-path cost in the r6 stack
    * profile (~45 of 560 active executor samples). Dictionary membership
    * is tested BEFORE float-likeness (same conjunction, cheaper order:
    * most real-text tokens are dictionary hits). */
  def misspelledTokens(text: UTF8String): GenericArrayData = {
    // Lower.eval == UTF8String.toLowerCase (ASCII fast path, JVM
    // default-locale lowering otherwise) — match it exactly
    val lowered = text.toLowerCase.toString
    val n = lowered.length
    val out = new ArrayBuffer[Any](0)
    var i = 0
    while (i < n) {
      val cp = lowered.codePointAt(i)
      if (isWordCp(cp)) {
        val start = i
        i += Character.charCount(cp)
        var lastWordEnd = i // exclusive end of the last word char seen
        var scanning = true
        while (scanning && i < n) {
          val c = lowered.codePointAt(i)
          if (isWordCp(c)) { i += Character.charCount(c); lastWordEnd = i }
          else if (c == '\'') i += 1
          else scanning = false
        }
        val tok = lowered.substring(start, lastWordEnd)
        if (!dictionary.contains(tok) && !floatLikeToken(tok))
          out += UTF8String.fromString(tok)
      } else i += Character.charCount(cp)
    }
    new GenericArrayData(out.toArray)
  }

  private val acronymRe = Pattern.compile("\\b([A-Z]{2,}\\d*)\\b")

  /** java.util.regex `\s` WITHOUT (?U): [ \t\n\x0B\f\r] exactly (the
    * declarative impl's regexes use plain \s) — NOT Character
    * .isWhitespace, which also matches U+001C-1F and Unicode spaces. */
  private def isWsCh(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // \t \n \x0B \f \r

  /** `^\s+` / `\s+$` strip without regex (same \s class). */
  private[graft] def pyStrip(s: String): String = {
    var a = 0; var b = s.length
    while (a < b && isWsCh(s.charAt(a))) a += 1
    while (b > a && isWsCh(s.charAt(b - 1))) b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** `^[\p{L}\p{N}]+$` (`Wcmp2Reference.pyIsAlnum` in the tests)
    * without regex: non-empty, every codepoint gc L* or N*. matches()
    * semantics are safe here because the inputs are whitespace-split
    * words (no embedded line terminators, so rlike's find() with anchors
    * coincides). Parity pinned per-codepoint in OptimizationParitySpec. */
  private[graft] def isAlnumPy(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      if (!Character.isLetter(cp)) {
        val t = Character.getType(cp)
        if (t != Character.DECIMAL_DIGIT_NUMBER &&
            t != Character.LETTER_NUMBER && t != Character.OTHER_NUMBER)
          return false
      }
      i += Character.charCount(cp)
    }
    true
  }

  /** `pyCapitalize(c) === c` ([[graft.functions.Wcmp2Functions
    * .pyCapitalize]]: first char upper, rest lower, '' -> '') computed
    * with the SAME UTF8String substring/upper/lower/concat kernels the
    * declarative expression compiles to — bit parity by construction. */
  private def isCapitalized(u: UTF8String): Boolean = {
    if (u.numChars() == 0) true
    else UTF8String.concat(
      u.substringSQL(1, 1).toUpperCase,
      u.substringSQL(2, u.numChars()).toLowerCase).equals(u)
  }

  private val bulletinRe = Pattern.compile("[A-Z]{4}\\d{2}[\\s_]*[A-Z]{4}")

  /** struct(words, all_alnum, cap_ok, n_acronyms, has_bulletin) for the
    * K1 title checks: `title.split()` (Python no-arg split: strip, split
    * on whitespace runs, no empties) and the four scalar title facts
    * (`cap_ok` over the acronym-stripped title,
    * `pyStrip(regexp_replace(title, acronymRe, ""))`) the KPI rule
    * previously recomputed with per-word interpreted regexes
    * (forall+rlike) and duplicated regexp_extract_all/rlike trees —
    * one kernel call materializes all of them (r6: per-word regex in the
    * forall lambda and the duplicate acronym scans showed in the
    * hot-path samples; the tree shrink also cuts per-query planning). The ws-run splitter is a char scan;
    * \s-class and per-fact parity with the declarative reference impls
    * are pinned in FunctionsSpec/OptimizationParitySpec. */
  def titleWords(title: UTF8String): InternalRow = {
    val s = title.toString
    val stripped0 = pyStrip(s)
    val words = new ArrayBuffer[Any](8)
    var allAlnum = true
    var i = 0
    val n = stripped0.length
    while (i < n) {
      if (isWsCh(stripped0.charAt(i))) i += 1
      else {
        val start = i
        while (i < n && !isWsCh(stripped0.charAt(i))) i += 1
        val w = stripped0.substring(start, i)
        if (allAlnum && !isAlnumPy(w)) allAlnum = false
        words += UTF8String.fromString(w)
      }
    }
    val strippedAcr =
      UTF8String.fromString(pyStrip(acronymRe.matcher(s).replaceAll("")))
    var nAcronyms = 0
    val am = acronymRe.matcher(s)
    while (am.find()) nAcronyms += 1
    val a = new Array[Any](5)
    a(0) = new GenericArrayData(words.toArray)
    a(1) = java.lang.Boolean.valueOf(allAlnum)
    a(2) = java.lang.Boolean.valueOf(isCapitalized(strippedAcr))
    a(3) = java.lang.Integer.valueOf(nAcronyms)
    a(4) = java.lang.Boolean.valueOf(bulletinRe.matcher(s).find())
    new GenericInternalRow(a)
  }
}

/** `array<string>` of misspelled tokens — see [[TextKernels]]. */
object Misspelled {
  def misspelled(c: Column): Column =
    Kernel.call(TextKernels, "misspelledTokens",
      ArrayType(StringType, containsNull = false), Seq(c -> StringType),
      nullable = false)
}

/** struct(words array<string>, all_alnum, cap_ok, n_acronyms,
  * has_bulletin) — see [[TextKernels]]. */
object TitleWords {
  val dataType: StructType = StructType(Seq(
    StructField("words", ArrayType(StringType, containsNull = false),
      nullable = false),
    StructField("all_alnum", BooleanType, nullable = false),
    StructField("cap_ok", BooleanType, nullable = false),
    StructField("n_acronyms", IntegerType, nullable = false),
    StructField("has_bulletin", BooleanType, nullable = false)))

  def titleWords(c: Column): Column =
    Kernel.call(TextKernels, "titleWords", dataType, Seq(c -> StringType),
      nullable = false)
}
