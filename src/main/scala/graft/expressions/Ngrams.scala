package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native word n-gram (shingle) kernels — the codegen'd equivalents of
  * the declarative chain
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(tokens(text), i+1, n))))` over
  * `tokens = filter(split(lower(text), "\\s+"), _ =!= "")`
  * (the tests' `DedupReference.shinglesFromTokens`, the parity-pinned
  * reference implementation).
  *
  * The declarative form needs two Generate barriers per consumer (tokens,
  * then shingles from the token attribute) and still evaluates the
  * per-shingle lambdas interpreted; one kernel call does the lowercase,
  * the whitespace scan, the windowed join and the dedup in a single pass
  * (OptimizationParitySpec pins token-for-token equality, including the
  * shorter-than-n whole-text shingle and the empty-text '' shingle).
  */
object Ngrams {

  /** java.util.regex `\s` WITHOUT (?U): [ \t\n\x0B\f\r] exactly — the
    * class `split(text, "\\s+")` tokenizes with. */
  private def isWs(c: Char): Boolean = c == ' ' || (c >= '\t' && c <= '\r')

  /** shingle STRINGS in document order; `dedup = true` keeps only the
    * first occurrence (array_distinct semantics), `dedup = false` keeps
    * every window (the repetition-stats convention, where duplicate
    * grams ARE the signal). Docs shorter than n words contribute the
    * whole text as one shingle (including '' for token-less text —
    * concat_ws over an empty slice). */
  private[expressions] def shingleStrings(text: UTF8String, n: Int,
                                          dedup: Boolean = true)
      : ArrayBuffer[String] = {
    val lowered = text.toLowerCase.toString
    val len = lowered.length
    val toks = new ArrayBuffer[String](16)
    var i = 0
    while (i < len) {
      if (isWs(lowered.charAt(i))) i += 1
      else {
        val start = i
        while (i < len && !isWs(lowered.charAt(i))) i += 1
        toks += lowered.substring(start, i)
      }
    }
    val out = new ArrayBuffer[String](math.max(toks.length - n + 1, 1))
    val seen = if (dedup) new java.util.HashSet[String](64) else null
    if (toks.length < n) {
      val s = toks.mkString(" ")
      if (seen == null || seen.add(s)) out += s
    } else {
      val sb = new java.lang.StringBuilder(64)
      var w = 0
      while (w <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(w + j))
          j += 1
        }
        val s = sb.toString
        if (seen == null || seen.add(s)) out += s
        w += 1
      }
    }
    out
  }

  def computeStrings(text: UTF8String, n: Int): GenericArrayData =
    toUtf8Array(shingleStrings(text, n))

  /** every shingle window, duplicates kept — the
    * `explode(when(size < n, ...).otherwise(transform(sequence(...))))`
    * twin used by repetition stats. */
  def computeAllStrings(text: UTF8String, n: Int): GenericArrayData =
    toUtf8Array(shingleStrings(text, n, dedup = false))

  private def toUtf8Array(ss: ArrayBuffer[String]): GenericArrayData = {
    val arr = new Array[Any](ss.length)
    var i = 0
    while (i < ss.length) { arr(i) = UTF8String.fromString(ss(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** xxhash64 (seed 42, the SQL default) of each distinct shingle — the
    * `transform(shingles, s => xxhash64(s))` twin. */
  def computeHashes(text: UTF8String, n: Int): GenericArrayData = {
    val ss = shingleStrings(text, n)
    val arr = new Array[Any](ss.length)
    var i = 0
    while (i < ss.length) {
      arr(i) = java.lang.Long.valueOf(XxHash64Function.hash(
        UTF8String.fromString(ss(i)), StringType, 42L))
      i += 1
    }
    new GenericArrayData(arr)
  }

  private def call(function: String, element: DataType, text: Column,
                   n: Int): Column =
    Kernel.call(this, function, ArrayType(element, containsNull = false),
      Seq(text -> StringType, lit(n) -> IntegerType), nullable = false)

  /** `array<string>` of distinct word n-gram shingles */
  def shinglesCol(text: Column, n: Int): Column =
    call("computeStrings", StringType, text, n)

  /** `array<string>` of ALL word n-gram windows (duplicates kept) — see
    * [[computeAllStrings]] */
  def shinglesAllCol(text: Column, n: Int): Column =
    call("computeAllStrings", StringType, text, n)

  /** `array<bigint>` of xxhash64'd distinct shingles */
  def ngramHashes(text: Column, n: Int): Column =
    call("computeHashes", LongType, text, n)
}
