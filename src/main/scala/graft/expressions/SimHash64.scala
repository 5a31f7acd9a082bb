package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for 64-bit SimHash — the codegen'd
  * replacement for the higher-order-function formulation in
  * the tests' `DedupReference.simhash64` (HOFs are CodegenFallback in
  * Spark: the HOF version walks an interpreted expression tree 64 x
  * |tokens| times per row; this one is a single static call inside
  * whole-stage codegen).
  *
  * Semantics (bit-identical to the HOF version, asserted in
  * OperatorsSpec): whitespace tokens of the lower-cased text, token hash
  * = Spark's `xxhash64` (seed 42), bit b set iff the +1/-1 vote sum over
  * token-hash bit b is positive.
  */
object SimHash64 {
  /** static kernel shared by interpreted eval and generated code */
  def compute(text: UTF8String): Long = {
    val s = text.toLowerCase.toString
    val counts = new Array[Int](64)
    var start = 0
    val len = s.length
    var i = 0
    var any = false
    // exactly Java regex \s = [ \t\n\x0B\f\r], matching split(text,"\\s+")
    def isWs(c: Char): Boolean = c == ' ' || c == '\t' || c == '\n' ||
      c == '\u000B' || c == '\f' || c == '\r'
    while (i <= len) {
      val atEnd = i == len
      if (atEnd || isWs(s.charAt(i))) {
        if (i > start) {
          val tok = UTF8String.fromString(s.substring(start, i))
          val h = XxHash64Function.hash(tok, StringType, 42L)
          var b = 0
          while (b < 64) {
            counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
          any = true
        }
        start = i + 1
      }
      i += 1
    }
    if (!any) return 0L
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash64(c: Column): Column =
    Kernel.call(this, "compute", LongType, Seq(c -> StringType),
      nullable = false)
}
