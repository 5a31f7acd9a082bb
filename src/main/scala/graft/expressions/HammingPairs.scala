package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native in-bucket Hamming pair generator for the pigeonhole dedup
  * ([[graft.operators.Dedup.hammingDedup]]): given one bucket's
  * signature members sorted ascending, emit every pair of DISTINCT
  * members with `bit_count(a ^ b) <= maxHamming` as
  * `(sig_a, sig_b, hamming)` structs (sig_a < sig_b — the input is sorted
  * ascending, so (i, j < i) pairs are already oriented). Repeated members
  * collapse to one, so a duplicate never yields an `(a, a, 0)` self-pair
  * or a repeated pair.
  *
  * Why native: the join-shaped pair generation this replaces streamed
  * EVERY in-bucket pair through sort-merge-join row machinery — measured
  * 10.4M joined rows at sf0.1 to keep 964 pairs, ~0.15 us/pair warm and
  * ~10x that on a cold (interpreter-phase) run, 200 CPU-s in the
  * bench's cold single-shot. Here the m^2/2 candidate scan is a tight
  * long[] loop (xor + popcount, ~5 ns/pair, JIT-shared across queries
  * because the kernel is precompiled Scala, not per-query codegen), and
  * only SURVIVING pairs materialize as rows. The round-5 skew argument
  * for the join shape (AQE can split a hot bucket across tasks) is
  * superseded by the cost model: a full maxBucket-sized bucket of m
  * members is m^2/2 native ops — 2M pairs ~ 10 ms — so a single task
  * per bucket is no longer a straggler risk; per-task work stays bounded
  * by maxBucket^2/2 cheap ops by the same cap that already bounds the
  * member buffer. Output identity with the join formulation is pinned in
  * OperatorsSpec/OptimizationParitySpec.
  */
case class HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("sig_a", LongType, nullable = false),
    StructField("sig_b", LongType, nullable = false),
    StructField("hamming", IntegerType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.DataTypeMismatch(
      errorSubClass = "UNEXPECTED_INPUT_TYPE",
      messageParameters = Map("paramIndex" -> "1",
        "requiredType" -> "\"ARRAY<BIGINT>\"",
        "inputSql" -> child.sql, "inputType" -> child.dataType.sql))
  }
  override def nullSafeEval(input: Any): Any =
    HammingPairs.compute(input.asInstanceOf[ArrayData], maxHamming)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.HammingPairs.compute($c, $maxHamming)")
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "hamming_pairs"
}

object HammingPairs {
  def compute(members: ArrayData, maxHamming: Int): ArrayData = {
    // compact equal neighbours in place: sorted input keeps them adjacent
    val sigs = members.toLongArray()
    var m = 0
    var k = 0
    while (k < sigs.length) {
      if (m == 0 || sigs(k) != sigs(m - 1)) { sigs(m) = sigs(k); m += 1 }
      k += 1
    }
    val out = new ArrayBuffer[Any](8)
    var i = 0
    while (i < m) {
      val a = sigs(i)
      var j = i + 1
      while (j < m) {
        val h = java.lang.Long.bitCount(a ^ sigs(j))
        if (h <= maxHamming) {
          val r = new Array[Any](3)
          r(0) = java.lang.Long.valueOf(a)
          r(1) = java.lang.Long.valueOf(sigs(j))
          r(2) = java.lang.Integer.valueOf(h)
          out += new GenericInternalRow(r)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  def hammingPairs(members: Column, maxHamming: Int): Column = {
    import org.apache.spark.sql.graft.shims
    shims.column(HammingPairs(shims.expression(members), maxHamming))
  }
}
