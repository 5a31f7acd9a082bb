package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Native MinHash signature over a materialized shingle array — the
  * codegen'd replacement for
  * `transform(sequence(0,k-1), i => array_min(transform(sh, s => xxhash64(i,s))))`
  * in [[graft.operators.Dedup]]: the HOF formulation allocates k interim
  * arrays per row and walks the interpreted lambda machinery k*|shingles|
  * times; this is one tight k x |shingles| loop of stack-local hash calls.
  *
  * Hash parity with the HOF version (asserted in OperatorsSpec):
  * `xxhash64(i, s)` = xxhash64 folds its arguments left-to-right from
  * seed 42, so hash = XXH64(s_bytes, seed = XXH64(int i, 42)).
  */
object MinHashSig {
  def compute(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Any](k)
    var i = 0
    while (i < k) {
      // seed chain identical to SQL xxhash64(i, s)
      val seedI = XxHash64Function.hash(i, IntegerType, 42L)
      var min = Long.MaxValue
      var any = false
      var j = 0
      while (j < n) {
        if (!shingles.isNullAt(j)) {
          val s = shingles.getUTF8String(j)
          val h = XxHash64Function.hash(s, StringType, seedI)
          if (h < min) min = h
          any = true
        }
        j += 1
      }
      // array_min of an empty/all-null array is null
      out(i) = if (any) java.lang.Long.valueOf(min) else null
      i += 1
    }
    new GenericArrayData(out)
  }

  def minhashSig(c: Column, k: Int): Column =
    Kernel.call(this, "compute", ArrayType(LongType, containsNull = true),
      Seq(c -> ArrayType(StringType), lit(k) -> IntegerType),
      nullable = false)
}
