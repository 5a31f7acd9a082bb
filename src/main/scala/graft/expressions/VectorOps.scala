package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Native kernels for the embedding vectors — the codegen'd
  * replacements for the `aggregate`/`zip_with` higher-order
  * formulations (HOFs are CodegenFallback: the interpreted tree walks
  * per element dominate the ANN/near-dup profiles). Bit-identical to the
  * HOF reference implementations, asserted in OperatorsSpec.
  */
object VectorOps {

  /** Σ a(i)*b(i), summed left-to-right like the HOF fold
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)`; null when lengths differ
    * or any paired element is null (zip_with pads with null and the fold
    * absorbs it — reproduced exactly). */
  def dot(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** Random-hyperplane sign sketch: bit p (0-based) set iff
    * Σ_i vec(i) * ((pmod(xxhash64(p, i), 1000) / 500.0) - 1.0) > 0,
    * with Spark's two-argument `xxhash64(p, i)` chaining (seed 42). A
    * null element nulls that plane's dot product, leaving the bit unset
    * — exactly the HOF's null propagation through `when(dot > 0, ...)`. */
  def signSketch(vec: ArrayData, planes: Int): Long = {
    if (vec == null) return 0L
    val n = vec.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = vec.isNullAt(i); i += 1 }
    if (hasNull) return 0L
    var out = 0L
    var p = 0
    while (p < planes) {
      val hp = XxHash64Function.hash(p, IntegerType, 42L)
      var dotv = 0.0d
      i = 0
      while (i < n) {
        val h = XxHash64Function.hash(i, IntegerType, hp)
        val w = (((h % 1000L) + 1000L) % 1000L).toDouble / 500.0 - 1.0
        dotv += vec.getDouble(i) * w
        i += 1
      }
      if (dotv > 0) out |= (1L << p)
      p += 1
    }
    out
  }

  /** Margin-guided multi-probe cells (the probing-sequence construction
    * of multi-probe LSH, Lv et al. 2007 VLDB, public literature): the
    * first cell is the vector's own [[signSketch]] cell; subsequent
    * cells flip subsets of hyperplane bits in increasing order of the
    * summed |margin| of the flipped planes — the planes whose dot
    * product sat closest to zero are precisely the ones a true
    * neighbor's sketch most likely disagrees on, so ranking probes by
    * margin buys recall that uniform single-bit flips cannot.
    * Deterministic subset enumeration: sort planes by |margin| with
    * index tiebreak, then best-first search where a set {.., j} expands
    * to shift {.., j+1} and grow {.., j, j+1} (each generated once).
    * Returns exactly `min(nprobe, 2^planes)` distinct cells. Null/empty
    * /null-element vectors return the single cell 0L (the [[signSketch]]
    * convention). */
  def multiProbeCells(vec: ArrayData, planes: Int, nprobe: Int): GenericArrayData = {
    val maxCells = if (planes >= 31) Int.MaxValue else (1 << planes)
    val want = math.min(nprobe, maxCells)
    def single(cell: Long) = new GenericArrayData(Array(cell))
    if (vec == null) return single(0L)
    val n = vec.numElements()
    var i = 0
    while (i < n) { if (vec.isNullAt(i)) return single(0L); i += 1 }
    // per-plane dots, base cell, margins (same weight derivation as
    // signSketch — bit-compatible by shared construction)
    val dots = new Array[Double](planes)
    var base = 0L
    var p = 0
    while (p < planes) {
      val hp = XxHash64Function.hash(p, IntegerType, 42L)
      var dotv = 0.0d
      i = 0
      while (i < n) {
        val h = XxHash64Function.hash(i, IntegerType, hp)
        val w = (((h % 1000L) + 1000L) % 1000L).toDouble / 500.0 - 1.0
        dotv += vec.getDouble(i) * w
        i += 1
      }
      dots(p) = dotv
      if (dotv > 0) base |= (1L << p)
      p += 1
    }
    if (want <= 1) return single(base)
    // planes sorted by |margin| ascending (index tiebreak for determinism)
    val order = (0 until planes).sortBy(p => (math.abs(dots(p)), p)).toArray
    val margin = order.map(p => math.abs(dots(p)))
    val out = new Array[Long](want)
    out(0) = base
    var filled = 1
    // best-first over flip sets encoded as (score, sorted-index bitmask,
    // max sorted-index); Long mask is fine (planes <= 64)
    val pq = new java.util.PriorityQueue[(Double, Long, Int)](
      (a, b) => java.lang.Double.compare(a._1, b._1))
    pq.add((margin(0), 1L, 0))
    while (filled < want && !pq.isEmpty) {
      val (score, mask, maxJ) = pq.poll()
      var cell = base
      var j = 0
      while (j <= maxJ) {
        if ((mask & (1L << j)) != 0) cell ^= (1L << order(j))
        j += 1
      }
      out(filled) = cell
      filled += 1
      if (maxJ + 1 < planes) {
        // shift: replace the max element with its successor
        pq.add((score - margin(maxJ) + margin(maxJ + 1),
          (mask ^ (1L << maxJ)) | (1L << (maxJ + 1)), maxJ + 1))
        // grow: add the successor
        pq.add((score + margin(maxJ + 1),
          mask | (1L << (maxJ + 1)), maxJ + 1))
      }
    }
    new GenericArrayData(
      if (filled == want) out else java.util.Arrays.copyOf(out, filled))
  }

  private val Vec = ArrayType(DoubleType)

  /** See [[dot]]. */
  def dotProduct(a: Column, b: Column): Column =
    Kernel.call(this, "dot", DoubleType, Seq(a -> Vec, b -> Vec),
      nullable = true)

  /** See [[signSketch]]. */
  def signSketchCol(vec: Column, planes: Int): Column = {
    require(planes >= 1 && planes <= 64, "planes must be in [1, 64]")
    Kernel.call(this, "signSketch", LongType,
      Seq(vec -> Vec, lit(planes) -> IntegerType), nullable = false)
  }

  /** See [[multiProbeCells]]. */
  def multiProbeCellsCol(vec: Column, planes: Int, nprobe: Int): Column = {
    require(planes >= 1 && planes <= 62, "planes must be in [1, 62]")
    require(nprobe >= 1, "nprobe must be >= 1")
    Kernel.call(this, "multiProbeCells",
      ArrayType(LongType, containsNull = false),
      Seq(vec -> Vec, lit(planes) -> IntegerType, lit(nprobe) -> IntegerType),
      nullable = false)
  }
}
