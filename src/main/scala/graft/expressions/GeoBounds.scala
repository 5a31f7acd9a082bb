package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** shapely's `.bounds` (`/root/reference/pywcmp/wcmp2/ets.py:246-253`) of
  * a flattened position list (the JsonFacts `geo_positions`), in one walk:
  * `struct(minx, miny, maxx, maxy)` over the first two ordinates. A null
  * position or a missing ordinate is skipped, and a bound with no value
  * (every bound of a null list) is null. Doubles order as Spark orders
  * them (`NaN` above every number, `-0.0` equal to `0.0`, the first of
  * equals kept), so this is `array_min`/`array_max` of the per-ordinate
  * `transform`s it replaces (the tests' `EtsRulesReference.bounds`). */
object GeoBounds {

  val dataType: StructType = StructType(
    Seq("minx", "miny", "maxx", "maxy").map(StructField(_, DoubleType)))

  def bounds(positions: ArrayData): InternalRow = {
    val out = new Array[Any](4)
    var i = 0
    while (positions != null && i < positions.numElements()) {
      if (!positions.isNullAt(i)) {
        val p = positions.getArray(i)
        var axis = 0
        while (axis < 2) {
          if (axis < p.numElements() && !p.isNullAt(axis)) {
            val v = p.getDouble(axis)
            if (out(axis) == null ||
                SQLOrderingUtil.compareDoubles(v, out(axis).asInstanceOf[Double]) < 0)
              out(axis) = v
            if (out(axis + 2) == null ||
                SQLOrderingUtil.compareDoubles(v, out(axis + 2).asInstanceOf[Double]) > 0)
              out(axis + 2) = v
          }
          axis += 1
        }
      }
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** [[bounds]] of `positions: array<array<double>>`; never null (all
    * four bounds are null for a null list) */
  def boundsColumn(positions: Column): Column =
    Kernel.call(this, "bounds", dataType,
      Seq(positions -> ArrayType(ArrayType(DoubleType))), nullable = false,
      passNulls = true)
}
