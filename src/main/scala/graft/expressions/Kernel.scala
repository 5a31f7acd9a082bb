package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.typedlit
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The one way a static kernel function becomes a `Column`: Spark's own
  * `StaticInvoke`, the expression Spark builds `url_encode` and
  * `luhn_check` on. Inside whole-stage codegen it emits one static call;
  * interpreted, it calls the same method by reflection.
  *
  *  - `kernel` is the Scala object that holds `function`; the call goes to
  *    its static forwarder. The overload is chosen by Spark's internal
  *    argument classes (`UTF8String`, `ArrayData`, `InternalRow`,
  *    `MapData`, `byte[]`, `long`, `int`, `boolean`), so the kernel's
  *    signature must use them.
  *  - `args` pairs each argument column with its input type. Analysis
  *    rejects an argument that cannot be cast to that type.
  *  - By default a null argument gives a null result without calling the
  *    kernel. With `passNulls` the kernel is called with the null (give
  *    it only object-typed arguments that can be null) and decides
  *    itself. `nullable` says whether the kernel itself can return null;
  *    when it is false and no argument nulls the result, the column is not
  *    nullable.
  *
  * `StaticInvoke` has no SQL form, so an unaliased kernel column gets a
  * generated name: alias every kernel column that becomes an output. */
object Kernel {
  def call(kernel: AnyRef, function: String, dataType: DataType,
           args: Seq[(Column, DataType)], nullable: Boolean,
           passNulls: Boolean = false): Column =
    shims.column(StaticInvoke(kernel.getClass, dataType, function,
      args.map(a => shims.expression(a._1)), args.map(_._2),
      propagateNull = !passNulls, returnNullable = nullable))
}

/** A codelist as a kernel argument: one literal `array<string>` built on
  * the driver, so the plan carries it to wherever the kernel runs, and no
  * executor reads a codelist of its own. The values are distinct and
  * sorted in `UTF8String` byte order, so a kernel looks one up by binary
  * search: no set is built, per row or per task. */
object Codelist {
  def literal(values: Iterable[String]): Column =
    typedlit(values.iterator.map(UTF8String.fromString).toVector.distinct
      .sortWith(_.compareTo(_) < 0).map(_.toString))

  /** the index of `s` in `sorted` (a [[literal]] array), or -1 */
  def indexOf(sorted: ArrayData, s: UTF8String): Int = {
    var lo = 0
    var hi = sorted.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = sorted.getUTF8String(mid).compareTo(s)
      if (c < 0) lo = mid + 1
      else if (c > 0) hi = mid - 1
      else return mid
    }
    -1
  }

  def contains(sorted: ArrayData, s: UTF8String): Boolean =
    s != null && indexOf(sorted, s) >= 0
}
