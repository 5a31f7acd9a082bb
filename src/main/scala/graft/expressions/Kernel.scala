package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.DataType

/** The one way a static kernel function becomes a `Column`: Spark's own
  * `StaticInvoke`, the expression Spark builds `url_encode` and
  * `luhn_check` on. Inside whole-stage codegen it emits one static call;
  * interpreted, it calls the same method by reflection.
  *
  *  - `kernel` is the Scala object that holds `function`; the call goes to
  *    its static forwarder. The overload is chosen by Spark's internal
  *    argument classes (`UTF8String`, `ArrayData`, `byte[]`, `long`,
  *    `int`), so the kernel's signature must use them.
  *  - `args` pairs each argument column with its input type. Analysis
  *    rejects an argument that cannot be cast to that type.
  *  - A null argument gives a null result without calling the kernel.
  *    `nullable` says whether the kernel itself can return null; when it
  *    is false and no argument is nullable, the column is not nullable.
  *
  * `StaticInvoke` has no SQL form, so an unaliased kernel column gets a
  * generated name: alias every kernel column that becomes an output. */
object Kernel {
  def call(kernel: AnyRef, function: String, dataType: DataType,
           args: Seq[(Column, DataType)], nullable: Boolean): Column =
    shims.column(StaticInvoke(kernel.getClass, dataType, function,
      args.map(a => shims.expression(a._1)), args.map(_._2),
      returnNullable = nullable))
}
