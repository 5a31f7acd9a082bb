package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Wcmp2Schema

/** `filter(links, _.rel === "preview")` as one native walk — the K4
  * graphic-overview preview list, previously an interpreted ArrayFilter
  * inside the Generate barrier. Null elements drop out (their `rel` is
  * null, so the declarative predicate is null). Output element type ==
  * input element type, [[graft.model.Wcmp2Schema.link]]. */
object Previews {
  private val PREVIEW = UTF8String.fromString("preview")
  private val rel = Wcmp2Schema.link.fieldIndex("rel")

  def keep(links: ArrayData): ArrayData = {
    val out = new ArrayBuffer[Any](2)
    var i = 0
    while (i < links.numElements()) {
      if (!links.isNullAt(i)) {
        val l = links.getStruct(i, Wcmp2Schema.link.size)
        if (!l.isNullAt(rel) && l.getUTF8String(rel) == PREVIEW)
          out += l.copy()
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** null links give null */
  def previews(c: Column): Column =
    Kernel.call(this, "keep", ArrayType(Wcmp2Schema.link, containsNull = false),
      Seq(c -> ArrayType(Wcmp2Schema.link)), nullable = false)
}
