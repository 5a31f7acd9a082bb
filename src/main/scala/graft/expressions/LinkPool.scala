package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{array, coalesce}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Wcmp2Schema

/** The K5 link-health pool (`/root/reference/pywcmp/wcmp2/kpi.py` links
  * KPI): every URL the record carries — record links (href + type), theme
  * concept urls, theme schemes, contact links — as
  * `array<struct<href,type>>`, computed in one native walk over the
  * already-parsed [[graft.model.Wcmp2Schema]] struct arrays.
  *
  * Replaces the interpreted transform/filter/flatten/concat chain of the
  * declarative pool (the tests' `KpiReference.httpLinkPool`), with its
  * exact semantics, including the quirks
  * the declarative version exhibits:
  *
  *  - only entries whose href is non-null and starts with "http" enter
  *    the pool (the declarative version's final filter — null link
  *    elements and null hrefs/schemes drop out there);
  *  - if ANY theme element is null or has null `concepts`, the ENTIRE
  *    theme contribution vanishes (`concat(null, ...)` nulls that
  *    element, and `flatten` of an array containing null is null, which
  *    the declarative pool coalesces to empty);
  *  - every theme contributes its `scheme` as a pool href candidate;
  *  - a null array, null contact elements and null contact `links`
  *    contribute nothing (coalesce-to-empty).
  */
object LinkPoolExpr {

  val dataType: ArrayType = ArrayType(StructType(Seq(
    StructField("href", StringType), StructField("type", StringType))),
    containsNull = false)

  // field ordinals of the Wcmp2Schema structs the walk reads
  private val linkHref = Wcmp2Schema.link.fieldIndex("href")
  private val linkType = Wcmp2Schema.link.fieldIndex("type")
  private val themeConcepts = Wcmp2Schema.theme.fieldIndex("concepts")
  private val themeScheme = Wcmp2Schema.theme.fieldIndex("scheme")
  private val conceptUrl = Wcmp2Schema.concept.fieldIndex("url")
  private val contactLinks = Wcmp2Schema.contact.fieldIndex("links")
  private val contactLinkHref = Wcmp2Schema.contactLink.fieldIndex("href")

  private val HTTP = UTF8String.fromString("http")

  /** the declarative pool's final filter: keep only non-null hrefs
    * starting with "http" */
  private def addIfHttp(out: ArrayBuffer[Any], href: UTF8String,
                        t: UTF8String): Unit =
    if (href != null && href.startsWith(HTTP)) {
      val a = new Array[Any](2); a(0) = href; a(1) = t
      out += new GenericInternalRow(a)
    }

  /** The pool of `links: array<link>`, `themes: array<theme>` and
    * `contacts: array<contact>`. The arguments are never null: a null
    * array contributes nothing, which is what the empty array
    * [[linkPool]] passes in its place contributes. */
  def pool(links: ArrayData, themes: ArrayData,
           contacts: ArrayData): ArrayData = {
    val out = new ArrayBuffer[Any](8)
    var i = 0
    while (i < links.numElements()) {
      if (!links.isNullAt(i)) {
        val l = links.getStruct(i, Wcmp2Schema.link.size)
        addIfHttp(out,
          if (l.isNullAt(linkHref)) null else l.getUTF8String(linkHref),
          if (l.isNullAt(linkType)) null else l.getUTF8String(linkType))
      }
      i += 1
    }
    // declarative-parity poisoning: any null theme / null concepts
    // nulls the flattened theme contribution entirely
    var poisoned = false
    i = 0
    while (i < themes.numElements() && !poisoned) {
      poisoned = themes.isNullAt(i) ||
        themes.getStruct(i, Wcmp2Schema.theme.size).isNullAt(themeConcepts)
      i += 1
    }
    i = 0
    while (!poisoned && i < themes.numElements()) {
      val t = themes.getStruct(i, Wcmp2Schema.theme.size)
      val concepts = t.getArray(themeConcepts)
      var j = 0
      while (j < concepts.numElements()) {
        if (!concepts.isNullAt(j)) {
          val c = concepts.getStruct(j, Wcmp2Schema.concept.size)
          if (!c.isNullAt(conceptUrl))
            addIfHttp(out, c.getUTF8String(conceptUrl), null)
        }
        j += 1
      }
      if (!t.isNullAt(themeScheme))
        addIfHttp(out, t.getUTF8String(themeScheme), null)
      i += 1
    }
    i = 0
    while (i < contacts.numElements()) {
      if (!contacts.isNullAt(i)) {
        val c = contacts.getStruct(i, Wcmp2Schema.contact.size)
        if (!c.isNullAt(contactLinks)) {
          val clinks = c.getArray(contactLinks)
          var j = 0
          while (j < clinks.numElements()) {
            if (!clinks.isNullAt(j)) {
              val l = clinks.getStruct(j, Wcmp2Schema.contactLink.size)
              if (!l.isNullAt(contactLinkHref))
                addIfHttp(out, l.getUTF8String(contactLinkHref), null)
            }
            j += 1
          }
        }
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Never null: each null argument is replaced by a typed empty array
    * before the call, because a null argument would null the result. */
  def linkPool(links: Column, themes: Column, contacts: Column): Column = {
    def arg(c: Column, element: StructType): (Column, DataType) = {
      val t = ArrayType(element)
      coalesce(c, array().cast(t)) -> t
    }
    Kernel.call(this, "pool", dataType, Seq(arg(links, Wcmp2Schema.link),
      arg(themes, Wcmp2Schema.theme), arg(contacts, Wcmp2Schema.contact)),
      nullable = false)
  }
}
