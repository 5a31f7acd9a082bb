package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Wcmp2Schema

/** The KPI rule walks (`/root/reference/pywcmp/wcmp2/kpi.py`) as native
  * kernels. Each returns the rule's whole result, a [[resultType]] struct
  * `(total, score, comments)`, from one walk; the declarative forms they
  * replace are the tests' `KpiRulesReference` (parity:
  * OptimizationParitySpec, KernelSpec). Comments keep the reference's
  * per-item, per-check order.
  *
  * A link probe arrives as data ([[probeArgs]]): its hrefs as a
  * [[Codelist]] literal, each href's accessibility and mime in two
  * aligned literal arrays, and whether it is offline (every URL
  * accessible, mime the declared type else `text/html`). A mapped probe
  * counts an unprobed URL inaccessible and falls back from the declared
  * type to the probed mime, null when there is none. */
object KpiWalks {
  private def u(s: String) = UTF8String.fromString(s)
  private def str(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i)

  val resultType: StructType = StructType(Seq(
    StructField("total", IntegerType, nullable = false),
    StructField("score", IntegerType, nullable = false),
    StructField("comments", ArrayType(StringType, containsNull = false),
      nullable = false)))

  private def result(total: Int, score: Int,
                     comments: ArrayBuffer[Any]): InternalRow =
    new GenericInternalRow(Array[Any](total, score,
      new GenericArrayData(comments.toArray)))

  private val extentInterval = Wcmp2Schema.timeExtent.fieldIndex("interval")
  private val extentResolution =
    Wcmp2Schema.timeExtent.fieldIndex("resolution")
  private val linkHref = Wcmp2Schema.link.fieldIndex("href")
  private val linkType = Wcmp2Schema.link.fieldIndex("type")
  private val contactEmails = Wcmp2Schema.contact.fieldIndex("emails")
  private val contactInstructions =
    Wcmp2Schema.contact.fieldIndex("contactInstructions")
  private val contactRoles = Wcmp2Schema.contact.fieldIndex("roles")
  private val emailValue = Wcmp2Schema.email.fieldIndex("value")
  private val externalIdScheme = Wcmp2Schema.externalId.fieldIndex("scheme")

  private val Open = u("..")
  private val Empty = u("")
  private val TextHtml = u("text/html")
  private val Host = u("host")
  private val ExternalIds = u("externalIds")
  private val CiteAs = u("cite-as")
  private val PidSchemes = Set(u("doi"), u("ark"), u("hdl"))
  private val TimeIsNull = u("time is null; no KPI check")
  private val BadOrder =
    u("Begin must be less than or equal to the end or open")
  private val FullyOpen = u("Temporal interval cannot be fully open")
  private val NoResolution = u("No temporal resolution found")
  private val MimePrefix = u("MIME type ")
  private val NotWebImage = u(" not a web image")
  private val NotAccessible = u("URL not accessible: ")
  private val BadLinkType = u("invalid link type ")
  private val NoHost = u("No host contact found")
  private val NoInstructions = u("No host contact instructions found")
  private val NoEmail = u("No host contact email found")
  private val NoPidScheme = u("No DOI/ARK/HDL schema found")

  // three-valued booleans: SQL's AND/OR/NOT over TRUE, FALSE and NULL
  private[this] final val F = 0
  private[this] final val T = 1
  private[this] final val N = 2
  private def and(a: Int, b: Int): Int =
    if (a == F || b == F) F else if (a == N || b == N) N else T
  private def or(a: Int, b: Int): Int =
    if (a == T || b == T) T else if (a == N || b == N) N else F
  private def not(a: Int): Int = if (a == N) N else 1 - a
  private def eq(a: UTF8String, b: UTF8String): Int =
    if (a == null || b == null) N else if (a == b) T else F

  private def elem(a: ArrayData, i: Int): UTF8String =
    if (i >= a.numElements() || a.isNullAt(i)) null else a.getUTF8String(i)

  /** `array_contains(a, v)`: NULL when `v` is absent and `a` has a null */
  private def arrayContains(a: ArrayData, v: UTF8String): Int = {
    var sawNull = false
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) sawNull = true
      else if (a.getUTF8String(i) == v) return T
      i += 1
    }
    if (sawNull) N else F
  }

  /** kpi_time_intervals (`kpi.py:218-277`): total 3 per gathered interval
    * (`time`, then `additionalExtents.temporal`, each when it and its
    * `interval` are present). Endpoints compare as strings, like the
    * reference (`kpi.py:260`); a point needs its check to be TRUE, a
    * comment its check to be FALSE (or TRUE for the fully-open one). */
  def timeIntervals(time: InternalRow, additional: InternalRow): InternalRow = {
    val comments = new ArrayBuffer[Any](3)
    if (time == null) {
      comments += TimeIsNull
      return result(0, 0, comments)
    }
    var total = 0
    var score = 0
    for (ti <- Seq(time, additional)
         if ti != null && !ti.isNullAt(extentInterval)) {
      val iv = ti.getArray(extentInterval)
      val begin = elem(iv, 0)
      val end = elem(iv, 1)
      val endOpen = eq(end, Open)
      val ordered = or(and(not(arrayContains(iv, Open)),
        if (begin == null || end == null) N
        else if (begin.compareTo(end) <= 0) T else F), endOpen)
      val fullyOpen = and(eq(begin, Open), endOpen)
      val resolved = !ti.isNullAt(extentResolution)
      total += 3
      if (ordered == T) score += 1
      if (fullyOpen == F) score += 1
      if (resolved) score += 1
      if (ordered == F) comments += BadOrder
      if (fullyOpen == T) comments += FullyOpen
      if (!resolved) comments += NoResolution
    }
    result(total, score, comments)
  }

  /** the index of `href` in a mapped probe, or -1 */
  private def probed(hrefs: ArrayData, href: UTF8String): Int =
    if (href == null) -1 else Codelist.indexOf(hrefs, href)

  private def accessible(hrefs: ArrayData, acc: ArrayData, offline: Boolean,
                         href: UTF8String): Boolean = offline || {
    val i = probed(hrefs, href)
    i >= 0 && acc.getBoolean(i)
  }

  private def mime(hrefs: ArrayData, mimes: ArrayData, offline: Boolean,
                   href: UTF8String, declared: UTF8String): UTF8String =
    if (declared != null) declared
    else if (offline) TextHtml
    else {
      val i = probed(hrefs, href)
      if (i < 0 || mimes.isNullAt(i)) null else mimes.getUTF8String(i)
    }

  /** kpi_graphic_overview (`kpi.py:279-328`): total 3 per preview link;
    * one point each for being a preview, a web-image type (declared, and
    * as the probe reports it) and accessibility. An inaccessible preview
    * without an href gets no comment. */
  def graphicOverview(previews: ArrayData, webImages: ArrayData,
                      hrefs: ArrayData, acc: ArrayData, mimes: ArrayData,
                      offline: Boolean): InternalRow = {
    val n = previews.numElements()
    val comments = new ArrayBuffer[Any](2)
    var score = 0
    var i = 0
    while (i < n) {
      val l = previews.getStruct(i, Wcmp2Schema.link.size)
      val href = str(l, linkHref)
      val declared = str(l, linkType)
      // the probe's mime is the declared type whenever one is declared
      val mimeOk = Codelist.contains(webImages,
        if (declared == null) Empty else declared)
      val ok = accessible(hrefs, acc, offline, href)
      score += 1 + (if (mimeOk) 1 else 0) + (if (ok) 1 else 0)
      if (!mimeOk) comments += UTF8String.concat(MimePrefix,
        if (declared == null) Empty else declared, NotWebImage)
      if (!ok && href != null) comments += UTF8String.concat(NotAccessible, href)
      i += 1
    }
    result(n * 3, score, comments)
  }

  /** kpi_links_health (`kpi.py:330-405`): total 2 per pooled http(s) URL;
    * one point each for accessibility and a valid mime. A URL whose mime
    * is unknown scores no mime point and gets no comment. */
  def linksHealth(pool: ArrayData, validMimes: ArrayData, hrefs: ArrayData,
                  acc: ArrayData, mimes: ArrayData,
                  offline: Boolean): InternalRow = {
    val n = pool.numElements()
    val comments = new ArrayBuffer[Any](2)
    var score = 0
    var i = 0
    while (i < n) {
      val p = pool.getStruct(i, 2)
      val href = str(p, 0)
      val ok = accessible(hrefs, acc, offline, href)
      val m = mime(hrefs, mimes, offline, href, str(p, 1))
      val typeOk = m != null && Codelist.contains(validMimes, m)
      score += (if (ok) 1 else 0) + (if (typeOk) 1 else 0)
      if (!ok) comments += UTF8String.concat(NotAccessible, href)
      if (m != null && !typeOk) comments += UTF8String.concat(BadLinkType, m)
      i += 1
    }
    result(n * 2, score, comments)
  }

  /** kpi_contacts (`kpi.py:407-451`), total 3. Reference bug reproduced:
    * the email check reads the LAST contact of the array, not the host
    * contact (`kpi.py:441`). The host is the last contact whose roles
    * include `host`. */
  def contacts(contacts: ArrayData): InternalRow = {
    var host: InternalRow = null
    var last: InternalRow = null
    if (contacts != null) {
      val n = contacts.numElements()
      var i = 0
      while (i < n) {
        if (!contacts.isNullAt(i)) {
          val c = contacts.getStruct(i, Wcmp2Schema.contact.size)
          if (!c.isNullAt(contactRoles) &&
              arrayContains(c.getArray(contactRoles), Host) == T) host = c
        }
        i += 1
      }
      if (n > 0 && !contacts.isNullAt(n - 1))
        last = contacts.getStruct(n - 1, Wcmp2Schema.contact.size)
    }
    val hostFound = host != null
    val instructionsOk = hostFound && !host.isNullAt(contactInstructions)
    val emailFound = last != null && !last.isNullAt(contactEmails) && {
      val emails = last.getArray(contactEmails)
      (0 until emails.numElements()).exists(j => !emails.isNullAt(j) &&
        !emails.getStruct(j, Wcmp2Schema.email.size).isNullAt(emailValue))
    }
    val comments = new ArrayBuffer[Any](1)
    if (!hostFound) comments += NoHost
    if (hostFound && !instructionsOk) comments += NoInstructions
    if (hostFound && !emailFound) comments += NoEmail
    result(3, (if (hostFound) 1 else 0) + (if (instructionsOk) 1 else 0) +
      (if (hostFound && emailFound) 1 else 0), comments)
  }

  /** kpi_pids (`kpi.py:453-490`): `externalIds` present as a key (from the
    * parse's `$.properties` key list) makes the total 3, with a point for
    * it and one for a DOI/ARK/HDL scheme. Reference quirk kept: the
    * cite-as point is scored even when the total is 0. */
  def pids(propsKeys: ArrayData, externalIds: ArrayData,
           links: ArrayData): InternalRow = {
    val present = propsKeys != null && arrayContains(propsKeys, ExternalIds) == T
    val schemeOk = externalIds != null &&
      (0 until externalIds.numElements()).exists { i =>
        !externalIds.isNullAt(i) && PidSchemes.contains(
          str(externalIds.getStruct(i, Wcmp2Schema.externalId.size),
            externalIdScheme))
      }
    val citeAs = EtsWalks.hasRel(links, CiteAs)
    val comments = new ArrayBuffer[Any](1)
    if (present && !schemeOk) comments += NoPidScheme
    result(if (present) 3 else 0,
      (if (present) 1 + (if (schemeOk) 1 else 0) else 0) +
        (if (citeAs) 1 else 0), comments)
  }

  /** A probe's data as the four trailing kernel arguments: hrefs, their
    * accessibility and mimes (aligned), and the offline flag. */
  def probeArgs(entries: Map[String, (Boolean, String)],
                offline: Boolean): Seq[(Column, DataType)] = {
    val hrefs = entries.keys.map(UTF8String.fromString).toVector
      .sortWith(_.compareTo(_) < 0).map(_.toString)
    Seq(Codelist.literal(hrefs) -> ArrayType(StringType),
      org.apache.spark.sql.functions.typedlit(hrefs.map(entries(_)._1)) ->
        ArrayType(BooleanType),
      org.apache.spark.sql.functions.typedlit(hrefs.map(entries(_)._2)) ->
        ArrayType(StringType),
      lit(offline) -> BooleanType)
  }

  private def call(function: String, args: Seq[(Column, DataType)],
                   passNulls: Boolean = false): Column =
    Kernel.call(this, function, resultType, args, nullable = false,
      passNulls = passNulls)

  /** [[timeIntervals]] of the record's `time` and
    * `additionalExtents.temporal` time extents; never null */
  def timeIntervalsResult(time: Column, additional: Column): Column =
    call("timeIntervals", Seq(time -> Wcmp2Schema.timeExtent,
      additional -> Wcmp2Schema.timeExtent), passNulls = true)

  /** [[graphicOverview]] of the preview links; null for null links */
  def graphicOverviewResult(previews: Column, webImages: Seq[String],
                            probe: Seq[(Column, DataType)]): Column =
    call("graphicOverview", Seq(previews -> ArrayType(Wcmp2Schema.link),
      Codelist.literal(webImages) -> ArrayType(StringType)) ++ probe)

  /** [[linksHealth]] of the K5 pool ([[LinkPoolExpr]]) */
  def linksHealthResult(pool: Column, validMimes: Seq[String],
                        probe: Seq[(Column, DataType)]): Column =
    call("linksHealth", Seq(pool -> LinkPoolExpr.dataType,
      Codelist.literal(validMimes) -> ArrayType(StringType)) ++ probe)

  /** [[contacts]] of `contacts: array<contact>`; never null */
  def contactsResult(contacts: Column): Column =
    call("contacts", Seq(contacts -> ArrayType(Wcmp2Schema.contact)),
      passNulls = true)

  /** [[pids]] of the `$.properties` keys, `externalIds` and the record's
    * links; never null */
  def pidsResult(propsKeys: Column, externalIds: Column,
                 links: Column): Column =
    call("pids", Seq(propsKeys -> ArrayType(StringType),
      externalIds -> ArrayType(Wcmp2Schema.externalId),
      links -> ArrayType(Wcmp2Schema.link)), passNulls = true)
}
