package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Wcmp2Schema

/** The ETS rule walks (`/root/reference/pywcmp/wcmp2/ets.py`) as native
  * kernels: each walks its arrays once and returns the rule's message,
  * null when the rule passes. The declarative forms they replace are the
  * tests' `EtsRulesReference` (parity: OptimizationParitySpec, KernelSpec).
  *
  * Null semantics follow the declarative forms under ANSI SQL (Spark 4's
  * default), where `size(null)` is null: a null array is not "empty", it
  * makes the rule pass (the kernel is not called). Inside an array, a null
  * element or field fails a comparison the way SQL's three-valued logic
  * does, case by case below. Codelists are [[Codelist]] literals. */
object EtsWalks {
  private def u(s: String) = UTF8String.fromString(s)
  private def str(r: InternalRow, i: Int): UTF8String =
    if (r.isNullAt(i)) null else r.getUTF8String(i)

  private val themeConcepts = Wcmp2Schema.theme.fieldIndex("concepts")
  private val themeScheme = Wcmp2Schema.theme.fieldIndex("scheme")
  private val conceptId = Wcmp2Schema.concept.fieldIndex("id")
  private val contactRoles = Wcmp2Schema.contact.fieldIndex("roles")
  private val linkRel = Wcmp2Schema.link.fieldIndex("rel")
  private val linkHref = Wcmp2Schema.link.fieldIndex("href")
  private val linkChannel = Wcmp2Schema.link.fieldIndex("channel")
  private val linkSecurity = Wcmp2Schema.link.fieldIndex("security")
  private val securityDescription =
    Wcmp2Schema.securityScheme.fieldIndex("description")

  private val NoTheme = u("Missing at least one theme")
  private val NoConcept = u("Missing at least one concept")
  private val NoScheme = u("Missing scheme")
  private val NoConceptId = u("Missing concept id")
  private val BadDiscipline = u("Invalid Earth system discipline ")
  private val NoDisciplineTheme =
    u("No Earth system discipline based theme found")
  private val EsdSuffix = u("earth-system-discipline")
  private val BadRole = u("Invalid role ")
  private val NoLink = u("missing at least one link")
  private val BadRelation = u("invalid link relation ")
  private val NoChannel = u("missing channel for Pub/Sub link")
  private val BadTopic = u("Invalid WIS2 topic for Pub/Sub link channel")
  private val NoSecurityDescription = u("missing security description for ")
  private val Mqtt = u("mqtt")
  private val OriginWis2 = u("origin/a/wis2")
  private val CacheWis2 = u("cache/a/wis2")

  /** themes (`ets.py:299-363`): the first failure across themes, then
    * across concepts within a theme; the closing earth-system-discipline
    * check only when no theme failed. A null theme fails "Missing scheme"
    * (its null `concepts` has no size); a theme with null `concepts` and a
    * scheme passes. */
  def themes(themes: ArrayData, disciplines: ArrayData): UTF8String = {
    val n = themes.numElements()
    if (n < 1) return NoTheme
    var esdFound = false
    var i = 0
    while (i < n) {
      val t = if (themes.isNullAt(i)) null
        else themes.getStruct(i, Wcmp2Schema.theme.size)
      val concepts =
        if (t == null || t.isNullAt(themeConcepts)) null
        else t.getArray(themeConcepts)
      val scheme = if (t == null) null else str(t, themeScheme)
      if (concepts != null && concepts.numElements() < 1) return NoConcept
      if (scheme == null) return NoScheme
      if (concepts != null) {
        val esdScheme = scheme.endsWith(EsdSuffix)
        var j = 0
        while (j < concepts.numElements()) {
          val id = if (concepts.isNullAt(j)) null
            else str(concepts.getStruct(j, Wcmp2Schema.concept.size), conceptId)
          if (id == null) return NoConceptId
          if (esdScheme && !Codelist.contains(disciplines, id))
            return UTF8String.concat(BadDiscipline, id)
          j += 1
        }
      }
      esdFound ||= scheme.contains(EsdSuffix)
      i += 1
    }
    if (esdFound) null else NoDisciplineTheme
  }

  /** contacts (`ets.py:365-386`): the Python `break` exits only the inner
    * role loop, so the message names the FIRST invalid role of the LAST
    * contact that has one. Null contacts, null `roles` and null roles are
    * skipped. */
  def contacts(contacts: ArrayData, roles: ArrayData): UTF8String = {
    var lastBad: UTF8String = null
    var i = 0
    while (i < contacts.numElements()) {
      if (!contacts.isNullAt(i)) {
        val c = contacts.getStruct(i, Wcmp2Schema.contact.size)
        if (!c.isNullAt(contactRoles)) {
          val rs = c.getArray(contactRoles)
          var j = 0
          var found = false
          while (j < rs.numElements() && !found) {
            if (!rs.isNullAt(j) && !Codelist.contains(roles, rs.getUTF8String(j))) {
              lastBad = rs.getUTF8String(j)
              found = true
            }
            j += 1
          }
        }
      }
      i += 1
    }
    if (lastBad == null) null else UTF8String.concat(BadRole, lastBad)
  }

  /** Whether any link of `links` has relation `rel` (false for a null
    * array): the `data_policy` license check (`ets.py:430`) and the pids
    * cite-as check (`kpi.py:477`). */
  def hasRel(links: ArrayData, rel: UTF8String): Boolean = {
    if (links == null) return false
    var i = 0
    while (i < links.numElements()) {
      if (!links.isNullAt(i) &&
          rel == str(links.getStruct(i, Wcmp2Schema.link.size), linkRel))
        return true
      i += 1
    }
    false
  }

  /** The first key, in map order, whose value (the first entry with that
    * key, as `element_at` reads it) is null or has no description. */
  private def badSecurityKey(m: MapData): UTF8String = {
    val keys = m.keyArray()
    val values = m.valueArray()
    val n = m.numElements()
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      var j = 0
      while (keys.getUTF8String(j) != k) j += 1
      if (values.isNullAt(j) || values.getStruct(j,
          Wcmp2Schema.securityScheme.size).isNullAt(securityDescription))
        return k
      i += 1
    }
    null
  }

  /** links (`ets.py:440-489`): the first failure per link, links in
    * document order. A null link passes; a null `rel` skips the relation
    * check and a null `href` the two Pub/Sub checks. Channel validity is
    * [[TopicChannel.valid]] over the given tables. */
  def links(links: ArrayData, relations: ArrayData, centres: ArrayData,
            policies: ArrayData, disciplines: ArrayData,
            subTable: ArrayData): UTF8String = {
    val n = links.numElements()
    if (n < 1) return NoLink
    var i = 0
    while (i < n) {
      if (!links.isNullAt(i)) {
        val l = links.getStruct(i, Wcmp2Schema.link.size)
        val rel = str(l, linkRel)
        val href = str(l, linkHref)
        val channel = str(l, linkChannel)
        val mqtt = href != null && href.startsWith(Mqtt)
        if (rel != null && !Codelist.contains(relations, rel))
          return UTF8String.concat(BadRelation, rel)
        if (mqtt && channel == null) return NoChannel
        if (mqtt && (channel.startsWith(OriginWis2) ||
              channel.startsWith(CacheWis2)) &&
            !TopicChannel.valid(channel.toString, centres, policies,
              disciplines, subTable))
          return BadTopic
        if (!l.isNullAt(linkSecurity)) {
          val bad = badSecurityKey(l.getMap(linkSecurity))
          if (bad != null) return UTF8String.concat(NoSecurityDescription, bad)
        }
      }
      i += 1
    }
    null
  }

  private val codelistType = ArrayType(StringType)

  /** [[themes]] of `themes: array<theme>` */
  def themesMessage(themes: Column, disciplines: Seq[String]): Column =
    Kernel.call(this, "themes", StringType, Seq(
      themes -> ArrayType(Wcmp2Schema.theme),
      Codelist.literal(disciplines) -> codelistType), nullable = true)

  /** [[contacts]] of `contacts: array<contact>` */
  def contactsMessage(contacts: Column, roles: Seq[String]): Column =
    Kernel.call(this, "contacts", StringType, Seq(
      contacts -> ArrayType(Wcmp2Schema.contact),
      Codelist.literal(roles) -> codelistType), nullable = true)

  /** [[hasRel]] of `links: array<link>`; never null */
  def hasRelColumn(links: Column, rel: String): Column =
    Kernel.call(this, "hasRel", BooleanType, Seq(
      links -> ArrayType(Wcmp2Schema.link),
      org.apache.spark.sql.functions.lit(rel) -> StringType),
      nullable = false, passNulls = true)

  /** [[links]] of `links: array<link>`; `subTable` is the prefix-closed
    * sub-discipline table, empty when none is loaded */
  def linksMessage(links: Column, relations: Seq[String], centres: Seq[String],
                   policies: Seq[String], disciplines: Seq[String],
                   subTable: Iterable[String]): Column =
    Kernel.call(this, "links", StringType, Seq(
      links -> ArrayType(Wcmp2Schema.link)) ++
      Seq(relations, centres, policies, disciplines, subTable)
        .map(Codelist.literal(_) -> codelistType), nullable = true)
}
