package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dims.Dims
import graft.expressions.{EtsWalks, GeoBounds}
import graft.functions.{Wcmp2Functions => F}

/** Columns every row-local rule is built from, all read off the one
  * [[graft.expressions.JsonFacts]] parse materialized behind a Generate
  * barrier (see [[graft.engine.Validator.withKernels]]) so the optimizer
  * can never re-inline the parse per reference. `rec` is the typed
  * payload; `geometryPresent` is true when `$.geometry` is present and
  * not JSON null; `geoPositions` is its flattened coordinate list
  * (variable nesting depth, see [[graft.expressions.GeoBounds]]);
  * `propsKeys` are the top-level keys of the `$.properties` object — the
  * presence-vs-null channel that a typed struct cannot provide (SURVEY.md
  * §7.4-1). The next five are per-row kernels that several rules share, materialized once
  * behind a second barrier: the misspelled title and description tokens,
  * the [[graft.expressions.TitleWords]] struct, the K5 http link pool and
  * the K4 preview links. `walks` is the struct of the rule walks
  * ([[EtsRules.walks]], [[KpiRules.walks]]) behind a third barrier: each
  * walk runs once per record however often its rule reads it. */
case class RecordCols(rec: Column, geometryPresent: Column,
                      geoPositions: Column, propsKeys: Column,
                      titleMisspelled: Column, descMisspelled: Column,
                      titleWords: Column, httpLinks: Column,
                      previews: Column, walks: Column)

/** One ETS conformance test compiled to Catalyst predicates.
  *
  * `fail` / `failMessage` are evaluated per row; `code` is
  * FAILED iff `fail`, else PASSED (the reference never emits SKIPPED in
  * this version, `/root/reference/pywcmp/wcmp2/ets.py:106-108`).
  * `passMessage` carries the constant message some tests attach to PASSED
  * results (e.g. `ets.py:210`). `fail` is kept separate from
  * `failMessage.isNotNull` because of the `extent_geospatial` quirk: its
  * FAILED status carries no message at all (`messsage` typo, `ets.py:256`).
  */
case class EtsRule(name: String, testId: String, fail: Column,
                   failMessage: Column, passMessage: Column = lit(null)) {
  def id: Column = lit(s"http://wis.wmo.int/spec/wcmp/2/conf/core/$testId")
  def code: Column =
    when(coalesce(fail, lit(false)), "FAILED").otherwise("PASSED")
  def message: Column =
    when(coalesce(fail, lit(false)), failMessage).otherwise(passMessage)
  def result: Column =
    struct(id.as("id"), code.as("code"), message.as("message"))
}

/** The 12 counted ETS tests + the gating schema-validation test, compiled
  * from `/root/reference/pywcmp/wcmp2/ets.py:116-489`.
  *
  * Reference execution order is `dir()` alphabetical order of the
  * `test_requirement_*` method names (`ets.py:87-93`); [[catalog]] preserves
  * it. Each early-return Python chain becomes an ordered
  * `when(cond1,msg1).when(cond2,msg2)…` chain — `when` short-circuits in
  * order exactly like the Python early returns.
  */
object EtsRules {

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)

  // --- conformance / extent_temporal / title / description: always PASSED
  // (delegated to the schema gate, ets.py:202-213, 260-297)
  private def constantPass(r: RecordCols, name: String): EtsRule =
    EtsRule(name, name, lit(false), lit(null),
      passMessage = lit("Passes given schema is compliant/valid"))

  /** identifier (`ets.py:150-200`) */
  def identifier(r: RecordCols): EtsRule = {
    val id    = r.rec.getField("id")
    val toks  = split(id, ":")
    val local = F.lastElem(toks)
    val centre = get(toks, lit(3))
    val msg =
      when(size(toks) < 5, "identifier does not have at least five tokens")
        .when(!id.startsWith("urn:wmo:md:"), "bad prefix")
        .when(local.contains(" "), "spaces in local identifier")
        .when(!centre.endsWith("-test") &&
                !centre.isInCollection(Dims.centreIds),
              concat(lit("Invalid centre_id: "), centre))
        .when(!F.pyIsAscii(id), "Invalid characters in id")
        .when(local === "", "Empty / null local identifier")
    EtsRule("identifier", "identifier", msg.isNotNull, msg)
  }

  /** type (`ets.py:215-233`) */
  def resourceType(r: RecordCols): EtsRule = {
    val t = prop(r, "type")
    val fail = !t.isInCollection(Dims.resourceTypes)
    EtsRule("type", "type", fail, concat(lit("Invalid type: "), t))
  }

  /** All 4 bounds of a [[graft.expressions.GeoBounds]] struct within
    * [-180,180] x [-90,90] (`ets.py:250-253`); null when a bound is null
    * and none is out of range. */
  def boundsInWgs84(b: Column): Column =
    b.getField("minx").between(-180, 180) &&
      b.getField("miny").between(-90, 90) &&
      b.getField("maxx").between(-180, 180) &&
      b.getField("maxy").between(-90, 90)

  /** extent_geospatial (`ets.py:235-258`). Note the reference's `messsage`
    * typo means FAILED rows carry no message — reproduced here. */
  def extentGeospatial(r: RecordCols): EtsRule = {
    val fail =
      r.geometryPresent && !boundsInWgs84(r.walks.getField("ets_bounds"))
    EtsRule("extent_geospatial", "extent_geospatial", fail, lit(null))
  }

  /** themes (`ets.py:299-363`) — ordered first-failure across themes, then
    * across concepts within a theme; the closing earth-system-discipline
    * existence check only fires when no theme-level failure did, which is
    * exactly the Python early-return behavior. One native walk,
    * [[graft.expressions.EtsWalks.themes]]. */
  def themes(r: RecordCols): EtsRule = {
    val msg = r.walks.getField("ets_themes")
    EtsRule("themes", "themes", msg.isNotNull, msg)
  }

  /** contacts (`ets.py:365-386`) — the Python `break` exits only the inner
    * role loop, so the surviving message is the FIRST invalid role of the
    * LAST contact that has any invalid role
    * ([[graft.expressions.EtsWalks.contacts]]). */
  def contacts(r: RecordCols): EtsRule = {
    val msg = r.walks.getField("ets_contacts")
    EtsRule("contacts", "contacts", msg.isNotNull, msg)
  }

  /** created_datetime (`ets.py:388-404`; note the test id is
    * `record_created_datetime`, `ets.py:394`). */
  def createdDatetime(r: RecordCols): EtsRule = {
    val created = prop(r, "created")
    EtsRule("created_datetime", "record_created_datetime",
      !F.isValidCreatedDatetime(created), lit("Invalid date-time format"))
  }

  /** data_policy (`ets.py:406-438`) — guarded on `properties.type ==
    * 'dataset'`; key presence via the parse's `$.properties` key list
    * (missing != null, `ets.py:418`). */
  def dataPolicy(r: RecordCols): EtsRule = {
    val policy = prop(r, "wmo:dataPolicy")
    val present =
      coalesce(array_contains(r.propsKeys, "wmo:dataPolicy"), lit(false))
    val hasLicense = r.walks.getField("ets_license")
    val msg = when(prop(r, "type") === "dataset",
      when(!present, "Missing data policy")
        .when(!policy.isInCollection(Dims.dataPolicies),
              concat(lit("Invalid data policy "), policy))
        .when(policy === "recommended" && !hasLicense,
              "missing recommended conditions"))
    EtsRule("data_policy", "data_policy", msg.isNotNull, msg)
  }

  /** links (`ets.py:440-489`) — ordered first-failure per link, links in
    * document order ([[graft.expressions.EtsWalks.links]]). Channel topic
    * validity is the level-wise walk of the hierarchy tables
    * ([[graft.expressions.TopicChannel]]), the analog of pywis_topics'
    * `th.validate`. */
  def links(r: RecordCols): EtsRule = {
    val msg = r.walks.getField("ets_links")
    EtsRule("links", "links", msg.isNotNull, msg)
  }

  /** The ETS rule walks, one native kernel call each, named as the rules
    * read them from [[RecordCols.walks]]. Their codelists, the
    * sub-discipline table of the dims-dir override included, are read
    * here, on the driver, and travel in the plan as literals. */
  def walks(r: RecordCols): Seq[Column] = Seq(
    EtsWalks.themesMessage(prop(r, "themes"), Dims.earthSystemDisciplines)
      .as("ets_themes"),
    EtsWalks.contactsMessage(prop(r, "contacts"), Dims.contactRoles)
      .as("ets_contacts"),
    EtsWalks.linksMessage(r.rec.getField("links"), Dims.linkRelations,
      Dims.centreIds, Dims.dataPolicies, Dims.earthSystemDisciplines,
      Dims.subDisciplineTable().getOrElse(Set.empty)).as("ets_links"),
    EtsWalks.hasRelColumn(r.rec.getField("links"), "license")
      .as("ets_license"),
    GeoBounds.boundsColumn(r.geoPositions).as("ets_bounds"))

  // The gating schema-validation test lives in [[SchemaGate]]: the
  // WCMP2 schema's required/type/enum/minItems constraints compiled over
  // the record's VARIANT value, with the reference's '{n} error(s)'
  // message + errors array (`ets.py:116-148`).

  /** The 12 counted tests in the reference's alphabetical execution order
    * (`ets.py:87-93`). */
  def catalog(r: RecordCols): Seq[EtsRule] = Seq(
    constantPass(r, "conformance"),
    contacts(r),
    createdDatetime(r),
    dataPolicy(r),
    constantPass(r, "description"),
    extentGeospatial(r),
    constantPass(r, "extent_temporal"),
    identifier(r),
    links(r),
    themes(r),
    constantPass(r, "title"),
    resourceType(r))
}
