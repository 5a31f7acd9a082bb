package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dims.Dims
import graft.expressions.{KpiWalks, Summaries}

/** A link probe, as data (SURVEY.md §7.4-5).
  *
  * The reference probes every URL live with a 30 s timeout inside rule
  * evaluation (`/root/reference/pywcmp/util.py:149-200`, called from
  * `kpi.py:313,386`) — an anti-pattern at any scale. Our engine makes the
  * probe a pluggable dimension that the K4/K5 kernels read as literal
  * arguments ([[graft.expressions.KpiWalks.probeArgs]]), so the plan
  * carries it wherever the rules run.
  */
sealed trait LinkProbe {
  /** the probe as the trailing arguments of the K4/K5 kernels */
  private[graft] def args: Seq[(Column, DataType)]
}

/** Offline deterministic probe: the zero-egress stub (every URL
  * accessible; MIME = declared type, else `text/html`), which reproduces
  * the reference's 32/32 fixture golden. A real deployment swaps in a
  * probe table ([[MapLinkProbe]], or the join of
  * [[graft.engine.DatasetRules.linkHealthJoin]]). */
object OfflineLinkProbe extends LinkProbe {
  private[graft] def args: Seq[(Column, DataType)] =
    KpiWalks.probeArgs(Map.empty, offline = true)
}

/** Row-local probe backed by a MATERIALIZED probe dimension — the
  * production path: `(href, accessible, mime)` rows from
  * [[graft.sources.UrlSource.probeTable]] compiled into the plan as
  * literal arrays (K4/K5 then evaluate with zero joins and zero network).
  * Reference mime semantics kept: declared `type` first, probed
  * Content-Type as fallback (`/root/reference/pywcmp/wcmp2/kpi.py:
  * 347-352`). URLs the probe pass never reached count INACCESSIBLE — a
  * link cannot be claimed healthy unprobed. For probe dims too large to
  * ship in-plan, use [[graft.engine.DatasetRules.linkHealthJoin]]. */
case class MapLinkProbe(entries: Map[String, (Boolean, String)])
    extends LinkProbe {
  private[graft] def args: Seq[(Column, DataType)] =
    KpiWalks.probeArgs(entries, offline = false)
}
object MapLinkProbe {
  /** Hard ceiling on in-plan probe entries: beyond this the literal
    * arrays are a driver-memory and task-size bomb (every task ships the
    * whole probe). The guard fails FAST with the scale path
    * spelled out rather than OOMing mid-collect at 100 TB. */
  val MaxLiteralEntries: Int = 10000

  /** Collect a probe dimension table (href, accessible, mime), one entry
    * per href ([[byHref]]), into an in-plan probe. Only for literal-sized
    * dims (<= [[MaxLiteralEntries]] hrefs, enforced via a limit-probe
    * before the collect); larger probe dims must go through the join
    * path, [[graft.engine.DatasetRules.linkHealthJoin]]. */
  def fromTable(probeTable: org.apache.spark.sql.DataFrame): MapLinkProbe = {
    val rows = byHref(probeTable).limit(MaxLiteralEntries + 1).collect()
    require(rows.length <= MaxLiteralEntries,
      s"probe dim exceeds $MaxLiteralEntries entries - an in-plan literal " +
        "map would bloat the driver and generated code; join it instead " +
        "via graft.engine.DatasetRules.linkHealthJoin")
    MapLinkProbe(rows
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap)
  }

  /** A probe dimension `(href, accessible, mime)` collapsed to one row per
    * href, as both K5 paths read it ([[fromTable]] and
    * [[graft.engine.DatasetRules.linkHealthJoin]]): a link is accessible
    * when any of its rows says so, and its mime is the least non-null
    * mime of its rows. Row order never matters, so a dimension merged
    * from several probe passes scores the same on both paths. */
  def byHref(probeTable: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    probeTable.groupBy("href").agg(
      coalesce(max(col("accessible")), lit(false)).as("accessible"),
      min(col("mime")).as("mime"))
}

/** One KPI compiled to Catalyst expressions: unlike ETS there is no early
  * return — every sub-check always evaluates and contributes a point and/or
  * a comment (`/root/reference/pywcmp/wcmp2/kpi.py:82-490`). */
case class KpiRule(name: String, title: Column,
                   total: Column, score: Column, comments: Column) {
  def id: Column = lit(KpiRules.idOf(name))
  /** per-test percentage: banker's rounding like Python `round`
    * (`kpi.py:535-538`, ROUND=3); null when total == 0. */
  def percentage: Column =
    when(total === 0, lit(null).cast(DoubleType))
      .otherwise(bround(score.cast(DoubleType) / total * 100, 3))
  def result: Column = struct(
    id.as("id"), title.as("title"),
    total.cast(IntegerType).as("total"), score.cast(IntegerType).as("score"),
    comments.as("comments"), percentage.as("percentage"))
}

/** The 7 KPIs from `/root/reference/pywcmp/wcmp2/kpi.py:82-490`, in the
  * reference's `dir()` alphabetical execution order (`kpi.py:503-508`):
  * contacts, description, graphic_overview, links_health, pids,
  * time_intervals, title. Known reference bugs are reproduced bit-for-bit
  * (SURVEY.md §7.4-6): the kpi_contacts wrong-variable email check, the
  * kpi_title bulletin −1 penalty, kpi_pids score-exceeds-total, and the
  * record-title-overwrites-KPI-title quirk.
  */
object KpiRules {

  /** Each KPI's name (the reference's `kpi_*` method suffix,
    * `kpi.py:502-517`) and the last segment of its test id, in the
    * reference's execution order. */
  val Ids: Seq[(String, String)] = Seq(
    "contacts" -> "contacts",
    "description" -> "good_quality_description",
    "graphic_overview" -> "graphic_overview_for_metadata_records",
    "links_health" -> "links_health",
    "pids" -> "persistent_identifiers",
    "time_intervals" -> "time_intervals",
    "title" -> "good_quality_title")

  /** the test id of the KPI named `name` */
  def idOf(name: String): String =
    "http://wis.wmo.int/spec/wcmp/2/kpi/core/" + Ids.toMap.apply(name)

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)

  private def point(cond: Column): Column =
    when(coalesce(cond, lit(false)), 1).otherwise(0)

  private def commentIf(bad: Column, msg: Column): Column =
    when(coalesce(bad, lit(false)), msg)

  /** kpi_title — Good quality title, total 8 (`kpi.py:82-163`).
    * The title facts (words, all-alnum words, sentence case, acronym
    * count, bulletin header) are fields of the TitleWords kernel struct;
    * OptimizationParitySpec pins them to the declarative formulations in
    * the tests' `Wcmp2Reference`. */
  def title(r: RecordCols): KpiRule = {
    val t = prop(r, "title")
    val words = r.titleWords.getField("words")
    val misspelled = r.titleMisspelled
    val allAlnum = r.titleWords.getField("all_alnum")
    val capOk = r.titleWords.getField("cap_ok")
    val nAcronyms = r.titleWords.getField("n_acronyms")
    val hasBulletin =
      coalesce(r.titleWords.getField("has_bulletin"), lit(false))
    val p1 = point(t.isNotNull) // 'Title is present' (kpi.py:102-103)
    val p2 = point(size(words) >= 3)
    val p3 = point(length(t) <= 150)
    val p4 = point(allAlnum)
    val p5 = point(capOk)
    val p6 = point(nAcronyms <= 3)
    // bulletin header: +1 if absent, −1 (not 0) if present (kpi.py:147-153)
    val p7 = when(hasBulletin, -1).otherwise(1)
    val p8 = point(size(misspelled) === 0)
    val comments = Summaries.compactColumn(array(
      commentIf(size(words) < 3, lit("Title has less than 3 words")),
      commentIf(length(t) > 150, lit("Title has more than 150 characters")),
      commentIf(!allAlnum, lit("Title contains non-printable characters")),
      commentIf(!capOk, lit("Title is not sentence case")),
      commentIf(nAcronyms > 3, lit("Title has more than 3 acronyms")),
      commentIf(hasBulletin, lit("Title contains bulletin header")),
      commentIf(size(misspelled) > 0,
        concat(lit("Title contains spelling errors "),
               misspelled.cast(StringType)))))
    // quirk: the emitted `title` field is the RECORD's title — the local
    // variable is overwritten at kpi.py:100 before the return.
    KpiRule("title", t, lit(8), p1 + p2 + p3 + p4 + p5 + p6 + p7 + p8,
      comments)
  }

  /** kpi_description — Good quality description, total 4
    * (`kpi.py:165-216`). HTML detection approximates BeautifulSoup
    * `.find()` truthiness with a tag regex (SURVEY.md §2.7). */
  def description(r: RecordCols): KpiRule = {
    val bulletinRe = "[A-Z]{4}\\d{2}[\\s_]*[A-Z]{4}"
    val d = prop(r, "description")
    val misspelled = r.descMisspelled
    val lenOk  = length(d).between(16, 2048)
    val hasHtml = coalesce(d.rlike("<[a-zA-Z!/][^>]*>"), lit(false))
    val hasBulletin = coalesce(d.rlike(bulletinRe), lit(false))
    val score = point(lenOk) + point(!hasHtml) + point(!hasBulletin) +
      point(size(misspelled) === 0)
    val comments = Summaries.compactColumn(array(
      commentIf(d.isNull, lit("Description is null")),
      commentIf(!lenOk,
        lit("Description is not between 16 and 2048 characters")),
      commentIf(hasHtml, lit("Description contains markup")),
      commentIf(hasBulletin, lit("Description contains bulletin header")),
      commentIf(size(misspelled) > 0,
        concat(lit("Description contains spelling errors "),
               misspelled.cast(StringType)))))
    KpiRule("description",
      lit(": Good quality description"), lit(4), score, comments)
  }

  /** A KPI from its walk's `(total, score, comments)` struct, read from
    * [[RecordCols.walks]] under the KPI's name. */
  private def walked(r: RecordCols, name: String, title: Column): KpiRule = {
    val result = r.walks.getField(s"kpi_$name")
    KpiRule(name, title, result.getField("total"), result.getField("score"),
      result.getField("comments"))
  }

  /** kpi_time_intervals — total 3 per gathered interval (`kpi.py:218-277`,
    * [[graft.expressions.KpiWalks.timeIntervals]]). Interval endpoints
    * compare lexicographically as strings, exactly like the reference
    * (`kpi.py:260`). */
  def timeIntervals(r: RecordCols): KpiRule =
    walked(r, "time_intervals", lit("Time intervals"))

  /** kpi_graphic_overview — total 3 per `rel == 'preview'` link
    * (`kpi.py:279-328`, [[graft.expressions.KpiWalks.graphicOverview]]). */
  def graphicOverview(r: RecordCols): KpiRule =
    walked(r, "graphic_overview", lit("Graphic overview for metadata records"))

  /** kpi_links_health — total 2 per http(s) URL in the pooled link set
    * (`kpi.py:330-405`, [[graft.expressions.KpiWalks.linksHealth]]):
    * record links, then per theme its concept `url`s and its scheme, then
    * contact links. */
  def linksHealth(r: RecordCols): KpiRule =
    walked(r, "links_health", lit("Links health"))

  /** kpi_contacts — total 3 (`kpi.py:407-451`,
    * [[graft.expressions.KpiWalks.contacts]]). Reference bug reproduced:
    * the email loop reads `contact` — the LAST contact of the first loop —
    * not `host_contact` (`kpi.py:441`). */
  def contacts(r: RecordCols): KpiRule =
    walked(r, "contacts", lit("Contacts"))

  /** kpi_pids — Persistent identifiers (`kpi.py:453-490`,
    * [[graft.expressions.KpiWalks.pids]]). `externalIds` key presence via
    * raw JSON keys; reference quirk kept: the cite-as point is scored even
    * when total == 0, so score may exceed total. */
  def pids(r: RecordCols): KpiRule =
    walked(r, "pids", lit("Persistent identifiers"))

  /** The KPI walks, one native kernel call each, named `kpi_<name>` as
    * [[walked]] reads them from [[RecordCols.walks]]. The probe and the
    * MIME codelists travel in the plan as literals. */
  def walks(r: RecordCols, probe: LinkProbe): Seq[Column] = Seq(
    KpiWalks.timeIntervalsResult(r.rec.getField("time"),
      r.rec.getField("additionalExtents").getField("temporal"))
      .as("kpi_time_intervals"),
    KpiWalks.graphicOverviewResult(r.previews, Dims.webImageMimes, probe.args)
      .as("kpi_graphic_overview"),
    KpiWalks.linksHealthResult(r.httpLinks, Dims.validMimes, probe.args)
      .as("kpi_links_health"),
    KpiWalks.contactsResult(prop(r, "contacts")).as("kpi_contacts"),
    KpiWalks.pidsResult(r.propsKeys, prop(r, "externalIds"),
      r.rec.getField("links")).as("kpi_pids"))

  /** All 7 KPIs in the reference's alphabetical execution order
    * (`kpi.py:503-508`), over the walks of [[walks]]. */
  def catalog(r: RecordCols): Seq[KpiRule] = Seq(
    contacts(r),
    description(r),
    graphicOverview(r),
    linksHealth(r),
    pids(r),
    timeIntervals(r),
    title(r))

  /** KPI summary struct `(total, score, percentage, grade, comments)`
    * (`kpi.py:559-589`) from `sums`, the
    * [[graft.expressions.Summaries.kpiSummary]] struct of a kpi-tests array,
    * materialized as an attribute: `percentage` and `grade` read its fields
    * many times ([[graft.engine.Validator.withKpiSummary]], shared by the
    * full-catalog path and the `--kpi` single-selection path). Reproduces
    * the summary comments-clobber bug (`kpi.py:573-576`): the dict ends up
    * holding ALL fields of the LAST test that had comments. */
  def summary(sums: Column): Column = {
    val total = sums.getField("total")
    val pct = when(total === 0, lit(null).cast(DoubleType))
      .otherwise(bround(sums.getField("score").cast(DoubleType) / total * 100,
        3))
    struct(total.as("total"), sums.getField("score").as("score"),
      pct.as("percentage"), grade(pct).as("grade"),
      sums.getField("comments").as("comments"))
  }

  /** Letter grade (`kpi.py:593-619`): A≥80, B≥65, C≥50, D≥35, E≥20, else
    * the numeric percentage itself ('F' is unreachable in the reference);
    * null → null. Out-of-range (<0 or >100) raises ValueError there — here
    * it yields the sentinel below and a dataset-level violation row. */
  val GradeRangeError = "ERROR:invalid percentage"
  def grade(percentage: Column): Column =
    when(percentage.isNull, lit(null).cast(StringType))
      .when(percentage > 100 || percentage < 0, GradeRangeError)
      .when(percentage >= 80, "A")
      .when(percentage >= 65, "B")
      .when(percentage >= 50, "C")
      .when(percentage >= 35, "D")
      .when(percentage >= 20, "E")
      .otherwise(percentage.cast(StringType))
}
