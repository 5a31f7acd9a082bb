package graft

import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dims.Dims
import graft.expressions.{AudioOps, JpegOps}
import graft.operators.TextAnalysis

// Reference formulations and fixture encoders that only tests call. The
// parity specs pin each native kernel against its declarative twin here;
// no production path reaches them (ReachabilitySpec).

/** Python-semantics string helpers and the declarative spellcheck: the
  * references of [[graft.expressions.TextKernels]]. */
object Wcmp2Reference {

  /** `str.strip()` — Unicode whitespace both ends ( Spark `trim` strips
    * only ASCII space, so use a regex). */
  def pyStrip(c: Column): Column =
    regexp_replace(regexp_replace(c, "^\\s+", ""), "\\s+$", "")

  /** `str.split()` (no args): split on whitespace runs, no empty tokens.
    * `''.split() == []`. */
  def pySplitWs(c: Column): Column =
    filter(split(pyStrip(c), "\\s+"), w => w =!= "")

  /** `str.capitalize()`: first char upper, rest lower; '' -> ''. */
  def pyCapitalize(c: Column): Column =
    when(length(c) === 0, c)
      .otherwise(concat(upper(substring(c, 1, 1)),
                        lower(c.substr(lit(2), length(c)))))

  /** `str.isalnum()` per Python: non-empty, all chars letter/number
    * (Unicode categories L*, N*). */
  def pyIsAlnum(c: Column): Column = c.rlike("^[\\p{L}\\p{N}]+$")

  /** Spellcheck ----------------------------------------------------------
    * Reference: pyspellchecker `SpellChecker.unknown(split_words(text))`
    * (`pywcmp/util.py:45-59`), with the vendored
    * deterministic dictionary ([[Dims.dictionary]]).
    * Tokenizer: `\w[\w']*\w|\w` (Unicode), lowercased — pyspellchecker's
    * `split_words`. Tokens that parse as a float are never spell-checked
    * (pyspellchecker `_check_if_should_check`). */
  def spellTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("(?U)\\w[\\w']*\\w|\\w"), lit(0))

  /** float-parseable per Python `float()` — checked with a REGEX, not
    * `try_cast`: a cast failure raises (and swallows) a stack-filling JVM
    * exception per token, which profiling showed dominating the hot path.
    * Python's grammar: digit groups with underscores only BETWEEN digits,
    * plus the case-insensitive inf/infinity/nan literals
    * (float() also strips whitespace, but tokenizer output has none). */
  val floatLike = {
    val d = "[0-9](?:_?[0-9])*"
    s"^[+-]?((?i:inf(?:inity)?|nan)|(?:$d(?:\\.(?:$d)?)?|\\.$d)(?:[eE][+-]?$d)?)$$"
  }

  def misspelled(text: Column): Column = {
    val toks = spellTokens(text)
    filter(toks, t =>
      !t.rlike(floatLike) && !t.isInCollection(Dims.dictionary))
  }
}

/** The declarative WIS2 topic-channel check, the reference of
  * [[graft.expressions.TopicChannel.valid]], and the vendored starter
  * sub-discipline table the tests pin it with. */
object TopicReference {

  /** Vendored PARTIAL snapshot of the published `weather` sub-discipline
    * tree (public wmo-im/wis2-topic-hierarchy; partial — deployments drop
    * the full published CSVs into the dims dir). Not wired by default:
    * pass it (or a dims-dir file) explicitly to pin levels >= 8. */
  lazy val vendoredSubDisciplines: Set[String] = {
    val in = getClass.getResourceAsStream("/wis2-subtrees/sub-discipline.csv")
    require(in != null, "missing vendored sub-discipline snapshot")
    val src = Source.fromInputStream(in, "UTF-8")
    try Dims.prefixClosure(src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toVector)
    finally src.close()
  }

  /** Level-wise WIS2 topic-channel validation, the analog of
    * `th.validate(channel)` (`ets.py:476`, pywis_topics): each hierarchy
    * level is checked against that level's table, like pywis-topics
    * walking its per-level CSVs — NOT a materialized cross-product (the
    * real hierarchy has ~1e5 leaves; a level-wise check is O(depth) per
    * row and needs only the small per-level dims).
    *
    *  - levels 1-3: literal `origin|cache / a / wis2`
    *  - level 4: centre-id dim (`-test` centres allowed, as in the
    *    identifier test, `ets.py:186`)
    *  - level 5: notification type (`data|metadata|reports`)
    *  - for `data`: level 6 data-policy dim, level 7 earth-system-
    *    discipline dim; levels 8+ validated against the PUBLISHED
    *    sub-discipline table when one is loaded (`subTable`, default
    *    [[Dims.subDisciplineTable]] from the dims-dir override) and the
    *    discipline is covered by it; lowercase-kebab charset grammar
    *    otherwise (matches the published token grammar and correctly
    *    rejects the fixture-invalid `landFixed`). The WIS2 THE reserved
    *    token `experimental` opens a free-form (charset-only) subtree:
    *    the path BEFORE it must still be published.
    */
  def validTopicChannel(channel: Column,
      subTable: Option[Set[String]] = Dims.subDisciplineTable())
      : Column = {
    val t = split(channel, "/")
    val lvl = size(t)
    val kebab = "^[a-z0-9][a-z0-9-]*$"
    val rootOk = get(t, lit(0)).isInCollection(Seq("origin", "cache")) &&
      get(t, lit(1)) === "a" && get(t, lit(2)) === "wis2"
    val centre = get(t, lit(3))
    val centreOk =
      centre.isInCollection(Dims.centreIds) || centre.endsWith("-test")
    val charsetOk = forall(slice(t, lit(8), greatest(lvl - 7, lit(0))),
      tok => tok.rlike(kebab))
    val subOk = subTable match {
      case None => charsetOk
      case Some(closure) =>
        // discipline-rooted sub path: [discipline, s1, s2, ...]
        val disc = get(t, lit(6))
        // empty closure (no roots) -> nothing is covered; lit(false)
        // instead of an isInCollection over a fake sentinel element
        val covered = closure.iterator.filter(!_.contains("/")).toSeq match {
          case roots if roots.nonEmpty => disc.isInCollection(roots)
          case _ => lit(false)
        }
        val sub = slice(t, lit(7), greatest(lvl - 6, lit(0)))
        val expPos = array_position(sub, "experimental")
        val joined = concat_ws("/", sub)
        val beforeExp = concat_ws("/", slice(sub, lit(1), expPos - 1))
        val published = when(expPos > 0,
            // experimental subtree: the prefix before it must be
            // published; everything below is charset-free-form
            beforeExp.isInCollection(closure.toSeq))
          .otherwise(joined.isInCollection(closure.toSeq))
        // table validates covered disciplines; others keep the grammar
        charsetOk && when(covered, published).otherwise(lit(true))
    }
    val typeOk = when(get(t, lit(4)) === "data",
        lvl >= 7 &&
        get(t, lit(5)).isInCollection(Dims.dataPolicies) &&
        get(t, lit(6)).isInCollection(Dims.earthSystemDisciplines) && subOk)
      .when(get(t, lit(4)).isInCollection(Seq("metadata", "reports")),
        lvl >= 5 && forall(slice(t, lit(6), greatest(lvl - 5, lit(0))),
          tok => tok.rlike(kebab)))
      .otherwise(lit(false))
    rootOk && centreOk && typeOk
  }
}

/** The declarative ETS rule walks: the references of
  * [[graft.expressions.EtsWalks]] and [[graft.expressions.GeoBounds]], as
  * the catalog computed them with higher-order functions. */
object EtsRulesReference {
  import graft.catalog.{EtsRule, EtsRules, RecordCols}

  /** First non-null element of an array (ANSI-safe; null if none). */
  def firstNonNull(arr: Column): Column = get(array_compact(arr), lit(0))

  /** Last non-null element of an array (ANSI-safe; null if none). */
  def lastNonNull(arr: Column): Column = {
    val compacted = array_compact(arr)
    get(compacted, size(compacted) - 1)
  }

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)

  /** struct(minx, miny, maxx, maxy) over the first two ordinates */
  def bounds(pos: Column): Column = {
    val xs = transform(pos, p => get(p, lit(0)))
    val ys = transform(pos, p => get(p, lit(1)))
    struct(
      array_min(xs).as("minx"), array_min(ys).as("miny"),
      array_max(xs).as("maxx"), array_max(ys).as("maxy"))
  }

  def extentGeospatial(r: RecordCols): EtsRule = {
    val b = bounds(r.geoPositions)
    val inWgs84 = b.getField("minx").between(-180, 180) &&
      b.getField("miny").between(-90, 90) &&
      b.getField("maxx").between(-180, 180) &&
      b.getField("maxy").between(-90, 90)
    EtsRule("extent_geospatial", "extent_geospatial",
      r.geometryPresent && !inWgs84, lit(null))
  }

  def themes(r: RecordCols): EtsRule = {
    val themes = prop(r, "themes")
    val perTheme = transform(themes, t => {
      val conceptMsg = firstNonNull(transform(t.getField("concepts"), c =>
        when(c.getField("id").isNull, "Missing concept id")
          .when(t.getField("scheme").endsWith("earth-system-discipline") &&
                  !c.getField("id").isInCollection(Dims.earthSystemDisciplines),
                concat(lit("Invalid Earth system discipline "),
                       c.getField("id")))))
      when(size(t.getField("concepts")) < 1, "Missing at least one concept")
        .when(t.getField("scheme").isNull, "Missing scheme")
        .otherwise(conceptMsg)
    })
    val esdFound = exists(themes, t =>
      coalesce(t.getField("scheme").contains("earth-system-discipline"),
               lit(false)))
    val msg =
      when(size(themes) < 1, "Missing at least one theme")
        .otherwise(coalesce(firstNonNull(perTheme),
          when(!esdFound, "No Earth system discipline based theme found")))
    EtsRule("themes", "themes", msg.isNotNull, msg)
  }

  def contacts(r: RecordCols): EtsRule = {
    val contacts = prop(r, "contacts")
    val firstBadPerContact = transform(contacts, c =>
      firstNonNull(transform(c.getField("roles"), role =>
        when(!role.isInCollection(Dims.contactRoles), role))))
    val lastBad = lastNonNull(firstBadPerContact)
    EtsRule("contacts", "contacts", lastBad.isNotNull,
      concat(lit("Invalid role "), lastBad))
  }

  def dataPolicy(r: RecordCols): EtsRule = {
    val policy = prop(r, "wmo:dataPolicy")
    val present =
      coalesce(array_contains(r.propsKeys, "wmo:dataPolicy"), lit(false))
    val hasLicense = coalesce(
      exists(r.rec.getField("links"), l => l.getField("rel") === "license"),
      lit(false))
    val msg = when(prop(r, "type") === "dataset",
      when(!present, "Missing data policy")
        .when(!policy.isInCollection(Dims.dataPolicies),
              concat(lit("Invalid data policy "), policy))
        .when(policy === "recommended" && !hasLicense,
              "missing recommended conditions"))
    EtsRule("data_policy", "data_policy", msg.isNotNull, msg)
  }

  def links(r: RecordCols): EtsRule = {
    val links = r.rec.getField("links")
    val perLink = transform(links, l => {
      val rel     = l.getField("rel")
      val href    = l.getField("href")
      val channel = l.getField("channel")
      val badSecurityKey = firstNonNull(transform(
        map_keys(l.getField("security")), k =>
          when(element_at(l.getField("security"), k)
                 .getField("description").isNull, k)))
      when(!rel.isInCollection(Dims.linkRelations),
           concat(lit("invalid link relation "), rel))
        .when(href.startsWith("mqtt") && channel.isNull,
              "missing channel for Pub/Sub link")
        .when(href.startsWith("mqtt") &&
                (channel.startsWith("origin/a/wis2") ||
                 channel.startsWith("cache/a/wis2")) &&
                !TopicReference.validTopicChannel(channel),
              "Invalid WIS2 topic for Pub/Sub link channel")
        .when(badSecurityKey.isNotNull,
              concat(lit("missing security description for "), badSecurityKey))
    })
    val msg = when(size(links) < 1, "missing at least one link")
      .otherwise(firstNonNull(perLink))
    EtsRule("links", "links", msg.isNotNull, msg)
  }

  /** the 12 counted tests, the walked ones in their declarative form */
  def catalog(r: RecordCols): Seq[EtsRule] = EtsRules.catalog(r).map { t =>
    t.name match {
      case "contacts" => contacts(r)
      case "data_policy" => dataPolicy(r)
      case "extent_geospatial" => extentGeospatial(r)
      case "links" => links(r)
      case "themes" => themes(r)
      case _ => t
    }
  }
}

/** The declarative KPI rule walks: the references of
  * [[graft.expressions.KpiWalks]], as the catalog computed them with
  * higher-order functions, and the probe as the columns it was. */
object KpiRulesReference {
  import graft.catalog.{KpiRule, KpiRules, LinkProbe, MapLinkProbe,
    OfflineLinkProbe, RecordCols}

  def accessible(probe: LinkProbe, href: Column): Column = probe match {
    case OfflineLinkProbe => lit(true)
    case MapLinkProbe(entries) =>
      val acc = entries.map { case (k, (a, _)) => k -> a }
      if (acc.isEmpty) lit(false)
      else coalesce(element_at(typedlit(acc), href), lit(false))
  }

  def mime(probe: LinkProbe, href: Column, declaredType: Column): Column =
    probe match {
      case OfflineLinkProbe => coalesce(declaredType, lit("text/html"))
      case MapLinkProbe(entries) =>
        val mimes = entries.collect { case (k, (_, m)) if m != null => k -> m }
        if (mimes.isEmpty) declaredType
        else coalesce(declaredType, element_at(typedlit(mimes), href))
    }

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)
  private def point(cond: Column): Column =
    when(coalesce(cond, lit(false)), 1).otherwise(0)
  private def commentIf(bad: Column, msg: Column): Column =
    when(coalesce(bad, lit(false)), msg)

  def timeIntervals(r: RecordCols): KpiRule = {
    val time = r.rec.getField("time")
    val additional =
      r.rec.getField("additionalExtents").getField("temporal")
    val intervals = filter(array(time, additional),
      x => x.isNotNull && x.getField("interval").isNotNull)
    def perInterval(ti: Column): Column = {
      val iv = ti.getField("interval")
      val begin = get(iv, lit(0))
      val end   = get(iv, lit(1))
      val orderOk = (!array_contains(iv, "..") && begin <= end) ||
        (end === "..")
      val notFullyOpen = !(begin === ".." && end === "..")
      point(orderOk) + point(notFullyOpen) +
        point(ti.getField("resolution").isNotNull)
    }
    val timeIsNull = time.isNull
    val total = when(timeIsNull, 0).otherwise(size(intervals) * 3)
    val score = when(timeIsNull, 0).otherwise(
      aggregate(intervals, lit(0), (acc, ti) => acc + perInterval(ti)))
    val comments = when(timeIsNull, array(lit("time is null; no KPI check")))
      .otherwise(array_compact(flatten(transform(intervals, ti => {
        val iv = ti.getField("interval")
        val orderOk = (!array_contains(iv, "..") &&
          get(iv, lit(0)) <= get(iv, lit(1))) || (get(iv, lit(1)) === "..")
        array(
          commentIf(!orderOk,
            lit("Begin must be less than or equal to the end or open")),
          commentIf(get(iv, lit(0)) === ".." && get(iv, lit(1)) === "..",
            lit("Temporal interval cannot be fully open")),
          commentIf(ti.getField("resolution").isNull,
            lit("No temporal resolution found")))
      }))))
    KpiRule("time_intervals", lit("Time intervals"), total, score, comments)
  }

  def graphicOverview(r: RecordCols, probe: LinkProbe): KpiRule = {
    val previews = r.previews
    def mimeOk(l: Column): Column = {
      val declared = coalesce(l.getField("type"), lit(""))
      declared.isInCollection(Dims.webImageMimes) &&
        mime(probe, l.getField("href"), l.getField("type"))
          .isInCollection(Dims.webImageMimes)
    }
    val total = size(previews) * 3
    val score = aggregate(previews, lit(0), (acc, l) =>
      acc + 1 + point(mimeOk(l)) + point(accessible(probe, l.getField("href"))))
    val comments = array_compact(flatten(transform(previews, l => array(
      commentIf(!mimeOk(l), concat(lit("MIME type "),
        coalesce(l.getField("type"), lit("")), lit(" not a web image"))),
      commentIf(!accessible(probe, l.getField("href")),
        concat(lit("URL not accessible: "), l.getField("href")))))))
    KpiRule("graphic_overview",
      lit("Graphic overview for metadata records"), total, score, comments)
  }

  def linksHealth(r: RecordCols, probe: LinkProbe): KpiRule = {
    val httpLinks = r.httpLinks
    def typeOk(p: Column): Column =
      mime(probe, p.getField("href"), p.getField("type"))
        .isInCollection(Dims.validMimes)
    val total = size(httpLinks) * 2
    val score = aggregate(httpLinks, lit(0), (acc, p) =>
      acc + point(accessible(probe, p.getField("href"))) + point(typeOk(p)))
    val comments = array_compact(flatten(transform(httpLinks, p => array(
      commentIf(!accessible(probe, p.getField("href")),
        concat(lit("URL not accessible: "), p.getField("href"))),
      commentIf(!typeOk(p), concat(lit("invalid link type "),
        coalesce(mime(probe, p.getField("href"), p.getField("type")),
                 lit("None"))))))))
    KpiRule("links_health", lit("Links health"), total, score, comments)
  }

  def contacts(r: RecordCols): KpiRule = {
    val cs = prop(r, "contacts")
    val hosts = filter(cs,
      c => coalesce(array_contains(c.getField("roles"), "host"), lit(false)))
    val host = graft.functions.Wcmp2Functions.lastElem(hosts)
    val lastContact = graft.functions.Wcmp2Functions.lastElem(cs)
    val hostFound = host.isNotNull
    val instructionsOk = host.getField("contactInstructions").isNotNull
    val emailFound = coalesce(
      exists(lastContact.getField("emails"),
             e => e.getField("value").isNotNull), lit(false))
    val score = point(hostFound) +
      point(hostFound && instructionsOk) + point(hostFound && emailFound)
    val comments = array_compact(array(
      commentIf(!hostFound, lit("No host contact found")),
      commentIf(hostFound && !instructionsOk,
                lit("No host contact instructions found")),
      commentIf(hostFound && !emailFound,
                lit("No host contact email found"))))
    KpiRule("contacts", lit("Contacts"), lit(3), score, comments)
  }

  def pids(r: RecordCols): KpiRule = {
    val present =
      coalesce(array_contains(r.propsKeys, "externalIds"), lit(false))
    val schemeOk = coalesce(exists(prop(r, "externalIds"),
      e => e.getField("scheme").isin("doi", "ark", "hdl")), lit(false))
    val citeAs = coalesce(exists(r.rec.getField("links"),
      l => l.getField("rel") === "cite-as"), lit(false))
    val total = when(present, 3).otherwise(0)
    val score = when(present, lit(1) + point(schemeOk)).otherwise(0) +
      point(citeAs)
    val comments = array_compact(array(
      commentIf(present && !schemeOk, lit("No DOI/ARK/HDL schema found"))))
    KpiRule("pids", lit("Persistent identifiers"), total, score, comments)
  }

  /** the 7 KPIs, the walked ones in their declarative form (`title` and
    * `description` walk nothing but their `array_compact`) */
  def catalog(r: RecordCols, probe: LinkProbe): Seq[KpiRule] =
    KpiRules.catalog(r).map { k =>
      k.name match {
        case "contacts" => contacts(r)
        case "graphic_overview" => graphicOverview(r, probe)
        case "links_health" => linksHealth(r, probe)
        case "pids" => pids(r)
        case "time_intervals" => timeIntervals(r)
        case _ => k
      }
    }
}

/** The declarative walks over the report arrays: the references of
  * [[graft.expressions.Summaries]]. */
object SummariesReference {

  /** `ets_summary` of an `ets_tests` array */
  def etsCounts(tests: Column): Column = {
    def countCode(codeVal: String): Column =
      size(filter(tests, t => t.getField("code") === codeVal))
    struct(countCode("PASSED").as("PASSED"), countCode("FAILED").as("FAILED"),
      countCode("SKIPPED").as("SKIPPED"))
  }

  /** the violation rows of the FAILED tests of an `ets_tests` array */
  def failedTests(tests: Column): Column =
    transform(filter(tests, t => t.getField("code") === "FAILED"),
      t => struct(t.getField("id").as("rule_id"),
        t.getField("message").as("diagnostic")))

  /** `kpi_summary` of a `kpi_tests` array, comments-clobber included */
  def kpiSummary(tests: Column): Column = {
    import graft.catalog.KpiRules.grade
    val total = aggregate(tests, lit(0), (acc, t) => acc + t.getField("total"))
    val score = aggregate(tests, lit(0), (acc, t) => acc + t.getField("score"))
    val pct = when(total === 0, lit(null).cast(DoubleType))
      .otherwise(bround(score.cast(DoubleType) / total * 100, 3))
    val lastCommented = {
      val flagged = transform(tests,
        t => when(size(t.getField("comments")) > 0, t))
      val compacted = array_compact(flagged)
      get(compacted, size(compacted) - 1)
    }
    struct(total.as("total"), score.as("score"), pct.as("percentage"),
      grade(pct).as("grade"), lastCommented.as("comments"))
  }

  /** the tests of a `kpi_tests` array with id `id` (`Reports.selectKpi`) */
  def selectById(tests: Column, id: String): Column =
    filter(tests, t => t.getField("id") === id)
}

object KpiReference {

  /** The pooled link set of kpi_links_health (`kpi.py:356-374`) of the
    * parsed record `rec`: record links, then per theme its concept urls
    * and scheme, then contact links — filtered to http(s). The declarative
    * reference of the [[graft.expressions.LinkPoolExpr]] kernel the
    * Validator materializes once per row (parity: OptimizationParitySpec). */
  def httpLinkPool(rec: Column): Column = {
    val hrefType = (href: Column, t: Column) =>
      struct(href.as("href"), t.as("type"))
    val props = rec.getField("properties")
    val recordLinks = transform(rec.getField("links"),
      l => hrefType(l.getField("href"), l.getField("type")))
    val themeLinks = flatten(transform(props.getField("themes"), t => concat(
      transform(filter(t.getField("concepts"),
                       c => c.getField("url").isNotNull),
                c => hrefType(c.getField("url"), lit(null).cast(StringType))),
      array(hrefType(t.getField("scheme"), lit(null).cast(StringType))))))
    val emptyContactLinks = array()
      .cast(ArrayType(graft.model.Wcmp2Schema.contactLink))
    val contactLinks = flatten(transform(props.getField("contacts"), c =>
      transform(coalesce(c.getField("links"), emptyContactLinks),
                l => hrefType(l.getField("href"), lit(null).cast(StringType)))))
    val emptyPool = array().cast(ArrayType(StructType(Seq(
      StructField("href", StringType), StructField("type", StringType)))))
    val pool = concat(
      coalesce(recordLinks, emptyPool),
      coalesce(themeLinks, emptyPool),
      coalesce(contactLinks, emptyPool))
    filter(pool, p =>
      p.getField("href").isNotNull && p.getField("href").startsWith("http"))
  }
}

/** Higher-order-function references of the dedup kernels
  * ([[graft.expressions.SimHash64]], [[graft.expressions.MinHashSig]],
  * [[graft.expressions.Ngrams]], [[graft.expressions.VectorOps]]). */
object DedupReference {

  /** Bucket-cap diagnostics (one row) of the Hamming-pigeonhole pairing
    * over a signature frame `(id, sig)`; buckets hold DISTINCT sigs, like
    * the pairing. */
  def hammingBucketStats(sigRows: DataFrame, maxHamming: Int,
                         maxBucket: Int = 200): DataFrame =
    graft.operators.Dedup.bucketStatsOf(graft.operators.Dedup.hammingChunkRows(
      sigRows.select(col("sig")).distinct()
        .select(col("sig").as("id"), col("sig")),
      graft.operators.Dedup.hammingChunks(maxHamming)),
      Seq("chunk", "chunk_val"), maxBucket)

  /** whitespace tokens, lowercased */
  def tokens(text: Column): Column =
    filter(split(lower(text), "\\s+"), t => t =!= "")

  /** distinct word n-gram shingles from a MATERIALIZED token-array
    * attribute. The lambda body references `toks` once per output shingle
    * and higher-order functions evaluate interpreted (no codegen), so an
    * inlined tokenizer expression would re-split the text per shingle —
    * measured ~40x on the bench corpus. Production paths hoist the token
    * array behind a Generate barrier first. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column =
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** MinHash signature from a MATERIALIZED shingle array column: k hash
    * permutations approximated with seed-chained xxhash64
    * (`xxhash64(seed_i, shingle)`). The shingle argument must be an
    * attribute, not the shingles(...) expression — higher-order lambdas
    * re-evaluate their argument subtree per outer element, so an inlined
    * shingle expression would be recomputed k times per row. */
  def minhashSignatureFromShingles(sh: Column, k: Int = 64): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(sh, s => xxhash64(i, s))))

  /** 64-bit SimHash over whitespace tokens: per bit, sum of +1/-1 across
    * token hashes, sign gives the bit. Pure higher-order expressions —
    * one LongType column, no UDF. */
  def simhash64(text: Column): Column = {
    val toks = tokens(text)
    val hashes = transform(toks, t => xxhash64(t))
    aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, b) => {
      val bitSum = aggregate(hashes, lit(0),
        (s, h) => s + when(call_function("shiftrightunsigned", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      acc.bitwiseOR(when(bitSum > 0, call_function("shiftleft", lit(1L), b))
        .otherwise(lit(0L)))
    })
  }

  /** HOF reference implementation of the random-hyperplane sign sketch
    * (parity-tested against the native codegen'd
    * [[graft.expressions.VectorOps.signSketchCol]]). */
  def signSketchHof(v: Column, planes: Int): Column =
    aggregate(sequence(lit(0), lit(planes - 1)), lit(0L),
      (acc, p) => {
        val dot = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1), (x, i) =>
            x * ((pmod(xxhash64(p, i), lit(1000L)).cast(DoubleType) / 500.0) - 1.0)),
          lit(0.0d), (s, x) => s + x)
        acc.bitwiseOR(when(dot > 0, call_function("shiftleft", lit(1L), p))
          .otherwise(lit(0L)))
      })
}

object SimilarityReference {
  /** HOF reference implementation of
    * [[graft.operators.Similarity.dot]] (parity-tested). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)
}

object CurationReference {
  /** The naive exact form of [[graft.operators.Curation.tokenBudgetSample]] — one running-sum
    * window per stratum over the WHOLE corpus. Kept as the parity/oracle
    * reference; use the bucketed form at scale. */
  def tokenBudgetSampleNaive(df: DataFrame, strataCol: String,
      tokensCol: String, budgets: Map[String, Long], defaultBudget: Long,
      keyCol: String, seed: String = ""): DataFrame = {
    val h = substring(
      md5(concat(col(keyCol).cast(StringType), lit(":" + seed))), 1, 8)
    val budgetCol = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (s, b)) => when(col(strataCol) === s, lit(b)).otherwise(acc)
    }
    val w = Window.partitionBy(col(strataCol)).orderBy(col("_h"), col(keyCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_h", h)
      .withColumn("_cum", coalesce(sum(col(tokensCol).cast("long")).over(w),
        lit(0L)))
      .where(col("_cum") < budgetCol)
      .drop("_h", "_cum")
  }
}

object TextAnalysisReference {
  /** Declarative reference implementation of
    * [[graft.operators.TextAnalysis.languageId]] over a
    * MATERIALIZED token array attribute (higher-order lambdas re-evaluate
    * inlined argument subtrees per element — see `TextAnalysis.analyze`'s Generate
    * barrier). Parity with the kernel pinned in OptimizationParitySpec. */
  def languageIdFromTokens(toks: Column): Column = {
    val scored = TextAnalysis.langProfiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(filter(toks, t => t.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }
}

/** Encoders for media fixtures the decoders are tested on. */
object MediaFixtures {

  /** Minimal spec-valid GIF89a encoder for rasters of ≤256 distinct
    * colors (`raster` in the [[PngPixels]] RGB layout): global color
    * table from the distinct colors in first-appearance order, single
    * non-interlaced full-frame image, LZW stream of literal codes with
    * a clear code every time the table is about to grow past the
    * current code width ("uncompressed GIF" — valid LZW, no
    * compressor needed). Throws on >256 colors (encoder seam, not an
    * untrusted-input path). */
  def encodeGif(raster: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(w > 0 && h > 0 && raster.length == w * h * 3,
      s"raster ${raster.length} != $w x $h x 3")
    val colorIdx = new java.util.LinkedHashMap[Integer, Integer]()
    val indices = new Array[Int](w * h)
    var p = 0
    while (p < w * h) {
      val c = ((raster(p * 3) & 0xFF) << 16) | ((raster(p * 3 + 1) & 0xFF) << 8) |
        (raster(p * 3 + 2) & 0xFF)
      var idx = colorIdx.get(c)
      if (idx == null) {
        require(colorIdx.size < 256, "encodeGif: more than 256 colors")
        idx = colorIdx.size
        colorIdx.put(c, idx)
      }
      indices(p) = idx
      p += 1
    }
    // color-table size: power of two >= max(2, colors)
    var tableBits = 1
    while ((1 << tableBits) < colorIdx.size) tableBits += 1
    val entries = 1 << tableBits
    val minCode = math.max(2, tableBits)
    val clear = 1 << minCode

    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF) }
    le16(w); le16(h)
    out.write(0x80 | (tableBits - 1)) // global table, 2^tableBits entries
    out.write(0); out.write(0)        // bg index, aspect
    val it = colorIdx.keySet().iterator()
    var written = 0
    while (it.hasNext) {
      val c = it.next().intValue()
      out.write((c >> 16) & 0xFF); out.write((c >> 8) & 0xFF); out.write(c & 0xFF)
      written += 1
    }
    while (written < entries) { out.write(0); out.write(0); out.write(0); written += 1 }
    out.write(0x2C); le16(0); le16(0); le16(w); le16(h); out.write(0)
    out.write(minCode)
    // literal-code LZW with pre-overflow clears, packed LSB-first
    val body = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    val codeBits = minCode + 1
    def put(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += codeBits
      while (bitCnt >= 8) { body.write((bitBuf & 0xFF).toInt); bitBuf >>>= 8; bitCnt -= 8 }
    }
    put(clear)
    // after a clear the decoder grows its table per literal; emit a
    // clear again before table size would force a code-width bump
    var sinceClear = 0
    val budget = (1 << codeBits) - (clear + 2) - 1
    var q = 0
    while (q < indices.length) {
      put(indices(q))
      sinceClear += 1
      if (sinceClear >= budget && q != indices.length - 1) {
        put(clear); sinceClear = 0
      }
      q += 1
    }
    put(clear + 1) // end code
    if (bitCnt > 0) body.write((bitBuf & 0xFF).toInt)
    val bytes = body.toByteArray
    var o = 0
    while (o < bytes.length) {
      val len = math.min(255, bytes.length - o)
      out.write(len); out.write(bytes, o, len)
      o += len
    }
    out.write(0)    // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** Re-frame an [[encodeWav]]-family WAV as WAVE_FORMAT_EXTENSIBLE
    * (0xFFFE, 40-byte fmt body, SubFormat GUID carrying the original
    * code) — for asserting the unwrap path decodes identically. */
  def wrapExtensible(wav: Array[Byte]): Array[Byte] = {
    val fmtCode = (wav(20) & 0xFF) | ((wav(21) & 0xFF) << 8)
    val bits = (wav(34) & 0xFF) | ((wav(35) & 0xFF) << 8)
    val out = new Array[Byte](wav.length + 24)
    System.arraycopy(wav, 0, out, 0, 36) // up to end of 16-byte fmt body
    // grow RIFF size + fmt size, swap tag to extensible
    def le32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    def le16(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
    }
    val riffSize = ((wav(4) & 0xFF) | ((wav(5) & 0xFF) << 8) |
      ((wav(6) & 0xFF) << 16) | ((wav(7) & 0xFF) << 24)) + 24
    le32(4, riffSize)
    le32(16, 40)
    le16(20, 0xFFFE)
    le16(36, 22) // cbSize
    le16(38, bits) // wValidBitsPerSample = container depth
    le32(40, 0) // dwChannelMask: unpositioned
    le16(44, fmtCode)
    System.arraycopy(AudioOps.ExtensibleGuidTail, 0, out, 46,
      AudioOps.ExtensibleGuidTail.length)
    System.arraycopy(wav, 36, out, 60, wav.length - 36)
    out
  }

  /** the 48x32 grayscale raster [[synthJpeg]] encodes: constant per 8x8
    * block, block value a pure function of (seed, block index) in
    * [16, 240) — a different mixing constant than `ImageOps.synthRaster`
    * so JPEG-group signatures cannot collide with lossless-group ones by
    * construction sharing. */
  def jpegRaster(seed: Long): Array[Byte] = {
    val out = new Array[Byte](JpegOps.W * JpegOps.H)
    val bw = JpegOps.W / 8
    var by = 0
    while (by < JpegOps.H / 8) {
      var bx = 0
      while (bx < bw) {
        val v = 16 + (((mix(seed * 0x9E3779B1L + by * bw + bx) >>> 16)
          & 0xFF).toInt * 224) / 256
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            out((by * 8 + y) * JpegOps.W + bx * 8 + x) = v.toByte
            x += 1
          }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    out
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** What [[graft.sources.RecordTable.synthesize]] is expected to fail. */
object SynthExpect {

  /** Mutation buckets (i mod 20) — FIXTURES.md §5. Buckets 0-13 pass all 12
    * ETS tests; 14-19 each fail exactly one known rule. `lang` is skewed
    * 70/10/10/10 to exercise AQE/salting on the dataset-level aggs. */
  val failingBucketRules: Map[Int, String] = Map(
    14 -> "identifier",           // bad centre id
    15 -> "identifier",           // space in local id
    16 -> "record_created_datetime", // created = "None"
    17 -> "extent_geospatial",    // lon out of range
    18 -> "data_policy",          // wmo:dataPolicy key removed
    19 -> "links")                // rel -> unknown 'download'

  /** Expected ETS-failing rows for a synthesized table of n rows (6 of
    * every 20 buckets fail exactly one test each). */
  def expectedFailing(n: Long): Long = failingBucketRules.keys.toSeq
    .map(b => n / 20 + (if (n % 20 > b) 1L else 0L)).sum
}

/** The records and column pairs the rule-walk kernels are pinned on:
  * each kernel-backed catalog column beside its declarative reference
  * (OptimizationParitySpec compares them, KernelSpec also across
  * evaluation modes). */
object RuleWalkCases {
  import graft.catalog.{EtsRules, KpiRules, LinkProbe, MapLinkProbe,
    OfflineLinkProbe, RecordCols}
  import graft.expressions.Summaries

  /** Edge records: null and empty arrays, null elements and fields, a
    * null theme and concepts without an id, duplicate security keys,
    * positions with missing ordinates, Pub/Sub channels and odd
    * intervals. */
  val edges: Seq[String] = Seq(
    """{"id":"e-null-arrays","links":null,"time":null,
      |"geometry":{"type":"Point","coordinates":[]},
      |"properties":{"type":"dataset","themes":null,"contacts":null,
      |"externalIds":null}}""",
    """{"id":"e-empty-arrays","links":[],"time":{"interval":[]},
      |"geometry":{"type":"MultiPoint","coordinates":[[1],[2,3],[],[200]]},
      |"properties":{"themes":[],"contacts":[],"externalIds":[]}}""",
    """{"id":"e-null-elements","links":[null,{"rel":null},{"href":null}],
      |"time":{"interval":[null,"2020"]},
      |"additionalExtents":{"temporal":{"interval":["..",".."],
      |"resolution":"P1D"}},
      |"geometry":{"type":"LineString","coordinates":[[null,5],[7,null]]},
      |"properties":{"type":"dataset","wmo:dataPolicy":"recommended",
      |"themes":[null],
      |"contacts":[null,{"roles":null},{"roles":[null,"host","bogus"],
      |"emails":[null,{"value":null}]},{"roles":[null]}],
      |"externalIds":[null,{"scheme":null},{"scheme":"doi"}]}}""",
    """{"id":"e-concepts","links":[{"rel":"license","href":"https://l"},
      |{"rel":"cite-as","href":"https://c"}],
      |"time":{"interval":["2021","2020"]},
      |"properties":{"type":"dataset","wmo:dataPolicy":"recommended",
      |"themes":[{"concepts":[{"url":"https://u"}],
      |"scheme":"https://x/earth-system-discipline"}],
      |"contacts":[{"roles":["host"],"contactInstructions":"call"},
      |{"roles":["bogus","worse"]},{"roles":["host","alsobad"]}]}}""",
    """{"id":"e-null-theme-last","links":[{"rel":"self","href":"https://s"}],
      |"time":{"interval":["2020",".."]},
      |"properties":{"themes":[{"concepts":[{"id":"weather"}],
      |"scheme":"https://x/earth-system-discipline"},null],
      |"contacts":[{"roles":["host"],"emails":[{"value":"a@b"}]}]}}""",
    """{"id":"e-theme-no-concepts","links":[{"rel":"self","href":"ftp://s"}],
      |"time":{"interval":["..","2020"]},
      |"properties":{"themes":[{"scheme":"https://x/earth-system-discipline"},
      |{"concepts":[{"id":"bad-discipline"}],
      |"scheme":"https://x/earth-system-discipline"}]}}""",
    """{"id":"e-security-dup-first-ok","links":[{"rel":"self",
      |"href":"https://s","security":{"a":{"description":"d"},"a":{},
      |"b":null}}],"properties":{"themes":[{"concepts":[],"scheme":"s"}]}}""",
    """{"id":"e-security-dup-first-bad","links":[{"rel":"self",
      |"href":"https://s","security":{"a":{},"a":{"description":"d"}}}]}""",
    """{"id":"e-mqtt","links":[{"rel":"items","href":"mqtts://broker",
      |"channel":"origin/a/wis2/ca-eccc-msc/data/core/weather/x"},
      |{"rel":"items","href":"mqtts://broker",
      |"channel":"cache/a/wis2/ca-eccc-msc/data/core/weather/landFixed"}]}""",
    """{"id":"e-mqtt-no-channel","links":[{"rel":"items",
      |"href":"mqtts://broker"}],"time":{"resolution":"P1D"}}""",
    """{"id":"e-mqtt-other-channel","links":[{"rel":"items",
      |"href":"mqtts://broker","channel":"elsewhere/x"},
      |{"rel":"no-such-relation","href":"https://p"},
      |{"rel":"preview","href":"https://img","type":"image/png"},
      |{"rel":"preview","href":"https://doc"},{"rel":"preview"},
      |{"rel":"preview","href":"http://unprobed","type":"text/plain"}]}""",
    """{"id":"e-wrong-types","links":"x","time":"y",
      |"properties":{"themes":{"a":1},"contacts":7,"externalIds":"z"}}""")
    .map(_.stripMargin.replace("\n", ""))

  /** `content` of the fixtures, 400 synthesized records and [[edges]] */
  def records(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    graft.sources.RecordTable.fixtures(spark).select("content")
      .union(graft.sources.RecordTable.synthesize(spark, 400).select("content"))
      .union(edges.toDF("content"))
  }

  /** probes with accessible, inaccessible, mime-less and unprobed URLs */
  val probes: Seq[(String, LinkProbe)] = Seq(
    "offline" -> OfflineLinkProbe,
    "mapped" -> MapLinkProbe(Map(
      "https://img" -> (true, "image/png"),
      "https://doc" -> (false, null),
      "https://s" -> (true, "text/html"),
      "https://l" -> (false, "application/x-nope"),
      "https://c" -> (true, null))),
    "empty" -> MapLinkProbe(Map.empty))

  /** `(name, kernel column, declarative column)` over the frame of
    * `graft.engine.Validator.withKernels` (offline probe) that `rc` points
    * at; the KPI walks of the other probes are compared as kernel calls */
  def columns(rc: RecordCols): Seq[(String, Column, Column)] = {
    val ets = EtsRules.catalog(rc)
    val etsRef = EtsRulesReference.catalog(rc)
    val etsTests = array(ets.map(_.result): _*)
    val kpiTests = array(KpiRules.catalog(rc).map(_.result): _*)
    def summary(tests: Column) =
      KpiRules.summary(Summaries.kpiSummaryColumn(tests))
    def gated(tests: Column) =
      when(!rc.rec.getField("id").startsWith("e-"), tests)
    val mixed = array(rc.rec.getField("id"), lit(null).cast(StringType),
      rc.rec.getField("properties").getField("title"),
      rc.rec.getField("properties").getField("type"))
    ets.zip(etsRef).map { case (k, d) => (s"ets:${k.name}", k.result, d.result) } ++
      KpiRules.catalog(rc).zip(KpiRulesReference.catalog(rc, OfflineLinkProbe))
        .map { case (k, d) => (s"kpi:${k.name}", k.result, d.result) } ++
      probes.flatMap { case (pn, probe) =>
        val walks = struct(KpiRules.walks(rc, probe): _*)
        KpiRulesReference.catalog(rc, probe)
          .filter(k => !Set("title", "description")(k.name)).map { d =>
            val k = walks.getField(s"kpi_${d.name}")
            (s"walk:$pn:${d.name}", struct(k.getField("total"),
              k.getField("score"), k.getField("comments")),
              struct(d.total.cast(IntegerType), d.score.cast(IntegerType),
                d.comments))
          }
      } ++ Seq(
        ("geo_bounds", graft.expressions.GeoBounds.boundsColumn(rc.geoPositions),
          EtsRulesReference.bounds(rc.geoPositions)),
        ("compact", Summaries.compactColumn(mixed), array_compact(mixed)),
        ("ets_counts", Summaries.etsCountsColumn(etsTests),
          SummariesReference.etsCounts(etsTests)),
        ("failed_tests", Summaries.failedTestsColumn(etsTests),
          SummariesReference.failedTests(etsTests)),
        ("kpi_summary", summary(kpiTests),
          SummariesReference.kpiSummary(kpiTests)),
        // a null array, as the ETS gate leaves it
        ("kpi_summary_gated", summary(gated(kpiTests)),
          SummariesReference.kpiSummary(gated(kpiTests)))) ++
      KpiRules.Ids.map(_._1).map { name =>
        (s"select:$name", Summaries.selectByIdColumn(kpiTests,
          KpiRules.idOf(name)),
          SummariesReference.selectById(kpiTests, KpiRules.idOf(name)))
      }
  }
}
