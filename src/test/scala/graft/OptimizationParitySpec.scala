package graft

import java.util.regex.Pattern

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sources.RecordTable

/** Round-6 optimization parity pins: every hot-path rewrite is asserted
  * byte/token-identical to the formulation it replaced (the optimization
  * round must not change what any declared query computes). */
class OptimizationParitySpec extends SparkSpec {
  import spark.implicits._

  test("synthesize: precomputed-template parity with the replace() form") {
    // the ORIGINAL per-row formulation (round <=5), re-stated here as the
    // reference: replace(template, idLine, newId) then bucket-conditional
    // replace / regexp_replace over the content
    val template = RecordTable.fixtureContent("wcmp2-passing.json")
    def rep(c: org.apache.spark.sql.Column, s: String,
            r: org.apache.spark.sql.Column) =
      call_function("replace", c, lit(s), r)
    val bucket = pmod(col("i"), lit(20))
    val idLine = "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"
    val localId = concat(lit("observations.r"), col("i"))
    val newId = concat(
      when(bucket === 14, "urn:wmo:md:bad-centre-id:")
        .otherwise("urn:wmo:md:ca-eccc-msc:"),
      when(bucket === 15, concat(lit("obs r"), col("i"))).otherwise(localId))
    val content0 = rep(lit(template), idLine, newId)
    val content1 = when(bucket === 16,
        rep(content0, "\"created\": \"2018-01-01T11:11:11Z\"",
          lit("\"created\": \"None\"")))
      .when(bucket === 17, rep(content0, "-142,", lit("-242,")))
      .when(bucket === 18,
        regexp_replace(content0, ",\\s*\"wmo:dataPolicy\": \"core\"", ""))
      .when(bucket === 19, rep(content0, "\"rel\": \"data\",",
        lit("\"rel\": \"download\",")))
      .otherwise(content0)
    val n = 200L // covers all 20 buckets 10x, ids of varying digit widths
    val reference = spark.range(0, n, 1, 4).toDF("i")
      .select(col("i"), content1.as("content"))
      .as[(Long, String)].collect().toMap
    val optimized = RecordTable.synthesize(spark, n)
      .select(regexp_extract(col("path"), "records/([0-9]+)", 1)
        .cast("long").as("i"), col("content"))
      .as[(Long, String)].collect().toMap
    assert(optimized.keySet == reference.keySet)
    reference.foreach { case (i, c) =>
      assert(optimized(i) == c, s"content mismatch at i=$i")
    }
  }

  // token-space + free-text adversarial corpus for the spellcheck scanner
  private val adversarial = Seq(
    "", " ", "'", "''", "a", "a'", "'a", "a''b", "ab''", "ab''cd e'",
    "Surface wether observations 30 days", "x_1 foo_bar 1_000 1_000_000",
    "1e5 12e3_4 1ee 1e_5 1_ _1 1__2 nan inf infinity nan's infinitys",
    "NaN INF Infinity 0 007 3 1e 9_",
    "café Über straße grüße",         // latin-1 letters
    "étude a⃝b",                                    // Mn + Me marks
    "பால்",                                // Mc marks (Tamil)
    "١٢٣ ۱۲",                         // Arabic digits
    "a‍b zw‌nj",                                     // join controls
    "under_score __ _x_",
    "ⅠⅡ 〇",                                     // Nl letter-numbers
    "tab\tsep\nlinevtff\rcr end  ",
    "mixed: j'ai l'été, d'accord-ish; 12,5 3.14 v2.0")

  test("misspelled scanner: token parity with the declarative regex form") {
    val kernel = adversarial.toDF("s")
      .select(graft.expressions.Misspelled.misspelled(col("s")))
      .as[Seq[String]].collect()
    val declarative = adversarial.toDF("s")
      .select(Wcmp2Reference.misspelled(col("s"))).as[Seq[String]].collect()
    adversarial.indices.foreach { i =>
      assert(kernel(i) == declarative(i),
        s"spellcheck mismatch on '${adversarial(i)}'")
    }
  }

  test("isWordCp matches (?U)\\w over the whole BMP + supplementary edge") {
    val w = Pattern.compile("(?U)\\w")
    (0 to 0xFFFF).foreach { cp =>
      if (!Character.isSurrogate(cp.toChar)) {
        val expected = w.matcher(new String(Character.toChars(cp))).matches()
        assert(graft.expressions.TextKernels.isWordCp(cp) == expected,
          f"isWordCp mismatch at U+$cp%04X")
      }
    }
    // a few supplementary-plane codepoints (letters, digits, symbols)
    Seq(0x10400, 0x104A0, 0x1D7CE, 0x1F600, 0x20000).foreach { cp =>
      val expected = w.matcher(new String(Character.toChars(cp))).matches()
      assert(graft.expressions.TextKernels.isWordCp(cp) == expected,
        f"isWordCp mismatch at U+$cp%04X")
    }
  }

  test("floatLikeToken matches the floatLike regex over token space") {
    val re = Pattern.compile(Wcmp2Reference.floatLike)
    // token space = lowercased \w/' runs; enumerate a dense adversarial set
    val toks = Seq("inf", "infinity", "nan", "in", "infinit", "nans",
      "0", "9", "007", "1_0", "1_000_000", "1_", "_1", "1__2", "1e5",
      "12e3_4", "1ee5", "1e_5", "1e", "e5", "12e", "1e5e5", "abc", "a1",
      "1a", "x_1", "_", "'", "1'2", "nan'", "١٢", "1٦2",
      "999999999999999999999999", "1e999", "0e0", "00_0e0_0")
    toks.foreach { t =>
      assert(graft.expressions.TextKernels.floatLikeToken(t) ==
        re.matcher(t).find(), s"floatLikeToken mismatch on '$t'")
    }
  }

  test("isAlnumPy matches ^[\\p{L}\\p{N}]+$ over single BMP codepoints") {
    val re = Pattern.compile("^[\\p{L}\\p{N}]+$")
    (0 to 0xFFFF).foreach { cp =>
      if (!Character.isSurrogate(cp.toChar)) {
        val s = new String(Character.toChars(cp))
        assert(graft.expressions.TextKernels.isAlnumPy(s) ==
          re.matcher(s).matches(), f"isAlnumPy mismatch at U+$cp%04X")
      }
    }
    assert(!graft.expressions.TextKernels.isAlnumPy(""))
    assert(graft.expressions.TextKernels.isAlnumPy("Ⅻ7åß"))
    assert(!graft.expressions.TextKernels.isAlnumPy("a b"))
    assert(!graft.expressions.TextKernels.isAlnumPy("a_b"))
  }

  test("title facts kernel fields: parity with the declarative KPI forms") {
    val acronymRe = "\\b([A-Z]{2,}\\d*)\\b"
    val bulletinRe = "[A-Z]{4}\\d{2}[\\s_]*[A-Z]{4}"
    val titles = Seq(
      "Surface weather observations", "surface weather observations",
      "SURFACE Weather OBS2", "NOAA GOES-16 ABI imagery CONUS sector",
      "TTAA00 CWAO observations", "TTAA00_CWAO bulletins",
      "X", "", " ", "Étude de cas", "étude de cas",
      "Data (with parens)", "A B C D E F", "ABCD12 EFGH stream",
      "MIXeD CaSe TiTLe", "Weather2 data3", "ß-case edge ß",
      "ACRO1 ACRO2 ACRO3 ACRO4 many acronyms",
      "trailing spaces   ", "   leading", "tab\tseparated\ttitle")
    val df = (titles.map(Option(_)) :+ None).toDF("t")
    val declarative = df.select(
        forall(Wcmp2Reference.pySplitWs(col("t")), Wcmp2Reference.pyIsAlnum)
          .as("alnum"),
        (Wcmp2Reference.pyCapitalize(Wcmp2Reference.pyStrip(
            regexp_replace(col("t"), acronymRe, ""))) ===
          Wcmp2Reference.pyStrip(regexp_replace(col("t"), acronymRe, "")))
          .as("cap"),
        size(regexp_extract_all(col("t"), lit(acronymRe), lit(1))).as("nacr"),
        col("t").rlike(bulletinRe).as("bul"))
      .collect()
    val kernel = df.select(
        graft.expressions.TitleWords.titleWords(col("t")).as("k"))
      .select(col("k.all_alnum"), col("k.cap_ok"), col("k.n_acronyms"),
        col("k.has_bulletin"))
      .collect()
    declarative.indices.foreach { i =>
      val name = if (i < titles.length) s"'${titles(i)}'" else "null"
      (0 to 3).foreach { c =>
        assert(kernel(i).isNullAt(c) == declarative(i).isNullAt(c) &&
          (kernel(i).isNullAt(c) || kernel(i).get(c) == declarative(i).get(c)),
          s"title-fact col $c mismatch on $name: " +
            s"kernel=${kernel(i)} declarative=${declarative(i)}")
      }
    }
  }

  test("topic-channel kernel: parity with the declarative level walk") {
    import graft.dims.Dims
    val channels = Seq(
      "origin/a/wis2/ca-eccc-msc/data/core/weather/surface-based-observations/synop",
      "origin/a/wis2/ca-eccc-msc/data/core/weather",
      "origin/a/wis2/ca-eccc-msc/data/core/weather/landFixed",
      "origin/a/wis2/ca-eccc-msc/data/core/weather/x/y-z/t0",
      "cache/a/wis2/de-dwd-test/metadata",
      "cache/a/wis2/de-dwd-test/metadata/extra/kebab-ok",
      "cache/a/wis2/de-dwd-test/metadata/Bad_Token",
      "origin/a/wis2/ca-eccc-msc/reports/a/b",
      "origin/a/wis2/ca-eccc-msc/data/core",           // too short for data
      "origin/a/wis2/ca-eccc-msc/data/nope/weather/x", // bad policy
      "origin/a/wis2/ca-eccc-msc/data/core/nodisc/x",  // bad discipline
      "origin/a/wis2/unknown-centre/data/core/weather/x",
      "origin/a/wis2/ca-eccc-msc/video/x",             // bad notification
      "mirror/a/wis2/ca-eccc-msc/data/core/weather/x", // bad root
      "origin/b/wis2/ca-eccc-msc/data/core/weather/x",
      "origin/a/wis3/ca-eccc-msc/data/core/weather/x",
      "origin/a/wis2/ca-eccc-msc/data/core/weather/",  // trailing empty
      "origin/a/wis2/ca-eccc-msc/data/core/weather/experimental/ANY thing",
      "", "a", "a/b/c/d", "////", "origin/a/wis2",
      "origin/a/wis2/ca-eccc-msc/data/core/weather/synop/z1/z2/z3")
    val tables: Seq[Option[Set[String]]] = Seq(
      None,
      Some(TopicReference.vendoredSubDisciplines),
      Some(Dims.prefixClosure(Seq("weather/surface-based-observations/synop",
        "climate/x"))),
      Some(Set.empty[String]))
    tables.foreach { table =>
      val declarative = channels.toDF("c")
        .select(TopicReference.validTopicChannel(col("c"), table))
        .as[Boolean].collect()
      // the tables as the links kernel receives them: literals of the plan
      val lists = Seq(Dims.centreIds, Dims.dataPolicies,
          Dims.earthSystemDisciplines, table.getOrElse(Set.empty[String]))
        .map(l => spark.range(1).select(graft.expressions.Codelist.literal(l))
          .queryExecution.executedPlan.executeCollect().head.getArray(0))
      channels.indices.foreach { i =>
        assert(graft.expressions.TopicChannel.valid(channels(i), lists(0),
            lists(1), lists(2), lists(3)) == declarative(i),
          s"channel parity mismatch on '${channels(i)}' (table=$table)")
      }
      // null input: the declarative composition lands in otherwise(false),
      // where the links kernel never calls the check
      val nullRes = Seq(Option.empty[String]).toDF("c")
        .select(TopicReference.validTopicChannel(col("c"), table))
        .as[Boolean].head()
      assert(!nullRes, s"null channel (table=$table)")
    }
  }

  test("rule-walk kernels: parity with their declarative references over " +
       "the fixtures, 400 synthesized records and the edge records") {
    val (base, rc) = engine.Validator.withKernels(RuleWalkCases.records(spark))
    val cases = RuleWalkCases.columns(rc)
    val rows = base.select((col("_p.rec.id").as("id") +: cases.flatMap {
      case (name, k, d) => Seq(k.as(s"k:$name"), d.as(s"d:$name"))
    }): _*).collect()
    assert(rows.length == RecordTable.fixtureNames.size + 400 +
      RuleWalkCases.edges.size)
    val mismatches = for {
      r <- rows.toSeq
      ((name, _, _), c) <- cases.zipWithIndex
      if r.get(1 + 2 * c) != r.get(2 + 2 * c)
    } yield s"$name on ${r.getString(0)}: kernel=${r.get(1 + 2 * c)} " +
      s"declarative=${r.get(2 + 2 * c)}"
    assert(mismatches.isEmpty, mismatches.take(20).mkString("\n"))
    // the edge records reach the failing branches
    val byId = rows.map(r => r.getString(0) -> r).toMap
    def ets(id: String, rule: String): String = {
      val c = cases.indexWhere(_._1 == s"ets:$rule")
      byId(id).getStruct(1 + 2 * c).getString(2)
    }
    assert(ets("e-null-arrays", "themes") == null)
    assert(ets("e-empty-arrays", "themes") == "Missing at least one theme")
    assert(ets("e-null-elements", "themes") == "Missing scheme")
    assert(ets("e-concepts", "themes") == "Missing concept id")
    assert(ets("e-concepts", "contacts") == "Invalid role alsobad")
    // `a`'s first entry has a description; `b` has no value
    assert(ets("e-security-dup-first-ok", "links") ==
      "missing security description for b")
    assert(ets("e-security-dup-first-bad", "links") ==
      "missing security description for a")
    assert(ets("e-mqtt", "links") ==
      "Invalid WIS2 topic for Pub/Sub link channel")
    assert(ets("e-empty-arrays", "links") == "missing at least one link")
  }

  test("json facts: byte-parser fast path matches the char path") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs =
      sources.RecordTable.fixtureNames
        .map(sources.RecordTable.fixtureContent) ++
      sources.RecordTable.synthesize(spark, 40)
        .select("content").as[String].collect() ++
      Seq("", "{}", "[1,2]", "null", "{\"id\":\"x\",\"geometry\":" +
        "{\"type\":\"Point\",\"coordinates\":[1.5,2]}}",
        "{\"id\":\"café über 中文\"," +
          "\"properties\":{\"title\":\"Étude\"}}",
        "{\"id\":7} trailing", "{\"id\"")
    docs.foreach { d =>
      val u = UTF8String.fromString(d)
      val fast = graft.expressions.JsonFacts.facts(u)
      val char = graft.expressions.JsonFacts.factsForcedChar(u)
      assert(fast.toString == char.toString,
        s"byte/char facts mismatch on doc: ${d.take(80)}")
    }
    // invalid UTF-8 routes to the char path: behavior equals pre-r6
    val bad = UTF8String.fromBytes(
      "{\"id\":\"a ".getBytes("UTF-8") ++ Array[Byte](-1, -2) ++
        "b\"}".getBytes("UTF-8"))
    assert(!bad.isValid)
    assert(graft.expressions.JsonFacts.facts(bad).toString ==
      graft.expressions.JsonFacts.factsForcedChar(bad).toString)
  }

  test("titleWords: char-scan strip/split parity with the regex form") {
    val titles = Seq("", " ", "  Surface   weather  ", "\tAB\fC\rD\nE ",
      "NOAA GOES-16 imagery", "x", " x ", "a  b", "café été",
      "ACRONYM2 and WMO4 plus lower", " nbsp stays ")
    // reference: the pre-r6 regex formulation
    val leadWs = Pattern.compile("^\\s+")
    val trailWs = Pattern.compile("\\s+$")
    val wsRun = Pattern.compile("\\s+")
    val acronymRe = Pattern.compile("\\b([A-Z]{2,}\\d*)\\b")
    def pyStripRef(s: String): String =
      trailWs.matcher(leadWs.matcher(s).replaceAll("")).replaceAll("")
    val got = titles.toDF("s")
      .select(graft.expressions.TitleWords.titleWords(col("s")).as("t"))
      .select("t.words")
      .as[Seq[String]].collect()
    titles.zip(got).foreach { case (s, words) =>
      val refStripped0 = pyStripRef(s)
      val refWords =
        if (refStripped0.isEmpty) Seq.empty[String]
        else wsRun.split(refStripped0).filter(_.nonEmpty).toSeq
      val refAcr = pyStripRef(acronymRe.matcher(s).replaceAll(""))
      val stripped = graft.expressions.TextKernels.pyStrip(
        acronymRe.matcher(s).replaceAll(""))
      assert(words == refWords, s"words mismatch on '$s'")
      assert(stripped == refAcr, s"stripped mismatch on '$s'")
    }
  }

  test("langid kernel: decision parity with the declarative HOF argmax") {
    val texts = adversarial ++ Seq(
      null,
      "the cat and the dog is on a mat",              // en
      "le chat est dans la maison pour un an",        // fr
      "der hund und die katze ist in den garten",     // de
      "el perro y la casa en un dia para todos",      // es
      "de la en un",                                  // tie-heavy overlap
      "la de",                                        // exact tie es/fr
      "in des",                                       // tie en/de words
      "THE AND OF TO", "The\tAnd\nOf",                // case + \s classes
      "zzz qqq www", "", "   ",
      "und und und la la la")                         // de vs es tie
    import graft.operators.TextAnalysis
    val df = texts.toDF("s")
    val kernel = df.select(TextAnalysis.languageId(col("s")))
      .as[String].collect()
    val declarative = df.select(
      TextAnalysisReference.languageIdFromTokens(TextAnalysis.tokens(col("s"))))
      .as[String].collect()
    texts.indices.foreach { i =>
      assert(kernel(i) == declarative(i),
        s"langid mismatch on '${texts(i)}': " +
          s"kernel=${kernel(i)} declarative=${declarative(i)}")
    }
  }

  test("shingle kernels: parity with the declarative tokens->shingles " +
       "chain (strings and xxhash64 values), n=3 and n=13") {
    import graft.operators.Dedup
    val texts = adversarial ++ Seq(null, "one two three four five six",
      "short", "a b", "  spaced   out\ttokens\nhere  ")
    for (n <- Seq(3, 13)) {
      val df = texts.toDF("s")
      val kernelS = df.select(
        graft.expressions.Ngrams.shinglesCol(col("s"), n)).as[Seq[String]]
        .collect()
      val declS = df.select(
        DedupReference.shinglesFromTokens(DedupReference.tokens(col("s")), n))
        .as[Seq[String]].collect()
      val kernelH = df.select(
        graft.expressions.Ngrams.ngramHashes(col("s"), n)).as[Seq[Long]]
        .collect()
      val declH = df.select(transform(
        DedupReference.shinglesFromTokens(DedupReference.tokens(col("s")), n),
        s => xxhash64(s))).as[Seq[Long]].collect()
      texts.indices.foreach { i =>
        assert(kernelS(i) == declS(i), s"shingles mismatch n=$n on '${texts(i)}'")
        assert(kernelH(i) == declH(i), s"hashes mismatch n=$n on '${texts(i)}'")
      }
    }
  }

  test("HammingPairs kernel: pair-set parity with the join-shaped " +
       "formulation over a dense signature set") {
    // signatures engineered for dense buckets: low-entropy low bits
    val sigs = (0L until 400L).map(i => (i % 37) | ((i / 37) << 58)) ++
      Seq(Long.MaxValue, Long.MinValue, -1L, 0L, 42L, 43L)
    val members = sigs.distinct.sorted
    for (maxH <- Seq(0, 3, 8, 63)) {
      val kernel = Seq(members).toDF("m")
        .select(explode(graft.expressions.HammingPairs.hammingPairs(
          col("m"), maxH)).as("p"))
        .select("p.sig_a", "p.sig_b", "p.hamming")
        .as[(Long, Long, Int)].collect().toSet
      val reference = (for {
        i <- members.indices; j <- (i + 1) until members.size
        h = java.lang.Long.bitCount(members(i) ^ members(j))
        if h <= maxH
      } yield (members(i), members(j), h)).toSet
      assert(kernel == reference, s"pair mismatch at maxH=$maxH")
    }
  }

  test("HammingPairs kernel: duplicate members yield no self-pair and " +
       "no repeated pair") {
    val members = Seq(3L, 3L, 3L, 7L, 7L, 64L)
    val pairs = Seq(members).toDF("m")
      .select(explode(graft.expressions.HammingPairs.hammingPairs(
        col("m"), 63)).as("p"))
      .select("p.sig_a", "p.sig_b", "p.hamming")
      .as[(Long, Long, Int)].collect().toSeq
    assert(pairs.sorted == Seq((3L, 7L, 1), (3L, 64L, 3), (7L, 64L, 4)))
  }

  test("ShinglesAll kernel: window-for-window parity (duplicates kept) " +
       "with the declarative repetition-gram chain") {
    import graft.operators.{Dedup, TextAnalysis}
    val texts = adversarial ++ Seq(null,
      "a b a b a b", "dup dup dup dup", "one two three one two three",
      "boilerplate navigation menu\nboilerplate navigation menu")
    for (n <- Seq(3, 5)) {
      val df = texts.toDF("s")
      val kernel = df.select(
        graft.expressions.Ngrams.shinglesAllCol(col("s"), n))
        .as[Seq[String]].collect()
      val toks = TextAnalysis.tokens(col("s"))
      val decl = df.select(coalesce(when(size(toks) < n,
          array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))), lit(null)))
        .as[Seq[String]].collect()
      texts.indices.foreach { i =>
        assert(kernel(i) == decl(i),
          s"shingles-all mismatch n=$n on '${texts(i)}'")
      }
    }
  }

  /** `rec` of the reference fixtures plus five edge records for the link
    * pool and the preview list: null links/themes/contacts, contacts
    * without links, non-http hrefs, null array elements, null rel, a null
    * theme and a theme without concepts (both empty the theme part). */
  private def linkRecs = {
    val edges = Seq(
      """{"id":"e0","links":null,
        |"properties":{"themes":null,"contacts":null}}""",
      """{"id":"e1","properties":{"contacts":[{"organization":"o"},null]}}""",
      """{"id":"e2","links":[null,{"rel":null,"href":"http://a/null-rel"},
        |{"rel":"preview","href":"ftp://a/img.png","type":"image/png"},
        |{"rel":"preview","href":"https://a/img.png","type":"image/png"},
        |{"rel":"preview"},{"rel":"PREVIEW","href":"http://a/upper"},
        |{"rel":"data","href":"mailto:x@y","type":"text/plain"}],
        |"properties":{"themes":[{"concepts":[{"id":"c","url":"https://c"},
        |{"id":"d"},null,{"id":"e","url":"urn:x"}],"scheme":"ftp://s"},
        |{"concepts":[],"scheme":"https://s2"}],
        |"contacts":[{"links":[null,{"href":"https://c1","rel":"about"},
        |{"href":"file:///x"},{"rel":"about"}]}]}}""",
      """{"id":"e3","links":[],"properties":{"themes":[null,
        |{"concepts":[{"id":"c","url":"https://p"}],"scheme":"https://s"}]}}""",
      """{"id":"e4","properties":{"themes":[{"scheme":"https://s"}]}}""")
      .map(_.stripMargin.replace("\n", ""))
    RecordTable.fixtures(spark).select("content")
      .union(edges.toDF("content"))
      .select(graft.expressions.JsonFacts.jsonFacts(col("content"))
        .getField("rec").as("rec"))
  }

  test("link-pool kernel: parity with the declarative KpiRules.httpLinkPool") {
    val out = linkRecs.select(col("rec.id"),
      graft.expressions.LinkPoolExpr.linkPool(col("rec.links"),
        col("rec.properties.themes"), col("rec.properties.contacts")),
      KpiReference.httpLinkPool(col("rec"))).collect()
    assert(out.length == RecordTable.fixtureNames.size + 5)
    out.foreach { r =>
      assert(r.getSeq[Row](1) == r.getSeq[Row](2), s"id ${r.getString(0)}")
    }
    val hrefs = out.map(r => r.getString(0) ->
      r.getSeq[Row](1).map(_.getString(0))).toMap
    assert(hrefs("e2") == Seq("http://a/null-rel", "https://a/img.png",
      "http://a/upper", "https://c", "https://s2", "https://c1"))
    Seq("e0", "e1", "e3", "e4").foreach(id => assert(hrefs(id).isEmpty, id))
    assert(out.count(_.getSeq[Row](1).nonEmpty) >= 9)
  }

  test("previews kernel: parity with filter(links, rel = 'preview')") {
    val out = linkRecs.select(col("rec.id"),
      graft.expressions.Previews.previews(col("rec.links")),
      filter(col("rec.links"), l => l.getField("rel") === "preview"))
      .collect()
    assert(out.length == RecordTable.fixtureNames.size + 5)
    out.foreach { r =>
      val (kernel, decl) = (r.getSeq[Row](1), r.getSeq[Row](2))
      assert(kernel == decl, s"id ${r.getString(0)}")
    }
    val byId = out.map(r => r.getString(0) -> r).toMap
    assert(byId("e0").isNullAt(1) && byId("e0").isNullAt(2))
    assert(byId("e2").getSeq[Row](1).map(_.getAs[String]("href")) ==
      Seq("ftp://a/img.png", "https://a/img.png", null))
  }
}
