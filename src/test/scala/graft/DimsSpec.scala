package graft

import org.apache.spark.sql.functions._
import graft.dims.Dims

/** Widened-dims behavior on NON-fixture inputs: ordinary English prose
  * must not be flagged as misspelled (pyspellchecker parity in spirit,
  * `/root/reference/pywcmp/util.py:45-59`), arbitrary real-world WIS2
  * channels must validate level-by-level like pywis_topics'
  * `th.validate` (`ets.py:476`), and the IANA link-relation registry
  * must cover common web rels. Fixture goldens are pinned separately in
  * EtsSpec / KpiSpec / FunctionsSpec.
  */
class DimsSpec extends SparkSpec with TempDirs {
  import spark.implicits._

  private def misspelled(s: String): Seq[String] =
    Seq(s).toDF("s").select(Wcmp2Reference.misspelled(col("s")))
      .as[Seq[String]].head()

  test("ordinary English prose passes the widened lexicon") {
    val prose = Seq(
      "Hourly precipitation accumulations derived from radar and gauge " +
        "networks were aggregated into daily climatological summaries",
      "The committee recommended publishing quarterly temperature " +
        "anomalies computed against the historical baseline",
      "Automated quality control procedures flagged seventeen stations " +
        "reporting inconsistent humidity measurements yesterday",
      "Numerical forecasts initialized at midnight showed strengthening " +
        "winds across the northern coastal regions")
    prose.foreach { s =>
      assert(misspelled(s).isEmpty, s"false positives in: $s -> ${misspelled(s)}")
    }
  }

  test("genuine misspellings are still caught") {
    assert(misspelled("acumulated precipitaton mesurements") ==
      Seq("acumulated", "precipitaton", "mesurements"))
    assert(misspelled("Surface wether observations") == Seq("wether"))
  }

  test("dictionary is materially wider than the fixture-pinned 150 words") {
    assert(Dims.dictionary.size > 5000)
    assert(Dims.linkRelations.size > 100)    // full IANA registry
    assert(Dims.centreIds.size >= 50)
  }

  private def topicOk(ch: String): Boolean =
    Seq(ch).toDF("c").select(TopicReference.validTopicChannel(col("c")))
      .as[Boolean].head()

  test("level-wise topic validation accepts arbitrary real channels") {
    // channels NOT in any precomputed set: different centres,
    // disciplines and deep sub-discipline paths
    assert(topicOk("origin/a/wis2/de-dwd/data/core/weather/" +
      "prediction/forecast/medium-range/deterministic/global"))
    assert(topicOk("cache/a/wis2/fr-meteofrance/data/recommended/" +
      "ocean/surface-based-observations/drifting-buoys"))
    assert(topicOk("origin/a/wis2/kr-kma/data/core/climate/" +
      "surface-based-observations/monthly"))
    assert(topicOk("origin/a/wis2/xx-foo-test/data/core/hydrology/" +
      "experimental/surface-based-observations/river-gauges"))
    assert(topicOk("origin/a/wis2/int-ecmwf/metadata"))
  }

  test("level-wise topic validation rejects per-level violations") {
    assert(!topicOk("origin/a/wis2/ca-eccc-msc/data/core/weather/" +
      "surface-based-observations/landFixed"))       // fixture: bad case
    assert(!topicOk("origin/b/wis2/de-dwd/data/core/weather/x"))  // version
    assert(!topicOk("mirror/a/wis2/de-dwd/data/core/weather/x"))  // root
    assert(!topicOk("origin/a/wis2/zz-unknown/data/core/weather/x")) // centre
    assert(!topicOk("origin/a/wis2/de-dwd/data/open/weather/x"))  // policy
    assert(!topicOk("origin/a/wis2/de-dwd/data/core/astrology/x")) // discipline
    assert(!topicOk("origin/a/wis2/de-dwd/data/core"))             // too short
    assert(!topicOk("origin/a/wis2/de-dwd/bulletins/core/weather/x")) // type
  }

  private def topicOkWith(ch: String, table: Option[Set[String]]): Boolean =
    Seq(ch).toDF("c").select(TopicReference.validTopicChannel(col("c"), table))
      .as[Boolean].head()

  test("published sub-discipline table pins levels >= 8: charset-valid " +
       "but unpublished tokens fail WITH the table, pass without") {
    val table = Some(TopicReference.vendoredSubDisciplines)
    val unpublished = "origin/a/wis2/de-dwd/data/core/weather/" +
      "surface-based-observations/made-up-kebab-token"
    assert(topicOkWith(unpublished, None))     // charset fallback: passes
    assert(!topicOkWith(unpublished, table))   // published table: fails
    // published leaves and intermediate nodes pass
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "surface-based-observations/synop", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "surface-based-observations", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "prediction/forecast/ensemble/global", table))
    // the WIS2 reserved `experimental` token opens a free-form subtree —
    // but only under a published prefix
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "experimental/anything-goes-here/below", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "aviation/experimental/new-report-type", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/weather/" +
      "unpublished-node/experimental/x", table))
    // non-weather disciplines are now vendored too: published tokens
    // pass, unpublished fail — both ways, per discipline
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/ocean/" +
      "surface-based-observations/ship", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/ocean/" +
      "surface-based-observations/anything", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/climate/" +
      "surface-based-observations/monthly", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/climate/" +
      "made-up-subtree/x", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/" +
      "atmospheric-composition/surface-based-observations/ozone", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/" +
      "atmospheric-composition/surface-based-observations/unlisted", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/cryosphere/" +
      "surface-based-observations/sea-ice", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/cryosphere/" +
      "surface-based-observations/icebergs-unvendored", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/hydrology/" +
      "surface-based-observations/water-level", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/hydrology/" +
      "space-based-observations/unvendored", table))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/space-weather/" +
      "surface-based-observations/ionosonde", table))
    assert(!topicOkWith("origin/a/wis2/de-dwd/data/core/space-weather/" +
      "surface-based-observations/coronagraph-unvendored", table))
    // a discipline absent from a LOADED table keeps the charset fallback
    val weatherOnly = Some(Dims.prefixClosure(Seq("weather/aviation/metar")))
    assert(topicOkWith("origin/a/wis2/de-dwd/data/core/ocean/" +
      "surface-based-observations/anything", weatherOnly))
    // the fixture-invalid channel still fails (charset already catches it)
    assert(!topicOkWith("origin/a/wis2/ca-eccc-msc/data/core/weather/" +
      "surface-based-observations/landFixed", table))
    // both wcmp2-passing channels validate against the REAL table
    assert(topicOkWith("origin/a/wis2/ca-eccc-msc/data/core/weather/" +
      "surface-based-observations/synop", table))
    assert(topicOkWith("origin/a/wis2/ca-eccc-msc/data/core/weather/" +
      "experimental/surface-based-observations/synop", table))
  }

  test("sub-discipline table loads from the dims-dir override") {
    val dir = tempDir("dims").toFile
    java.nio.file.Files.writeString(
      new java.io.File(dir, "sub-discipline.csv").toPath,
      "# comment\nweather/aviation/metar\n")
    System.setProperty(Dims.DimsDirProperty, dir.getAbsolutePath)
    try {
      val t = Dims.subDisciplineTable()
      assert(t == Some(Set("weather", "weather/aviation",
        "weather/aviation/metar")))
    } finally System.clearProperty(Dims.DimsDirProperty)
    assert(Dims.subDisciplineTable().isEmpty) // no override -> None
  }

  test("dims override directory replaces a vendored table (deploy hook)") {
    val dir = tempDir("dims").toFile
    val f = new java.io.File(dir, "data-policy.csv")
    java.nio.file.Files.writeString(f.toPath, "core\nrecommended\nspecial\n")
    System.setProperty(Dims.DimsDirProperty, dir.getAbsolutePath)
    try {
      // Dims caches at class-load; exercise the loader path directly via
      // a fresh read of the overridden file through the public surface
      val m = Dims.getClass.getDeclaredMethod("loadCodelist", classOf[String])
      m.setAccessible(true)
      val got = m.invoke(Dims, "data-policy.csv").asInstanceOf[Seq[String]]
      assert(got == Seq("core", "recommended", "special"))
    } finally System.clearProperty(Dims.DimsDirProperty)
  }
}
