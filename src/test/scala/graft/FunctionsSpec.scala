package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.catalog.KpiRules
import graft.expressions.JsonFacts
import graft.catalog.EtsRules
import graft.expressions.GeoBounds
import graft.functions.{Wcmp2Functions => F}

/** Unit goldens from `/root/reference/tests/run_tests.py:230-272` plus
  * property tests for the pure kernels. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  def gradeOf(p: java.lang.Double): String =
    Seq(Option(p).map(_.doubleValue)).toDF("p")
      .select(KpiRules.grade(col("p").cast("double"))).as[String].head()

  test("grade boundaries (run_tests.py:230-240, kpi.py:593-619)") {
    assert(gradeOf(98.0) == "A")
    assert(gradeOf(77.0) == "B")
    assert(gradeOf(66.0) == "B")
    assert(gradeOf(52.0) == "C")
    assert(gradeOf(41.0) == "D")
    assert(gradeOf(33.0) == "E")
    assert(gradeOf(null) == null)
    // quirk: below 20 the reference returns the numeric percentage itself
    assert(gradeOf(12.5) == "12.5")
    // out-of-range raises ValueError there; sentinel here
    assert(gradeOf(101.0) == KpiRules.GradeRangeError)
    assert(gradeOf(-1.0) == KpiRules.GradeRangeError)
  }

  test("grade is monotone non-decreasing in percentage (property)") {
    // evaluate the whole grid in ONE Spark job, then check monotonicity
    val ps = (0 to 100).map(_.toDouble)
    val grades = ps.toDF("p")
      .select(col("p"), KpiRules.grade(col("p")).as("g"))
      .as[(Double, String)].collect().sortBy(_._1).map(_._2)
    val order = Seq("E", "D", "C", "B", "A")
    def rank(g: String): Int = order.indexOf(g) // numeric passthrough -> -1
    val letterRanks = grades.map(rank)
    letterRanks.sliding(2).foreach { case Array(a, b) =>
      assert(a <= b || (a < 0 && b < 0))
    }
    // ScalaCheck: boundary values map to the reference's fixed thresholds
    val prop = Prop.forAll(Gen.choose(0, 100)) { p =>
      val g = grades(p)
      if (p >= 80) g == "A" else if (p >= 65) g == "B"
      else if (p >= 50) g == "C" else if (p >= 35) g == "D"
      else if (p >= 20) g == "E" else g == p.toDouble.toString
    }
    assert(ScTest.check(ScTest.Parameters.default, prop).passed)
  }

  def dtValid(s: String): Boolean =
    Seq(s).toDF("s").select(F.isValidCreatedDatetime(col("s")))
      .as[Boolean].head()

  test("created datetime: the 4 reference goldens (run_tests.py:266-272)") {
    assert(dtValid("2024-08-09T14:29:22Z"))
    assert(dtValid("2024-08-09T14:29:22.12Z"))
    assert(dtValid("2024-08-09T14:29:22+0400"))
    assert(dtValid("2024-08-09T14:29:22+04:00"))
  }

  test("created datetime: invalid forms (util.py:241-250 strptime misses)") {
    assert(!dtValid("None"))
    assert(!dtValid("2022-06-22"))            // date-only
    assert(!dtValid("2024-08-09T14:29:22"))   // %z never matches empty
    assert(!dtValid("2024-08-09 14:29:22Z"))  // space separator
    assert(!dtValid("2024-13-09T14:29:22Z"))  // bad month
    assert(!dtValid("2024-02-30T14:29:22Z"))  // bad day-of-month
    assert(!dtValid("2024-08-09T14:29:22.1234567Z")) // %f max 6 digits
    assert(!dtValid(""))
    // Python parity: strptime('%z') raises on a bare ±HH offset —
    // verified: datetime.strptime('2024-08-09T14:29:22+04',
    // '%Y-%m-%dT%H:%M:%S%z') -> ValueError. ±HHMM / ±HH:MM stay valid.
    assert(!dtValid("2024-08-09T14:29:22+04"))
    assert(!dtValid("2024-08-09T14:29:22-04"))
    assert(dtValid("2024-08-09T14:29:22-0430"))
    assert(dtValid("2024-08-09T14:29:22+04:00:30"))
  }

  test("pyCapitalize matches Python str.capitalize semantics") {
    val got = Seq("surface weather", "Surface Weather", "ABC def", "")
      .toDF("s").select(Wcmp2Reference.pyCapitalize(col("s")))
      .as[String].collect()
    assert(got.toSeq == Seq("Surface weather", "Surface weather",
      "Abc def", ""))
  }

  test("pySplitWs matches Python str.split() semantics") {
    val got = Seq("  a  b\tc ", "", "   ")
      .toDF("s").select(Wcmp2Reference.pySplitWs(col("s")))
      .as[Seq[String]].collect()
    assert(got.toSeq == Seq(Seq("a", "b", "c"), Seq(), Seq()))
  }

  /** geometry `g`'s position list as the catalog reads it: the
    * `geo_positions` the JsonFacts parse flattens out of `$.geometry` */
  private def positions(g: String) =
    Seq(s"""{"geometry":$g}""").toDF("content")
      .select(JsonFacts.jsonFacts(col("content")).getField("geo_positions")
        .as("pos"))

  test("geojson bounds: all geometry types, shapely .bounds equivalence") {
    def b(g: String): (Double, Double, Double, Double) =
      positions(g).select(GeoBounds.boundsColumn(col("pos")).as("b"))
        .select("b.minx", "b.miny", "b.maxx", "b.maxy")
        .as[(Double, Double, Double, Double)].head()
    assert(b("""{"type":"Point","coordinates":[10,20]}""") == (10, 20, 10, 20))
    assert(b("""{"type":"LineString","coordinates":[[0,1],[2,-3]]}""") ==
      (0, -3, 2, 1))
    assert(b("""{"type":"Polygon","coordinates":[[[-142,28],[-142,82],[-52,82],[-52,28],[-142,28]]]}""") ==
      (-142, 28, -52, 82))
    assert(b("""{"type":"MultiPolygon","coordinates":[[[[0,0],[1,0],[1,1],[0,0]]],[[[5,5],[6,5],[6,6],[5,5]]]]}""") ==
      (0, 0, 6, 6))
    assert(b("""{"type":"MultiPoint","coordinates":[[1,2],[3,4]]}""") ==
      (1, 2, 3, 4))
    // 3-D positions: z ignored in bounds, like shapely xy bounds
    assert(b("""{"type":"Point","coordinates":[10,20,99]}""") ==
      (10, 20, 10, 20))
  }

  test("wgs84 bounds check (ets.py:250-253)") {
    def ok(g: String): Boolean =
      positions(g).select(EtsRules.boundsInWgs84(
          GeoBounds.boundsColumn(col("pos"))))
        .as[Boolean].head()
    assert(ok("""{"type":"Point","coordinates":[-180,-90]}"""))
    assert(!ok("""{"type":"Point","coordinates":[-242,28]}"""))
    assert(!ok("""{"type":"Point","coordinates":[0,91]}"""))
  }

  test("spell tokens skip numerics and find vendored-dictionary misses") {
    val mis = Seq("Surface weather observations 30 days",
                  "Surface wether observations")
      .toDF("s").select(Wcmp2Reference.misspelled(col("s")))
      .as[Seq[String]].collect()
    assert(mis(0) == Seq())
    assert(mis(1) == Seq("wether"))
  }

  test("interval scoring is string-lexicographic like the reference " +
       "(kpi.py:260)") {
    // begin <= end as STRINGS: '2010-...' <= '2009-...' is false
    val r = graft.sources.RecordTable
    val base = r.fixtureContent("wcmp2-passing.json")
    val flipped = base.replace("\"2010-11-11T11:11:11Z\",\n            \"..\"",
      "\"2010-11-11T11:11:11Z\",\n            \"2009-01-01T00:00:00Z\"")
    assert(flipped != base)
    val df = Seq(("r", "p", "c", "en", flipped))
      .toDF("repo", "path", "commit", "lang", "content")
    val v = graft.engine.Validator.validate(df)
      .select("kpi_summary.total", "kpi_summary.score").as[(Int, Int)].head()
    assert(v == (32, 31)) // one interval-order point lost
  }
}
