package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine.Validator
import graft.sources.{RecordTable, UrlSource}

/** S2 URL scan: the PRODUCTION transport (JavaNetFetcher) driven over
  * file:// URLs (same java.net code path as http://; this sandbox has no
  * egress). Fetched tables flow straight into the validator; fetch
  * failures become rows, not exceptions. */
class UrlSourceSpec extends SparkSpec with TempDirs {

  test("fetchTable: production fetcher over file:// URLs -> records " +
       "table -> full validation") {
    val dir = tempDir("urlsrc")
    val names = Seq("wcmp2-passing.json", "wcmp2-failing.json")
    val urls = names.map { n =>
      val f = dir.resolve(n)
      Files.writeString(f, RecordTable.fixtureContent(n))
      f.toUri.toString // file:///...
    } :+ dir.resolve("missing.json").toUri.toString

    val fetched = UrlSource.fetchTable(spark, urls)
    assert(fetched.columns.toSeq == Seq("repo", "path", "commit", "lang",
      "content", "fetch_error"))
    val rows = fetched.collect().map(r =>
      r.getString(1).split('/').last -> r).toMap
    assert(rows.size == 3)
    assert(rows("missing.json").getString(5) != null)   // fetch_error set
    assert(rows("missing.json").isNullAt(4))            // no content
    assert(rows("wcmp2-passing.json").isNullAt(5))
    assert(rows("wcmp2-passing.json").getString(4)
      .contains("urn:wmo:md:ca-eccc-msc"))

    // straight into the engine: fetched records validate identically to
    // the classpath fixtures; the failed fetch surfaces as a parse_error
    val validated = Validator.validate(fetched.drop("fetch_error"))
    val byPath = validated
      .select(col("path"), col("parse_ok"),
        col("ets_summary.FAILED").as("failed")).collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getBoolean(1), if (r.isNullAt(2)) -1 else r.getInt(2))).toMap
    assert(byPath("wcmp2-passing.json") == ((true, 0)))
    assert(byPath("wcmp2-failing.json") == ((true, 3)))
    assert(byPath("missing.json") == ((false, -1)))
  }

  test("invalid URL syntax becomes a fetch_error row, not an exception") {
    val fetched = UrlSource.fetchTable(spark,
      Seq("not a url at all", "unknown-scheme://x/y"))
    val errs = fetched.select("fetch_error").collect().map(_.getString(0))
    assert(errs.length == 2 && errs.forall(_ != null))
  }

  test("probe parity with check_url: HEAD-hostile servers fall back to " +
       "GET; redirects are judged on the FINAL response's status < 300") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler}
    val server = graft.service.HttpServers.create(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    def ctx(path: String)(f: HttpExchange => Unit): Unit =
      server.createContext(path, new HttpHandler {
        def handle(x: HttpExchange): Unit = { f(x); x.close() }
      })
    // 405s every HEAD (common in the wild); GET succeeds. The reference
    // only ever GETs, so this URL must score accessible.
    ctx("/head-hostile") { x =>
      if (x.getRequestMethod == "HEAD") x.sendResponseHeaders(405, -1)
      else {
        x.getResponseHeaders.add("Content-Type", "application/json")
        x.sendResponseHeaders(200, -1)
      }
    }
    ctx("/redir-ok") { x =>
      x.getResponseHeaders.add("Location", "/ok")
      x.sendResponseHeaders(302, -1)
    }
    ctx("/ok") { x =>
      x.getResponseHeaders.add("Content-Type", "text/plain")
      x.sendResponseHeaders(200, -1)
    }
    ctx("/redir-bad") { x =>
      x.getResponseHeaders.add("Location", "/gone")
      x.sendResponseHeaders(302, -1)
    }
    ctx("/gone")(x => x.sendResponseHeaders(404, -1))
    // auto-followed hop moves the path (/a/old -> /b/new), then /b/new
    // answers 308 (which HttpURLConnection does NOT auto-follow) with a
    // RELATIVE Location — the manual follow must resolve it against the
    // connection's final URL (/b/new), not the original request (/a/old)
    ctx("/a/old") { x =>
      x.getResponseHeaders.add("Location", "/b/new")
      x.sendResponseHeaders(302, -1)
    }
    ctx("/b/new") { x =>
      x.getResponseHeaders.add("Location", "final.json")
      x.sendResponseHeaders(308, -1)
    }
    ctx("/b/final.json") { x =>
      x.getResponseHeaders.add("Content-Type", "application/geo+json")
      x.sendResponseHeaders(200, -1)
    }
    ctx("/a/final.json")(x => x.sendResponseHeaders(404, -1))
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      val p = UrlSource.JavaNetProber()
      assert(p.probe(s"$base/head-hostile") == ((true, "application/json")))
      assert(p.probe(s"$base/redir-ok") == ((true, "text/plain")))
      assert(p.probe(s"$base/redir-bad")._1 == false)
      assert(p.probe(s"$base/a/old") == ((true, "application/geo+json")))
    } finally server.stop(0)
  }

  test("production link probe: real HTTP HEAD fetches (loopback server) " +
       "build the probe dim; MapLinkProbe drives K4/K5 scores end-to-end") {
    import spark.implicits._
    import com.sun.net.httpserver.{HttpExchange, HttpHandler}
    // loopback HTTP server — the probe runs the PRODUCTION java.net
    // HTTP(S) code path, zero egress
    val server = graft.service.HttpServers.create(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    def serve(path: String, status: Int, ctype: String): Unit =
      server.createContext(path, new HttpHandler {
        def handle(x: HttpExchange): Unit = {
          if (ctype != null)
            x.getResponseHeaders.add("Content-Type", ctype)
          x.sendResponseHeaders(status, -1)
          x.close()
        }
      })
    serve("/preview.png", 200, "image/png")
    serve("/data.html", 200, "text/html; charset=utf-8")
    serve("/missing", 404, null)
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    try {
      // 1. probe dimension from live HEAD fetches
      val probeDf = UrlSource.probeTable(Seq(
        s"$base/preview.png", s"$base/data.html", s"$base/missing",
        "http://127.0.0.1:1/conn-refused").toDS())
      assert(probeDf.columns.toSeq == Seq("href", "accessible", "mime"))
      val m = probeDf.collect().map(r => r.getString(0) ->
        (r.getBoolean(1), r.getString(2))).toMap
      assert(m(s"$base/preview.png") == ((true, "image/png")))
      assert(m(s"$base/data.html") == ((true, "text/html"))) // params stripped
      assert(m(s"$base/missing")._1 == false)
      assert(m("http://127.0.0.1:1/conn-refused") == ((false, null)))

      // 2. the probed dim feeds the K4/K5 seam: scores reflect REAL
      // accessibility, not the offline stub's all-true
      val record =
        s"""{"id":"urn:wmo:md:de-dwd:x","conformsTo":
           |["http://wis.wmo.int/spec/wcmp/2/conf/core"],"type":"Feature",
           |"time":null,"geometry":null,
           |"properties":{"title":"t","description":"d","type":"dataset",
           |"created":"2024-01-01T00:00:00Z","wmo:dataPolicy":"core",
           |"contacts":[{"organization":"c","roles":["host"]}],
           |"themes":[{"concepts":[{"id":"weather"}],
           |"scheme":"https://codes.wmo.int/earth-system-discipline"}]},
           |"links":[
           |{"rel":"preview","href":"$base/preview.png","type":"image/png"},
           |{"rel":"items","href":"$base/data.html","type":"text/html"},
           |{"rel":"related","href":"$base/missing","type":"text/html"}]}"""
          .stripMargin.replace("\n", "")
      val df = Seq(("r", "p", "c", "en", record))
        .toDF("repo", "path", "commit", "lang", "content")
      val probe = graft.catalog.MapLinkProbe.fromTable(probeDf)
      val kpis = Validator.validate(df, probe)
        .select(explode(col("kpi_tests")).as("t"))
        .select(col("t.id"), col("t.score"), col("t.total")).collect()
        .map(r => r.getString(0).split('/').last ->
          (r.getInt(1), r.getInt(2))).toMap
      // graphic_overview: 1 preview link -> found + web-image mime
      // (declared AND probed) + accessible = 3/3
      assert(kpis("graphic_overview_for_metadata_records") == ((3, 3)))
      // links_health pool: 3 record links + the theme scheme URL = 4
      // (total 8); accessible: png + html (scheme/missing fail) = 2;
      // mime: 3 declared types valid, scheme probes to nothing = 3
      assert(kpis("links_health") == ((5, 8)))

      // 3. table-scale path: the same dim through recordLinkUrls +
      // linkHealthJoin
      val urls = graft.engine.DatasetRules.recordLinkUrls(df)
        .collect().toSet
      assert(urls == Set(s"$base/preview.png", s"$base/data.html",
        s"$base/missing",
        "https://codes.wmo.int/earth-system-discipline"))
      val health = graft.engine.DatasetRules
        .linkHealthJoin(df, probeDf).collect().head
      // the same K5 pool: 3 record links + the theme scheme, links_health
      // total 8 = 2 x 4 and score 5 = 2 accessible + 3 valid mimes
      assert(health.getLong(health.fieldIndex("n_http_links")) == 4)
      assert(health.getLong(health.fieldIndex("n_accessible")) == 2)
      assert(health.getLong(health.fieldIndex("n_valid_mime")) == 3)
    } finally server.stop(0)
  }
}
