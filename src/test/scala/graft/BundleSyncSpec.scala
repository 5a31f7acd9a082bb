package graft

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BundleSync
import graft.dims.Dims

/** S6 bundle refresh: the `pywcmp bundle sync` analog driven end-to-end
  * against a loopback HTTP server (the production java.net transport —
  * zero egress), then loaded back through the dims-dir override. */
class BundleSyncSpec extends AnyFunSuite with TempDirs {

  private def zipBytes(entries: (String, String)*): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    val z = new ZipOutputStream(baos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      if (!name.endsWith("/")) z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    baos.toByteArray
  }

  test("sync fetches schema + codelist/topic zips + IANA csv into a dims " +
       "dir the engine loads via the override; per-artifact failures " +
       "don't void the rest") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler}
    val server = graft.service.HttpServers.create(
      new java.net.InetSocketAddress("127.0.0.1", 0))
    def serve(path: String, body: Array[Byte], status: Int = 200): Unit =
      server.createContext(path, new HttpHandler {
        def handle(x: HttpExchange): Unit = {
          x.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length)
          if (body.nonEmpty) x.getResponseBody.write(body)
          x.close()
        }
      })
    val schema = """{"$id":"wcmp2-bundled","type":"object"}"""
    // codelists zip mirrors the GitHub archive layout (nested dirs, a
    // non-csv file to be skipped, a directory entry with empty basename)
    val codelistsZip = zipBytes(
      "wcmp2-codelists-main/" -> "",
      "wcmp2-codelists-main/codelists/centre-id.csv" ->
        "ca-eccc-msc,Canada\nde-dwd,Germany\n",
      "wcmp2-codelists-main/codelists/resource-type.csv" -> "dataset,\n",
      "wcmp2-codelists-main/README.md" -> "not a codelist")
    val topicsZip = zipBytes(
      "sub-discipline.csv" -> "weather/aviation/metar\nocean/x/y\n",
      "channel.csv" -> "data\nmetadata\n")
    serve("/schema.json", schema.getBytes("UTF-8"))
    serve("/codelists.zip", codelistsZip)
    serve("/topics.zip", topicsZip)
    serve("/iana.csv", "about,About\nitem,Item\n".getBytes("UTF-8"))
    serve("/missing.zip", Array.empty, 404)
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val dest = tempDir("bundle-sync").toFile
    try {
      val r = BundleSync.sync(dest, BundleSync.Sources(
        schemaUrl = s"$base/schema.json",
        codelistsZipUrl = s"$base/codelists.zip",
        topicsZipUrl = s"$base/topics.zip",
        ianaUrl = s"$base/iana.csv"))
      assert(r.errors.isEmpty)
      assert(r.files.toSet == Set("wcmp2-bundled.json", "centre-id.csv",
        "resource-type.csv", "sub-discipline.csv", "channel.csv",
        "link-relations-1.csv"))
      assert(Files.readString(
        new java.io.File(dest, "wcmp2-bundled.json").toPath) == schema)
      assert(Files.readString(
        new java.io.File(dest, "centre-id.csv").toPath)
        .startsWith("ca-eccc-msc"))

      // the synced dir IS a dims dir: the topic table loads through the
      // deployment override
      System.setProperty(Dims.DimsDirProperty, dest.getAbsolutePath)
      try {
        val t = Dims.subDisciplineTable()
        assert(t.exists(_.contains("weather/aviation/metar")))
        assert(t.exists(_.contains("ocean/x")))
      } finally System.clearProperty(Dims.DimsDirProperty)

      // one dead source -> error recorded, everything else still synced
      val dest2 = tempDir("bundle-sync2").toFile
      val r2 = BundleSync.sync(dest2, BundleSync.Sources(
        schemaUrl = s"$base/schema.json",
        codelistsZipUrl = s"$base/missing.zip",
        topicsZipUrl = s"$base/topics.zip",
        ianaUrl = s"$base/iana.csv"))
      assert(r2.errors.size == 1 && r2.errors.head.startsWith("codelists:"))
      assert(r2.files.contains("wcmp2-bundled.json"))
      assert(r2.files.contains("sub-discipline.csv"))

      // a 308 redirect (not auto-followed by HttpURLConnection) is
      // followed manually instead of writing the redirect body as the
      // artifact; the 404 above already pins the non-2xx error path
      server.createContext("/moved",
        new com.sun.net.httpserver.HttpHandler {
          def handle(x: com.sun.net.httpserver.HttpExchange): Unit = {
            x.getResponseHeaders.add("Location", "/schema.json")
            x.sendResponseHeaders(308, -1)
            x.close()
          }
        })
      val dest3 = tempDir("bundle-sync3").toFile
      val r3 = BundleSync.sync(dest3, BundleSync.Sources(
        schemaUrl = s"$base/moved",
        codelistsZipUrl = s"$base/codelists.zip",
        topicsZipUrl = s"$base/topics.zip",
        ianaUrl = s"$base/iana.csv"))
      assert(r3.errors.isEmpty)
      assert(Files.readString(
        new java.io.File(dest3, "wcmp2-bundled.json").toPath) == schema)
    } finally server.stop(0)
  }

  test("zip entries inflate under a decompression-bomb cap: an entry " +
       "exceeding the cap throws instead of buffering unbounded") {
    val bytes = zipBytes("big.csv" -> ("x" * 200000), "ok.csv" -> "a,b")
    val z = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val e1 = z.getNextEntry
    assert(e1.getName == "big.csv")
    val ex = intercept[java.io.IOException] {
      BundleSync.readCapped(z, e1.getName, cap = 100000)
    }
    assert(ex.getMessage.contains("bomb cap"))
    z.closeEntry()
    // under the cap reads fully
    val e2 = z.getNextEntry
    assert(new String(BundleSync.readCapped(z, e2.getName, cap = 100000),
      "UTF-8") == "a,b")
    z.close()
  }
}
