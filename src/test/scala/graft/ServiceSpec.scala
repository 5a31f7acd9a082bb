package graft

import java.net.{HttpURLConnection, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.HttpServer
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll

import graft.service.{HttpServers, Wcmp2Service}
import graft.sources.RecordTable

/** End-to-end drive of the OGC API - Processes-shaped service
  * (`pygeoapi_plugin.py` analog) over a real HTTP socket. */
class ServiceSpec extends SparkSpec with BeforeAndAfterAll {

  private val started = scala.collection.mutable.ArrayBuffer.empty[HttpServer]
  private def serve(runDatetime: String): HttpServer = {
    val s = Wcmp2Service.start(port = 0, TestCatalog.compiled,
      runDatetime)
    started += s
    s
  }
  override def afterAll(): Unit = started.foreach(_.stop(0))

  private lazy val server = serve("2026-08-16T00:00:00Z")
  private def base = s"http://localhost:${server.getAddress.getPort}"

  private def http(method: String, path: String, body: String = null,
                   at: String = base): (Int, String) = {
    val conn = URI.create(at + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    conn.disconnect()
    (code, text)
  }

  private def execBody(fixture: String, extra: String = ""): String =
    s"""{"inputs":{"record":${RecordTable.fixtureContent(fixture)}$extra}}"""

  test("process list and descriptions are served") {
    val (code, body) = http("GET", "/processes")
    assert(code == 200)
    assert(body.contains("\"pywcmp-wis2-wcmp2-ets\""))
    assert(body.contains("\"pywcmp-wis2-wcmp2-kpi\""))

    val (dc, desc) = http("GET", "/processes/pywcmp-wis2-wcmp2-ets")
    assert(dc == 200)
    assert(desc.contains("\"fail_on_schema_validation\""))
    assert(desc.contains("\"record\""))

    assert(http("GET", "/processes/nope")._1 == 404)
    assert(http("GET", "/")._1 == 200)
  }

  test("ETS execution: passing record returns the full report (12 PASSED)") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-passing.json"))
    assert(code == 200)
    assert(body.contains("\"report_type\":\"ets\""))
    assert(body.contains("\"PASSED\":12"))
    assert(body.contains("\"FAILED\":0"))
    assert(body.contains("\"datetime\":\"2026-08-16T00:00:00Z\""))
    assert(body.contains(
      "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"))
  }

  test("ETS execution: schema-failing record aborts under the default " +
       "flag (reference ValueError, ets.py:96-101) and reports with " +
       "fail_on_schema_validation=false") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-failing.json"))
    assert(code == 500)
    assert(body.contains("Record fails WCMP2 validation. Stopping ETS"))

    val (c2, b2) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-failing.json", ""","fail_on_schema_validation":false"""))
    assert(c2 == 200)
    assert(b2.contains("\"FAILED\":3"))
  }

  test("KPI execution: passing record grades A (32/32) and is NOT " +
       "ETS-gated (plugin calls evaluate() directly)") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      execBody("wcmp2-passing.json"))
    assert(code == 200)
    assert(body.contains("\"report_type\":\"kpi\""))
    assert(body.contains("\"total\":32"))
    assert(body.contains("\"score\":32"))
    assert(body.contains("\"grade\":\"A\""))

    // the reference KPI *plugin* (unlike its CLI) runs ungated — a
    // schema-failing record still gets a KPI report
    val (c2, b2) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      execBody("wcmp2-failing.json"))
    assert(c2 == 200)
    assert(b2.contains("\"report_type\":\"kpi\""))
  }

  test("record input may arrive as a JSON-encoded string (declared " +
       "input schema type:string)") {
    val quoted = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().writeValueAsString(
        RecordTable.fixtureContent("wcmp2-passing.json"))
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      s"""{"inputs":{"record":$quoted}}""")
    assert(code == 200)
    assert(body.contains("\"PASSED\":12"))
  }

  test("error paths: missing record, bad JSON body, unknown process, " +
       "unparseable record") {
    val (mc, mb) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      """{"inputs":{}}""")
    assert(mc == 400 && mb.contains("Missing record"))

    assert(http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      "not json")._1 == 400)

    // the process id is looked up before the body is read
    for (body <- Seq("""{"inputs":{"record":{}}}""", "not json",
        """{"inputs":{}}""")) {
      val (nc, nb) = http("POST", "/processes/nope/execution", body)
      assert(nc == 404 && nb.contains("No such process: nope"), body)
    }

    val (ec, eb) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      """{"inputs":{"record":"definitely not json"}}""")
    assert(ec == 400 && eb.contains("Encoding error"))
  }

  private val EtsPath = "/processes/pywcmp-wis2-wcmp2-ets/execution"
  private val KpiPath = "/processes/pywcmp-wis2-wcmp2-kpi/execution"

  test("run datetime \"\" stamps each request with its own clock, in both " +
       "reports") {
    val live = s"http://localhost:${serve("").getAddress.getPort}"
    val mapper = new ObjectMapper()
    def stamped(path: String): (Instant, Instant, Instant) = {
      val before = Instant.now()
      val (code, body) = http("POST", path, execBody("wcmp2-passing.json"),
        at = live)
      val after = Instant.now()
      assert(code == 200)
      (before, Instant.parse(mapper.readTree(body).get("datetime").asText),
        after)
    }
    val (b1, d1, a1) = stamped(EtsPath)
    Thread.sleep(5)
    val (b2, d2, a2) = stamped(KpiPath)
    assert(!d1.isBefore(b1) && !d1.isAfter(a1), s"$b1 <= $d1 <= $a1")
    assert(!d2.isBefore(b2) && !d2.isAfter(a2), s"$b2 <= $d2 <= $a2")
    assert(d2.isAfter(d1))
  }

  /** Every fixture through every process variant. */
  private lazy val requests: Seq[(String, String)] =
    Seq("wcmp2-passing.json", "wcmp2-passing-test-centre-id.json",
      "wcmp2-failing.json", "wcmp2-failing-created-none.json",
      "wcmp2-failing-invalid-centre-id.json",
      "wcmp2-failing-invalid-geometry-range.json",
      "wcmp2-failing-invalid-identifier-empty.json",
      "wcmp2-failing-invalid-identifier-space.json",
      "wcmp2-failing-invalid-link-channel-wis2-topic.json").flatMap(f => Seq(
      EtsPath -> execBody(f),
      EtsPath -> execBody(f, ""","fail_on_schema_validation":false"""),
      KpiPath -> execBody(f))) :+
      (EtsPath -> """{"inputs":{"record":"definitely not json"}}""")

  test("4 concurrent clients x 500 POSTs return exactly the sequential " +
       "answers (the evaluator's shared buffers are locked)") {
    val sequential = requests.map { case (p, b) => http("POST", p, b) }
    assert(sequential.map(_._1).toSet == Set(200, 400, 500))
    val perClient = 500
    val right = new AtomicInteger
    val threads = (0 until 4).map { t =>
      new Thread(() => for (i <- 0 until perClient) {
        val k = (i * 7 + t * 3) % requests.size
        val (p, b) = requests(k)
        if (http("POST", p, b) == sequential(k)) right.incrementAndGet()
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(right.get == 4 * perClient)
  }

  test("back-to-back POSTs on one kept-alive connection answer without " +
       "the ~40 ms Nagle/delayed-ACK stall") {
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    val request = HttpRequest.newBuilder(URI.create(base + EtsPath))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(
        execBody("wcmp2-passing.json"))).build()
    def post(): Long = {
      val t0 = System.nanoTime()
      val r = client.send(request, HttpResponse.BodyHandlers.ofString())
      val ns = System.nanoTime() - t0
      assert(r.statusCode == 200 && r.body.contains("\"PASSED\":12"))
      ns
    }
    (0 until 10).foreach(_ => post()) // warm, open the connection
    val ms = Vector.fill(60)(post() / 1e6).sorted
    // a stalled response waits for the client's delayed ACK (>= 40 ms);
    // a warm evaluation takes a few ms
    assert(ms(ms.size / 2) < 20.0, s"sorted POST ms: $ms")
  }

  test("the server's pool threads are named daemons, so a stopped " +
       "server's idle pool keeps no JVM alive") {
    val s = Wcmp2Service.start(port = 0, TestCatalog.compiled,
      "2026-08-16T00:00:00Z")
    try assert(http("GET", "/processes",
      at = s"http://localhost:${s.getAddress.getPort}")._1 == 200)
    finally s.stop(0)
    val pool = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith(HttpServers.ThreadPrefix))
    assert(pool.nonEmpty)
    assert(pool.forall(_.isDaemon), pool.filterNot(_.isDaemon).map(_.getName))
  }

  test("each POST is exactly one SQL execution, planned to a local table " +
       "scan, and runs no Spark job") {
    server // started (and its catalog built) before listening
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val jobs = new AtomicInteger
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.add(qe)
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val posts = requests.take(3) ++ requests.takeRight(1)
      posts.foreach { case (p, b) => http("POST", p, b) }
      // no catalog execution for these
      http("GET", "/processes")
      http("POST", EtsPath, """{"inputs":{}}""")
      val deadline = System.nanoTime() + 30e9.toLong
      while (executions.size < posts.size && System.nanoTime() < deadline)
        Thread.sleep(20)
      Thread.sleep(500)
      assert(executions.size == posts.size)
      executions.forEach { qe =>
        assert(qe.executedPlan.isInstanceOf[LocalTableScanExec],
          qe.executedPlan.treeString)
      }
      assert(jobs.get == 0)
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  test("GET requests and POSTs that carry no record post no SQL execution") {
    server // started (and its catalog built) before listening
    val starts = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet()
        case _ =>
      }
    }
    def posted(): Int = {
      shims.drainListeners(spark.sparkContext)
      starts.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      for (p <- Seq("/", "/processes", s"/processes/${Wcmp2Service.EtsProcessId}",
          "/processes/nope"))
        http("GET", p)
      assert(http("POST", EtsPath, """{"inputs":{}}""")._1 == 400)
      assert(http("POST", KpiPath, """{"inputs":{"record":null}}""")._1 == 400)
      assert(http("POST", EtsPath, "not json")._1 == 400)
      assert(http("POST", "/processes/nope/execution",
        execBody("wcmp2-passing.json"))._1 == 404)
      assert(http("POST", "/nowhere", execBody("wcmp2-passing.json"))._1 == 404)
      assert(posted() == 0)
      // a POST that carries a record is one execution
      assert(http("POST", EtsPath, execBody("wcmp2-passing.json"))._1 == 200)
      assert(posted() == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
