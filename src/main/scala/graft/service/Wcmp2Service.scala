package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import org.apache.spark.sql.SparkSession

import graft.engine.CompiledCatalog

/** HTTP service surface — the analog of the reference's pygeoapi process
  * plugin (`/root/reference/pywcmp/pygeoapi_plugin.py:193-261`), which
  * exposes ETS validation and KPI evaluation as OGC API - Processes
  * endpoints:
  *
  *   - `GET  /processes`                      — process list
  *   - `GET  /processes/{id}`                 — process description
  *   - `POST /processes/{id}/execution`       — synchronous execution,
  *     body `{"inputs": {"record": <WCMP2 doc or JSON string>, ...}}`
  *
  * Process semantics mirrored from the reference:
  *   - `pywcmp-wis2-wcmp2-ets` (`pygeoapi_plugin.py:207-223`): inputs
  *     `record` (required) + `fail_on_schema_validation` (default true,
  *     `pygeoapi_plugin.py:109-120,212`). A gate failure under the flag
  *     maps the reference's ValueError (`wcmp2/ets.py:96-101`) to an
  *     error response carrying the same message text; with the flag off
  *     the full ETS report is returned.
  *   - `pywcmp-wis2-wcmp2-kpi` (`pygeoapi_plugin.py:243-258`): input
  *     `record` only. NOTE the reference plugin calls `kpis.evaluate()`
  *     directly — the KPI process is NOT ETS-gated (unlike the KPI CLI,
  *     `kpi.py:81-87`); reproduced here by skipping
  *     [[graft.engine.Reports.withEtsGate]].
  *   - a missing `record` input raises ProcessorExecuteError "Missing
  *     record" (`pygeoapi_plugin.py:214-217,249-252`) → 400 here.
  *
  * The HTTP status codes (400/404/405/500) are this engine's choice — the
  * reference delegates them to pygeoapi — but every message string a
  * client can observe comes from the reference.
  *
  * Execution evaluates a [[CompiledCatalog]], planned and compiled once
  * when the service starts: each POST is one SQL execution that the
  * optimizer folds on the driver (no Spark job, no per-request analysis of
  * the catalog plan). The catalog is the exact [[graft.engine.Validator]]
  * table catalog, so answers are byte-identical to
  * [[graft.engine.Reports.validateOne]] and to batch answers at any scale.
  * The embedded server is the JDK's `com.sun.net.httpserver` on a 4-thread
  * pool; requests plan concurrently and evaluate one at a time.
  */
object Wcmp2Service {

  val EtsProcessId = "pywcmp-wis2-wcmp2-ets"
  val KpiProcessId = "pywcmp-wis2-wcmp2-kpi"

  private val mapper = new ObjectMapper()

  final case class Response(status: Int, body: String)

  // ---------------------------------------------------------------- descr

  /** Process description JSON by process id (compact mirror of
    * PROCESS_WCMP2_ETS / PROCESS_WCMP2_KPI, `pygeoapi_plugin.py:80-190`;
    * output report schemas are referenced by id rather than inlined). */
  private val describe: Map[String, String] = {
    def description(id: String, suite: String, title: String, desc: String,
                    extraInput: String): String =
      s"""{"version":"0.1.0","id":"$id","title":{"en":"$title"},""" +
        s""""description":{"en":"$desc"},""" +
        s""""keywords":["wis2","wcmp2","$suite","test suite","metadata"],""" +
        """"links":[{"type":"text/html","rel":"about","title":"information",""" +
        """"href":"https://wmo-im.github.io/wcmp2","hreflang":"en-US"}],""" +
        """"jobControlOptions":["sync-execute"],""" +
        """"inputs":{"record":{"title":"WCMP2 record",""" +
        """"description":"WCMP2 record","schema":{"type":"string"},""" +
        s""""minOccurs":1,"maxOccurs":1}$extraInput},""" +
        """"outputs":{"result":{"title":"Report of results",""" +
        """"schema":{"contentMediaType":"application/json"}}}}"""
    Map(
      EtsProcessId -> description(EtsProcessId, "ets", "WCMP2 ETS validator",
        "Validate a WCMP2 document against the ETS",
        ""","fail_on_schema_validation":{
          |"title":"Fail on schema validation",
          |"description":"Stop the ETS on failing schema validation",
          |"schema":{"type":"boolean","default":true},
          |"minOccurs":0,"maxOccurs":1}""".stripMargin.replace("\n", "")),
      KpiProcessId -> description(KpiProcessId, "kpi", "WCMP2 KPI evaluator",
        "Validate a WCMP2 document against the KPI suite", ""))
  }

  private val processList: String =
    s"""{"processes":[${describe(EtsProcessId)},${describe(KpiProcessId)}],""" +
      """"links":[]}"""

  private val landing: String =
    """{"title":"graft-wcmp2spark validation service",""" +
      """"description":"WCMP2 ETS validation and KPI evaluation """ +
      """(OGC API - Processes shaped)",""" +
      """"links":[{"rel":"processes","href":"/processes"}]}"""

  private def error(status: Int, code: String, description: String): Response =
    Response(status, s"""{"code":"$code","description":${quote(description)}}""")

  private def quote(s: String): String = mapper.writeValueAsString(s)

  // ---------------------------------------------------------------- exec

  /** Extract the `record` input: the reference accepts the parsed WCMP2
    * document itself (pygeoapi hands `execute` the deserialized object);
    * a JSON-string-encoded document is accepted too (the declared input
    * schema is `{"type":"string"}`, `pygeoapi_plugin.py:100-103`). */
  private def recordInput(inputs: JsonNode): Option[String] = {
    val node = inputs.path("record")
    if (node.isMissingNode || node.isNull) None
    else if (node.isTextual) Some(node.asText)
    else Some(mapper.writeValueAsString(node))
  }

  /** ETS (`pygeoapi_plugin.py:207-223`) or ungated KPI
    * (`pygeoapi_plugin.py:243-258`) execution: one evaluation of the
    * compiled catalog answers either process. */
  private def execute(catalog: CompiledCatalog, spark: SparkSession,
                      processId: String, body: String,
                      runDatetime: String): Response = {
    val root =
      try mapper.readTree(body)
      catch { case _: Exception =>
        return error(400, "InvalidParameterValue",
          "Invalid execution request: body is not valid JSON") }
    val inputs = root.path("inputs")
    recordInput(inputs) match {
      case None => error(400, "MissingParameterValue", "Missing record")
      case Some(_) if !describe.contains(processId) =>
        error(404, "NoSuchProcess", s"No such process: $processId")
      case Some(record) =>
        val r = catalog.run(spark, record, runDatetime)
        if (!r.parseOk)
          error(400, "InvalidParameterValue",
            "Encoding error: record is not valid JSON")
        else if (processId == KpiProcessId) Response(200, r.kpi)
        else if (r.gate == "FAILED" &&
                 inputs.path("fail_on_schema_validation").asBoolean(true))
          // the reference raises ValueError here (`wcmp2/ets.py:96-101`)
          error(500, "ProcessorExecuteError",
            "Record fails WCMP2 validation. Stopping ETS " +
              s"errors: [${r.gateErrors}]")
        else Response(200, r.ets)
    }
  }

  // ---------------------------------------------------------------- http

  /** Start the service over a built `catalog`. `port` 0 binds an
    * ephemeral port (tests); read the bound port from
    * `server.getAddress.getPort`. `runDatetime` empty = stamp reports with
    * the wall clock per request (production); a fixed value makes
    * responses fully deterministic (tests). */
  def start(spark: SparkSession, port: Int, catalog: CompiledCatalog,
            runDatetime: String = ""): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp =
          try route(catalog, spark, ex, runDatetime)
          catch { case e: Exception =>
            error(500, "ProcessorExecuteError", String.valueOf(e.getMessage)) }
        val bytes = resp.body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(resp.status, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    server.start()
    server
  }

  private val execRe = "/processes/([^/]+)/execution".r

  private def route(catalog: CompiledCatalog, spark: SparkSession,
                    ex: HttpExchange, runDatetime: String): Response = {
    val path = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    val method = ex.getRequestMethod
    (method, path) match {
      case ("GET", "/") => Response(200, landing)
      case ("GET", "/processes") => Response(200, processList)
      case ("GET", s"/processes/$id") if describe.contains(id) =>
        Response(200, describe(id))
      case ("GET", s"/processes/$id") =>
        error(404, "NoSuchProcess", s"No such process: $id")
      case ("POST", execRe(id)) =>
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val dt = if (runDatetime.nonEmpty) runDatetime
                 else java.time.Instant.now().toString
        execute(catalog, spark, id, body, dt)
      case ("POST", _) => error(404, "NotFound", s"No such endpoint: $path")
      case (_, _) =>
        error(405, "MethodNotAllowed", s"$method not allowed on $path")
    }
  }

  /** `java -cp ... graft.service.Wcmp2Service [--port 5001]` */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val port = opts.getOrElse("port", "5001").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-wcmp2-service")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // plans and compiles the catalog before the port opens
    val server = start(spark, port, CompiledCatalog.build(spark))
    println(s"[graft] wcmp2 service listening on " +
      s"http://localhost:${server.getAddress.getPort}/processes")
    new java.util.concurrent.CountDownLatch(1).await()
  }
}
