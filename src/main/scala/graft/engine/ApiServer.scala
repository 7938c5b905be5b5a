package graft.engine

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.DriverSession.jsonQuote
import graft.rules.RuleParser.RuleParseException

/** HTTP transport for [[Api]] — the reference serves `POST /api/translate`
  * over FastAPI (`api.py:43-45`, uvicorn); here the same endpoint rides the
  * JDK's built-in `com.sun.net.httpserver`, so the engine's web surface
  * costs zero extra dependencies. One rule document per request (YAML or
  * JSON body — JSON is valid YAML and matches the reference's object
  * model); the response is the reference's `Result` shape
  * (`api.py:14-17`): `{"script": …, "warnings": [{loc, msg, type}…]}`.
  * A body that fails target-table validation returns 422 with a
  * FastAPI-style `{"detail": […]}` envelope.
  *
  * Concurrency: every exchange runs on its own daemon thread of a cached
  * pool, so a slow or stalled client — one that trickles its body, or never
  * finishes its request line — blocks only its own thread, never another
  * request. Translation itself runs one at a time under one lock: it
  * registers temp views in the one shared SparkSession, so concurrent
  * translates could observe each other's views. Translation is driver-side
  * plan construction plus the spine's count job; it holds no cluster
  * resources between requests.
  */
object ApiServer {

  /** Largest accepted request body; a rule document is a few KB, so 10 MB is
    * generous. Oversized requests are rejected with 413 before any read —
    * the server runs Spark jobs per request, so unbounded bodies from the
    * network are a trivial resource exhaustion otherwise.
    */
  val MaxBodyBytes: Long = 10L * 1024 * 1024

  /** Start serving on `port` (0 = ephemeral; read the bound port off the
    * returned server). `configure` registers source tables per request,
    * exactly as [[Api.translateTable]] takes it. Binds loopback by default —
    * the reference's uvicorn default is 127.0.0.1 (`api.py`); pass `host`
    * explicitly to expose the service.
    */
  def start(
      spark: SparkSession,
      port: Int = 8000,
      udfs: Map[String, SparkSession => Unit] = Map.empty,
      configure: Engine => Unit = _ => (),
      host: InetAddress = InetAddress.getLoopbackAddress): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(host, port), 0)
    server.createContext("/api/translate", (ex: HttpExchange) => handle(ex, spark, udfs, configure))
    // daemon threads: HttpServer.stop never shuts its executor down, so a
    // stopped server must not leave a thread that keeps the JVM alive
    server.setExecutor(Executors.newCachedThreadPool { r =>
      val t = new Thread(r, "graft-api")
      t.setDaemon(true)
      t
    })
    server.start()
    server
  }

  /** Held around [[Api.translateTable]] only: body reads and responses run
    * on each exchange's own thread.
    */
  private val translating = new Object

  private def handle(ex: HttpExchange, spark: SparkSession,
      udfs: Map[String, SparkSession => Unit], configure: Engine => Unit): Unit =
    try {
      val contentLength =
        Option(ex.getRequestHeaders.getFirst("Content-Length")).flatMap(_.toLongOption)
      // readNBytes caps chunked/unstated-length bodies at the same bound
      lazy val raw = ex.getRequestBody.readNBytes(MaxBodyBytes.toInt + 1)
      if (ex.getRequestMethod != "POST") { respond(ex, 405, errJson("method not allowed, POST a rule document")) }
      else if (contentLength.exists(_ > MaxBodyBytes) || raw.length > MaxBodyBytes) {
        // answer before reading the rest, then discard it: the client that
        // is still sending then finishes its send and reads the 413 rather
        // than a connection reset. The reads block this exchange's thread
        // alone, for at most DrainCapBytes or until the client hangs up.
        respond(ex, 413, errJson(s"request body exceeds $MaxBodyBytes bytes"))
        ex.getResponseBody.flush()
        val buf = new Array[Byte](64 * 1024)
        Iterator.continually(ex.getRequestBody.read(buf)).takeWhile(_ >= 0)
          .scanLeft(0L)(_ + _).exists(_ >= DrainCapBytes)
      } else {
        val body = new String(raw, UTF_8)
        // URL-decode like the FastAPI reference (name=my%20rule must not
        // become a literal "my%20rule" in view names and script comments)
        val name = Option(ex.getRequestURI.getQuery)
          .flatMap(_.split("&").collectFirst {
            case kv if kv.startsWith("name=") =>
              java.net.URLDecoder.decode(kv.substring(5), UTF_8)
          }).getOrElse("rule")
        try {
          val res = translating.synchronized(Api.translateTable(spark, body, name, udfs, configure))
          val warnings = res.warnings.map(w =>
            s"""{"loc":${w.loc.map(jsonQuote).mkString("[", ",", "]")},"msg":${jsonQuote(w.msg)},"type":${jsonQuote(w.tpe)}}""")
          respond(ex, 200,
            s"""{"script":${jsonQuote(res.script)},"warnings":${warnings.mkString("[", ",", "]")}}""")
        } catch {
          // invalid rule document → FastAPI's RequestValidationError shape
          case e @ (_: RuleParseException | _: IllegalArgumentException) =>
            respond(ex, 422, errJson(e.getMessage))
          case e: Throwable =>
            respond(ex, 500, errJson(s"translation failed: ${e.getMessage}"))
        }
      }
    } finally ex.close()

  /** How much of an oversized body the server reads and discards after its
    * 413, to keep the connection coherent. Beyond this the exchange is
    * closed — a deliberately hostile multi-GB body should not buy
    * unbounded server reads.
    */
  private val DrainCapBytes: Long = 4L * MaxBodyBytes

  private def errJson(msg: String): String =
    s"""{"detail":[{"loc":["body"],"msg":${jsonQuote(msg)},"type":"value_error"}]}"""

  private def respond(ex: HttpExchange, status: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** Standalone server: `graft.engine.ApiServer <port> [host]` on a local
    * session (host defaults to loopback — pass 0.0.0.0 to expose).
    * Sources must be registered per deployment via [[start]]'s `configure`;
    * the bare main translates rules whose sources the session already has.
    */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8000)
    val host = args.lift(1).map(InetAddress.getByName).getOrElse(InetAddress.getLoopbackAddress)
    val server = start(Etl.session(), port, host = host)
    println(s"graft api listening on ${server.getAddress} (POST /api/translate)")
    Thread.currentThread.join()
  }
}
