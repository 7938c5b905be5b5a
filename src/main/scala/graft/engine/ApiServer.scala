package graft.engine

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8

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
  * Concurrency: requests are serialized on a single-thread executor —
  * translation registers temp views in the one shared SparkSession, so
  * concurrent translates could observe each other's views. Translation is
  * driver-side plan construction plus the spine's count job; it holds no
  * cluster resources between requests.
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
    server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor())
    server.start()
    server
  }

  private def handle(ex: HttpExchange, spark: SparkSession,
      udfs: Map[String, SparkSession => Unit], configure: Engine => Unit): Unit = {
    var rejected = false // a rejected exchange is answered and closed by `reject`
    try {
      val contentLength =
        Option(ex.getRequestHeaders.getFirst("Content-Length")).flatMap(_.toLongOption)
      if (ex.getRequestMethod != "POST") { respond(ex, 405, errJson("method not allowed, POST a rule document")) }
      else if (contentLength.exists(_ > MaxBodyBytes)) {
        // Drain (bounded) BEFORE responding: writing the 413 while the
        // client is still streaming its body makes com.sun.net.httpserver
        // reset the connection, and the client may never read the response
        // (observed as a flaky oversized-body test under full-suite load).
        // nothing read yet: allow the full deadline for the first byte of
        // a slow-starting client before idle-bailing (bytesFlowed = false)
        drain(ex, contentLength.get, bytesFlowed = false)
        rejected = true
        reject(ex)
      } else {
        // readNBytes caps chunked/unstated-length bodies at the same bound
        val raw = ex.getRequestBody.readNBytes(MaxBodyBytes.toInt + 1)
        if (raw.length > MaxBodyBytes) {
          // the stream already produced MaxBodyBytes+1 bytes (and may be
          // exhausted): idle-bail applies immediately, don't park 2 s
          drain(ex, DrainCapBytes, bytesFlowed = true)
          rejected = true
          reject(ex)
        }
        else {
        val body = new String(raw, UTF_8)
        // URL-decode like the FastAPI reference (name=my%20rule must not
        // become a literal "my%20rule" in view names and script comments)
        val name = Option(ex.getRequestURI.getQuery)
          .flatMap(_.split("&").collectFirst {
            case kv if kv.startsWith("name=") =>
              java.net.URLDecoder.decode(kv.substring(5), UTF_8)
          }).getOrElse("rule")
        try {
          val res = Api.translateTable(spark, body, name, udfs, configure)
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
      }
    } finally if (!rejected) ex.close()
  }

  /** Answer 413 and close the exchange on [[closer]], off the translate
    * thread: closing makes the JDK server read up to 64 KB more of the
    * unread body with a blocking read, so a client trickling its body would
    * otherwise hold the single translate thread far past
    * [[DrainDeadlineMs]] — for as long as it keeps the connection open.
    */
  private def reject(ex: HttpExchange): Unit =
    closer.execute { () =>
      try respond(ex, 413, errJson(s"request body exceeds $MaxBodyBytes bytes"))
      catch { case _: java.io.IOException => () } // the client already hung up
      finally ex.close()
    }

  private lazy val closer = java.util.concurrent.Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-api-close")
    t.setDaemon(true)
    t
  }

  /** How much of an oversized body the server is willing to read to keep
    * the connection coherent. Beyond this the response is sent anyway and
    * the exchange closed — a deliberately hostile multi-GB body should not
    * buy unbounded server reads.
    */
  private val DrainCapBytes: Long = 4L * MaxBodyBytes

  /** How long the server will spend draining before answering anyway. The
    * server runs a single-thread executor, so every queued request waits
    * out this drain: a client that sends an oversized request's headers
    * and then trickles its body stalls all others for the whole deadline
    * (the drain polls only bytes already buffered, so it sees none and
    * [[DrainIdleMs]] never starts), and no longer ([[reject]] closes
    * off-thread). A fast local client finishes well inside it; one still
    * mid-send under load may see its connection reset instead of reading
    * the 413, which the client must retry (the oversized-body spec does).
    */
  private val DrainDeadlineMs: Long = 2000L

  /** How long the server keeps polling an empty stream before concluding
    * no more bytes are coming. The drain exists to let a FAST client
    * finish its in-flight send (the 413 connection-reset flake); a stream
    * empty for this long is finished (body ended short of the drain
    * target — chunked bodies drain toward a synthetic cap; a lying
    * Content-Length under-delivers; the stream may even be at EOF
    * already), aborted, or stalled, and in every case the single-thread
    * server must answer rather than park: one wedged exchange delays all
    * queued clients, so bounded liveness beats indulging a client that
    * pauses longer than this mid-send. The window is a compromise forced
    * by com.sun.net.httpserver exposing no socket timeout — a blocking
    * read could park the server forever, so EOF cannot be probed safely.
    * The bail applies once bytes HAVE flowed — through this drain or
    * through the caller's own reads (`bytesFlowed`): an already-consumed,
    * possibly-exhausted stream must bail promptly, not sleep out the full
    * deadline, while a client whose FIRST body byte is still in flight
    * (slow start, long RTT) gets the whole [[DrainDeadlineMs]] — bailing
    * early on it is what caused the original RST-instead-of-413 flake.
    */
  private val DrainIdleMs: Long = 500L

  /** Consume (discard) up to `min(declared, DrainCapBytes)` request-body
    * bytes so the client finishes its send before we answer — but only
    * while bytes keep arriving: [[DrainIdleMs]] of consecutive empty polls
    * after bytes have flowed (here, or before the call — `bytesFlowed`)
    * ends the drain, and [[DrainDeadlineMs]] bounds the whole affair so a
    * trickling or never-starting client can't wedge the single-thread
    * server.
    */
  private def drain(ex: HttpExchange, declared: Long, bytesFlowed: Boolean): Unit = {
    val in = ex.getRequestBody
    var remaining = math.min(declared, DrainCapBytes)
    val deadline = System.nanoTime() + DrainDeadlineMs * 1000000L
    var idleSince = System.nanoTime()
    var readAny = bytesFlowed
    val buf = new Array[Byte](64 * 1024)
    while (remaining > 0 && System.nanoTime() < deadline) {
      val avail = in.available()
      if (avail > 0) {
        val n = in.read(buf, 0, math.min(math.min(avail.toLong, remaining), buf.length.toLong).toInt)
        if (n < 0) return
        remaining -= n
        readAny = true
        idleSince = System.nanoTime()
      } else {
        // Nothing buffered: poll briefly instead of parking in a blocking
        // read with no timeout (com.sun.net.httpserver offers none), and
        // stop once bytes have flowed and the stream has been quiet long
        // enough that no more are coming.
        if (readAny && System.nanoTime() - idleSince >= DrainIdleMs * 1000000L) return
        Thread.sleep(5)
      }
    }
  }

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
