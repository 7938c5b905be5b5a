package graft.engine

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-trips the reference's `POST /api/translate` endpoint
  * (`api.py:43-45`) over the real socket: rule in, Result JSON out,
  * validation failure → 422 pydantic envelope, wrong method → 405.
  */
class ApiServerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  import spark.implicits._

  private def post(uri: String, body: String,
      timeout: java.time.Duration = java.time.Duration.ofMinutes(5)): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(uri)).timeout(timeout)
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  // same JSON body the reference endpoint takes (JSON is valid YAML)
  private val rule = """{"name": "person",
    |"primary_key": {"name": "person_id",
    |  "sources": {"p_pk": {"table": "p", "columns": {"id": "bigint"}}}},
    |"columns": [
    |  {"name": "year_of_birth", "tables": ["p"], "expression": "p.y"}]}""".stripMargin

  private val withSource: Engine => Unit =
    _.registerSource("cerner", "p", Seq((1L, 1980)).toDF("id", "y"))

  private def startWithSource() = ApiServer.start(spark, port = 0, configure = withSource)

  test("POST /api/translate: rule in, script + warnings out; 422 on invalid; 405 on GET") {
    val server = startWithSource()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/api/translate"
      val ok = post(s"$base?name=person", rule)
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("Content-Type").orElse("") == "application/json")
      assert(ok.body().contains("\"script\":"))
      assert(ok.body().contains("person: spine_select"))
      assert(ok.body().contains("person: column_update"))
      // structured warnings in the pydantic envelope shape
      assert(ok.body().contains("\"loc\":[\"body\",\"columns\"]"))
      assert(ok.body().contains("Column \\\"gender_concept_id\\\" is not defined"))
      assert(ok.body().contains("\"type\":\"value_error\""))

      // a document that is valid YAML but not a target table → 422
      val bad = post(base, """{"scripts": ["not a table rule"]}""")
      assert(bad.statusCode() == 422)
      assert(bad.body().contains("\"detail\""))
      assert(bad.body().contains("\"type\":\"value_error\""))

      // non-POST → 405
      val get = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(URI.create(base)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(get.statusCode() == 405)
    } finally server.stop(0)
  }

  test("the 200 body parses as JSON whose script is Api.translateTable's, newlines and quotes included") {
    val quoting = rule.replace("\"expression\": \"p.y\"",
      "\"expression\": \"p.y + length('it''s') - length(\\\"ab\\\")\"")
    val expected = Api.translateTable(spark, quoting, "person", configure = withSource).script
    assert(expected.contains("\n") && expected.contains("'it''s'") && expected.contains("\"ab\""))
    val server = startWithSource()
    try {
      val ok = post(s"http://localhost:${server.getAddress.getPort}/api/translate?name=person", quoting)
      assert(ok.statusCode() == 200)
      val body = new com.fasterxml.jackson.databind.ObjectMapper().readTree(ok.body())
      assert(body.get("script").asText() == expected)
    } finally server.stop(0)
  }

  test("binds loopback by default — not the wildcard address") {
    val server = ApiServer.start(spark, port = 0)
    try {
      assert(server.getAddress.getAddress.isLoopbackAddress)
      assert(!server.getAddress.getAddress.isAnyLocalAddress)
    } finally server.stop(0)
  }

  test("oversized request body -> 413 before translation runs") {
    val server = ApiServer.start(spark, port = 0)
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/api/translate"
      // HttpClient sends an accurate Content-Length for ofString, so a
      // body one byte over the cap exercises the pre-read rejection.
      // Bounded retry on IOException: rejecting an upload mid-send is
      // inherently racy at the TCP level (the server drains with a
      // liveness deadline; if box load stalls the send past it, the
      // close resets the connection before the client reads the 413 —
      // com.sun.net.httpserver exposes no lingering-close). One clean
      // response proves the contract; three consecutive resets fail.
      val r = Iterator.range(0, 3).map { i =>
        try Some(post(base, "x" * (ApiServer.MaxBodyBytes.toInt + 1)))
        catch { case _: java.io.IOException if i < 2 => Thread.sleep(200); None }
      }.collectFirst { case Some(resp) => resp }.get
      assert(r.statusCode() == 413)
      assert(r.body().contains("exceeds"))
    } finally server.stop(0)
  }

  /** Milliseconds a valid POST takes; bounded, so a server wedged behind
    * another client fails the case instead of hanging it.
    */
  private def timedPostMs(port: Int): Long = {
    val t0 = System.nanoTime()
    val r = post(s"http://localhost:$port/api/translate?name=person", rule,
      java.time.Duration.ofSeconds(30))
    assert(r.statusCode() == 200)
    (System.nanoTime() - t0) / 1000000L
  }

  /** How much longer a valid POST takes while another client holds a raw
    * connection that sent `head` and then, if `trickle`, sends a byte
    * every 300 ms.
    */
  private def delayBehind(head: String, trickle: Boolean): Long = {
    val server = startWithSource()
    try {
      val port = server.getAddress.getPort
      timedPostMs(port)
      val unloaded = timedPostMs(port)
      val sock = new java.net.Socket("localhost", port)
      val client = new Thread(() =>
        try {
          val out = sock.getOutputStream
          out.write(head.getBytes("UTF-8"))
          out.flush()
          while (trickle) { Thread.sleep(300); out.write('x'); out.flush() }
        } catch { case _: java.io.IOException | _: InterruptedException => () })
      client.setDaemon(true)
      client.start()
      try {
        Thread.sleep(600) // the slow exchange is now in the server
        timedPostMs(port) - unloaded
      } finally {
        sock.close()
        client.interrupt()
        client.join(5000)
      }
    } finally server.stop(0)
  }

  private val oversizedHead = s"POST /api/translate HTTP/1.1\r\nHost: localhost\r\n" +
    s"Content-Length: ${ApiServer.MaxBodyBytes + 1}\r\n\r\n"

  test("a client trickling an oversized body delays other requests by less than 4 s") {
    // declares a body over the cap, sends its headers alone and then a byte
    // every 300 ms: its exchange answers 413 and reads the trickle on its
    // own thread
    val delay = delayBehind(oversizedHead, trickle = true)
    assert(delay < 4000, s"a valid request waited $delay ms behind the trickling client")
  }

  test("a client stalled in its request line delays other requests by less than 4 s") {
    val delay = delayBehind("POST /api/translate HTTP/1.1\r\n", trickle = false)
    assert(delay < 4000, s"a valid request waited $delay ms behind the stalled client")
  }

  test("a client trickling an under-cap body delays other requests by less than 4 s") {
    // 20 declared bytes at one per 300 ms: 6 s of body reads
    val head = "POST /api/translate HTTP/1.1\r\nHost: localhost\r\nContent-Length: 20\r\n\r\n"
    val delay = delayBehind(head, trickle = true)
    assert(delay < 4000, s"a valid request waited $delay ms behind the trickling client")
  }

  test("an oversized request that sends only its headers reads 413 within 1 s") {
    val server = ApiServer.start(spark, port = 0)
    val sock = new java.net.Socket("localhost", server.getAddress.getPort)
    try {
      sock.setSoTimeout(5000) // a server that never answers fails the case
      val t0 = System.nanoTime()
      sock.getOutputStream.write(oversizedHead.getBytes("UTF-8"))
      sock.getOutputStream.flush()
      val status = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, "UTF-8")).readLine()
      val ms = (System.nanoTime() - t0) / 1000000L
      assert(status != null && status.startsWith("HTTP/1.1 413"), status)
      assert(ms < 1000, s"the 413 took $ms ms")
    } finally {
      sock.close()
      server.stop(0)
    }
  }

  test("four requests in flight at once each get the script a sequential translate gives") {
    val rules = (1 to 4).map(i => (s"person$i", rule.replace("\"p.y\"", s"\"p.y + $i\"")))
    val expected = rules.map { case (name, text) =>
      Api.translateTable(spark, text, name, configure = withSource).script }
    val server = startWithSource()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}/api/translate"
      val client = HttpClient.newHttpClient()
      val inFlight = rules.map { case (name, text) =>
        client.sendAsync(
          HttpRequest.newBuilder(URI.create(s"$base?name=$name"))
            .timeout(java.time.Duration.ofMinutes(5))
            .POST(HttpRequest.BodyPublishers.ofString(text)).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      inFlight.map(_.join()).zip(expected).zip(rules).foreach { case ((r, script), (name, _)) =>
        assert(r.statusCode() == 200, name)
        assert(mapper.readTree(r.body()).get("script").asText() == script, name)
      }
      assert(expected.distinct.size == 4)
    } finally server.stop(0)
  }

  test("start, request and stop(0) leave no live non-daemon thread behind") {
    import scala.jdk.CollectionConverters._
    def nonDaemon(): Set[Thread] =
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    def cycle(): Unit = {
      val server = startWithSource()
      try assert(post(s"http://localhost:${server.getAddress.getPort}/api/translate", rule)
        .statusCode() == 200)
      finally server.stop(0)
    }
    cycle() // whatever a first translation starts once is not a leak
    val before = nonDaemon()
    (1 to 3).foreach(_ => cycle())
    val leaked = nonDaemon() -- before
    assert(leaked.isEmpty, s"threads left alive: ${leaked.map(_.getName).mkString(", ")}")
  }
}
