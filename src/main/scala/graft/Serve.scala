package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import com.fasterxml.jackson.databind.ObjectMapper

/** HTTP surface — reference X2 parity (`function_app.py:12-35` HttpExample
  * health check, `:38-73` process-bronze-to-silver trigger) on the JDK's
  * built-in HttpServer: zero added dependencies, and the handler SEMANTICS
  * (routes, params, bodies, status codes) are the contract — the reference's
  * Azure Functions host is just its serving tier, replaced here by whatever
  * fronts the cluster.
  *
  * `runPipeline` is injected so the server composes with any trigger
  * (a real `Pipeline`, a test stub) without owning a SparkSession.
  */
class Serve(runPipeline: () => String) {

  private val mapper = new ObjectMapper
  private var server: HttpServer = _

  /** Start on `port` (0 = ephemeral); returns the bound port.
    *
    * The JDK server writes a response's headers and body as two segments.
    * With Nagle's algorithm on (its default), the body waits for the
    * client's delayed ACK of the headers, about 40 ms on Linux, on every
    * exchange that follows another on the same connection. So this turns
    * `TCP_NODELAY` on through `sun.net.httpserver.nodelay`. The JDK reads
    * that property once per JVM, when the first `HttpServer` is created, so
    * it holds for every server in a JVM whose first server is a `Serve`. */
  def start(port: Int = 0): Int = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api/HttpExample", (ex: HttpExchange) => health(ex))
    server.createContext("/api/process-bronze-to-silver", (ex: HttpExchange) => process(ex))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/plain"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Health check: personalized greeting when `name` arrives via query
    * string or JSON body, generic 200 otherwise (`function_app.py:12-35`). */
  private def health(ex: HttpExchange): Unit = {
    val fromQuery = Option(ex.getRequestURI.getQuery)
      .flatMap(_.split("&").collectFirst {
        case kv if kv.startsWith("name=") =>
          java.net.URLDecoder.decode(kv.drop(5), StandardCharsets.UTF_8)
      })
    val name = fromQuery.orElse {
      val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      try {
        val node = mapper.readTree(body)
        if (node != null && node.hasNonNull("name")) Some(node.get("name").asText) else None
      } catch { case _: Exception => None }
    }
    val msg = name match {
      case Some(n) => s"Hello, $n. This HTTP triggered function executed successfully."
      case None =>
        "This HTTP triggered function executed successfully. " +
          "Pass a name in the query string or in the request body for a personalized response."
    }
    respond(ex, 200, msg)
  }

  /** Pipeline trigger: 200 `{"status":"ok","outputs":…}` on success, 500
    * `{"status":"error","message":…}` on failure (`function_app.py:38-73`). */
  private def process(ex: HttpExchange): Unit =
    try {
      val outputs = runPipeline()
      respond(ex, 200, s"""{"status": "ok", "outputs": $outputs}""", "application/json")
    } catch {
      case e: Exception =>
        val msg = mapper.writeValueAsString(String.valueOf(e.getMessage))
        respond(ex, 500, s"""{"status": "error", "message": $msg}""", "application/json")
    }
}

/** Runner: serve a real Pipeline (X4-style CLI). */
object Serve {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: Serve <port> <base> <ingestDate>")
    val spark = Session.local()
    // `base` resolves as in Pipeline.main (the storage env contract)
    graft.io.Lake.applyStorageAuth(spark, sys.env)
    val pipe = new Pipeline(spark,
      graft.io.Lake.resolveBaseFromEnv(sys.env, args(1)), args(2))
    val port = new Serve(() => pipe.runBronzeToSilverAndGold()).start(args(0).toInt)
    println(s"""{"serving": $port}""")
    Thread.currentThread.join()
  }
}
