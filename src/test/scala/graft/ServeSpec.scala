package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** X2 HTTP surface: health-check semantics and pipeline-trigger status
  * mapping, exercised over real HTTP on an ephemeral port. */
class ServeSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET.build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  test("health check greets by query param, JSON body, or generically") {
    val serve = new Serve(() => """{"unused": true}""")
    val port = serve.start()
    try {
      val byQuery = get(port, "/api/HttpExample?name=Ada")
      assert(byQuery.statusCode() == 200)
      assert(byQuery.body() == "Hello, Ada. This HTTP triggered function executed successfully.")

      val byBody = post(port, "/api/HttpExample", """{"name": "Grace"}""")
      assert(byBody.statusCode() == 200)
      assert(byBody.body() == "Hello, Grace. This HTTP triggered function executed successfully.")

      val generic = get(port, "/api/HttpExample")
      assert(generic.statusCode() == 200)
      assert(generic.body().startsWith("This HTTP triggered function executed successfully."))

      val badJson = post(port, "/api/HttpExample", "not json at all")
      assert(badJson.statusCode() == 200)
      assert(badJson.body().startsWith("This HTTP triggered function executed successfully."))
    } finally serve.stop()
  }

  test("back-to-back exchanges on one connection do not wait for a delayed ACK") {
    val serve = new Serve(() => """{"unused": true}""")
    val port = serve.start()
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/HttpExample")).GET.build()
    def ms(): Double = {
      val t0 = System.nanoTime()
      assert(http.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() == 200)
      (System.nanoTime() - t0) / 1e6
    }
    try {
      (1 to 5).foreach(_ => ms()) // connection and class loading
      val times = (1 to 20).map(_ => ms()).sorted
      val median = (times(9) + times(10)) / 2
      // with Nagle's algorithm on, each exchange waits ~40 ms for the ACK
      assert(median < 15, s"median $median ms of ${times.mkString(", ")}")
    } finally serve.stop()
  }

  test("pipeline trigger maps success to 200 ok-JSON and failure to 500 error-JSON") {
    val ok = new Serve(() => """{"silver": {"rows": 3}}""")
    val okPort = ok.start()
    try {
      val r = get(okPort, "/api/process-bronze-to-silver")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("") == "application/json")
      assert(r.body() == """{"status": "ok", "outputs": {"silver": {"rows": 3}}}""")
    } finally ok.stop()

    val boom = new Serve(() => throw new RuntimeException("lake \"unreachable\""))
    val boomPort = boom.start()
    try {
      val r = get(boomPort, "/api/process-bronze-to-silver")
      assert(r.statusCode() == 500)
      assert(r.body() == """{"status": "error", "message": "lake \"unreachable\""}""")
    } finally boom.stop()
  }

  test("a failing EP1 answers 500 with the message of the first failing output") {
    import PipelineSpec.{bronze, date, stageLake}
    val lake = stageLake()
    val special = bronze(lake, "special_education", "special_education2022-23.csv")
    Files.delete(special)
    val pipe = new Pipeline(spark, lake, date)
    val serve = new Serve(() => pipe.runBronzeToSilverAndGold())
    val port = serve.start()
    try {
      val r = post(port, "/api/process-bronze-to-silver", "")
      assert(r.statusCode() == 500)
      assert(r.body() ==
        s"""{"status": "error", "message": "File $special does not exist"}""")
    } finally serve.stop()
  }
}
