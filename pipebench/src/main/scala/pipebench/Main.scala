package pipebench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PipebenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, Serve}
import graft.clean.Silver
import graft.gold.Gold
import graft.io.{Lake, Readers}
import graft.queries.Viewer

/** One run of an ingest workload: a closed loop with one client, in this
  * JVM, over the bronze lake that `gen.py` wrote under `<work>/lake`.
  *
  * A round is EP1 (`POST /api/process-bronze-to-silver` to a [[graft.Serve]]
  * built as `Serve.main` builds it), one `GET /api/HttpExample`, EP2
  * (`Pipeline.runSilverToGold`), then the five Viewer queries over the new
  * gold, each written in full to the `noop` sink. [[Main.WarmupRounds]]
  * warm-up rounds run first, then `rounds` timed rounds (at least four when
  * traced).
  *
  * With tracing on, rounds alternate between untraced and traced. A traced
  * round records spans around each op and its layer calls, and is followed
  * (outside its timing) by the EP1 layer calls made one at a time, each
  * materialized and cached, so that read, clean, write and gold each get
  * their own busy time.
  *
  * Usage: Main <work> <rounds> <trace 0|1>. The ingest date is
  * the one `gen.py` wrote the bronze lake under, read from
  * `<work>/expected.json`. Writes `<work>/result.json` (and
  * `<work>/trace.json` when traced); the output checks and the metrics are
  * computed from it by `run.py`.
  */
object Main {
  /** Untimed rounds before the first timed one: the first round in a JVM is
    * mostly class loading and code generation, and the JIT keeps speeding
    * the next few up. */
  val WarmupRounds = 2

  val ViewerOps: Seq[String] =
    Seq("sample", "most_affordable", "best_ccrpi", "most_inclusive", "overall_best")

  /** One timed op; `status` is the HTTP status of an HTTP op, else 0. */
  final case class Op(round: Int, name: String, startMs: Long, ms: Double,
      status: Int, payload: String, error: String)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Live heap: the least of five readings, each after a full GC and a
    * pause in which Spark's ContextCleaner can drop the broadcast and shuffle
    * blocks whose references the previous GC cleared. */
  private def heapUsedMb(): Double = (1 to 5).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val Array(work, roundsArg, traceArg) = args
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    val ingestDate = mapper.readTree(Paths.get(work, "expected.json").toFile)
      .get("ingest_date").asText
    val timedRounds = roundsArg.toInt
    val traced = traceArg == "1"
    val threads = math.min(4, Runtime.getRuntime.availableProcessors)
    val loadAvg = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    // built as the program's own mains build their sessions (local[n], n
    // shuffle partitions, UTC, UI off), with AQE on as in graft.Bench
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer(sc)
    if (traced) sc.addSparkListener(tracer)
    val writes = new WriteBytes(sc)
    sc.addSparkListener(writes)

    val base = s"$work/lake"
    val goldPath = Lake.path(base, "gold", "county_analysis", ingestDate)
    val pipe = new Pipeline(spark, base, ingestDate)
    val serve = new Serve(() => writes.during(tracer.round)(
      tracer.span("pipeline.runBronzeToSilverAndGold")(pipe.runBronzeToSilverAndGold())))
    val port = serve.start(0)
    val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10))
      .build()
    def call(method: String, path: String): (Int, String) = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(150))
        .method(method, HttpRequest.BodyPublishers.noBody())
        .build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      (resp.statusCode, resp.body)
    }

    def viewer(q: String): DataFrame = Viewer.queries(spark, Readers.parquet(spark, goldPath))(q)

    def timed(round: Int, name: String)(body: => (Int, String)): Op = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (status, payload, error) =
        try {
          val (s, p) = tracer.span(name, root = true)(body)
          (s, p, null)
        } catch { case NonFatal(e) => (0, null, e.toString) }
      Op(round, name, startMs, (System.nanoTime() - t0) / 1e6, status, payload, error)
    }

    def round(r: Int): (Double, Seq[Op]) = {
      tracer.round = r
      val t0 = System.nanoTime()
      val ops = ArrayBuffer.empty[Op]
      ops += timed(r, "ep1")(call("POST", "/api/process-bronze-to-silver"))
      ops += timed(r, "health")(call("GET", "/api/HttpExample?name=pipebench"))
      ops += timed(r, "ep2")((0, writes.during(r)(pipe.runSilverToGold())))
      ViewerOps.foreach { q =>
        ops += timed(r, s"viewer.$q") {
          val df = tracer.span("query.build")(viewer(q))
          tracer.span("query.plan")(df.queryExecution.executedPlan)
          tracer.span("query.exec")(noop(df))
          (0, "")
        }
      }
      ((System.nanoTime() - t0) / 1e6, ops.toSeq)
    }

    // EP1's layer calls one at a time, each cached and materialized so the
    // next layer reads the previous one's output, not its lineage; writes go
    // to a separate lake so the timed rounds' outputs are untouched
    def steps(r: Int): Unit = tracer.span("steps", root = true) {
      val stepBase = s"$work/steplake"
      def out(layer: String, ds: String) = Lake.path(stepBase, layer, ds, ingestDate)
      def mat(df: DataFrame): DataFrame = { df.cache(); noop(df); df }
      val h = tracer.span("io.read.housing")(mat(pipe.readBronzeHousing()))
      val s = tracer.span("io.read.school")(mat(pipe.readBronzeSchool()))
      val p = tracer.span("io.read.special")(mat(pipe.readBronzeSpecial()))
      val hc = tracer.span("clean.housing")(mat(Silver.Housing.clean(h)))
      val scl = tracer.span("clean.school")(mat(Silver.School.clean(s)))
      val pc = tracer.span("clean.special")(mat(Silver.SpecialEd.clean(p)))
      tracer.span("io.write.silver.housing")(
        Lake.writeSingleFile(hc, out("silver", "housing_affordability")))
      tracer.span("io.write.silver.school")(
        Lake.writeSingleFile(scl, out("silver", "school_performance")))
      tracer.span("io.write.silver.special")(
        Lake.writeSingleFile(pc, out("silver", "special_education")))
      val g = tracer.span("gold.build")(mat(Gold.buildLeaJoinedGold(hc, scl, pc)))
      tracer.span("io.write.gold")(Lake.writeSingleFile(g, out("gold", "county_analysis")))
      ViewerOps.foreach(q =>
        tracer.span(s"countstar.$q")(viewer(q).selectExpr("count(*)").collect()))
      Seq(h, s, p, hc, scl, pc, g).foreach(_.unpersist(blocking = true))
    }

    // untimed: what the output checks compare against the generator and DuckDB
    def capture(): Map[String, Any] = Map(
      "gold_count" -> Readers.parquet(spark, goldPath).count(),
      "viewer" -> ViewerOps.map { q =>
        val df = viewer(q)
        q -> Map(
          "columns" -> df.columns.toSeq,
          "rows" -> df.collect().toSeq.map(_.toSeq.map {
            case null => null
            case v: java.lang.Number => v
            case v => v.toString
          }))
      }.toMap)

    val warmupMs = (1 to WarmupRounds).map(i => round(-i)._1)
    val captures = ArrayBuffer(capture())
    val floorMs = (1 to 10).map { _ =>
      val t0 = System.nanoTime(); spark.range(1).count(); (System.nanoTime() - t0) / 1e6
    }.min

    val firstOpMs = System.currentTimeMillis()
    val rounds = ArrayBuffer.empty[Map[String, Any]]
    val layerRounds = ArrayBuffer.empty[(Int, Map[String, Double])]
    var r = 0
    // traced runs trace rounds 1, 2, 5, 6, ...: untraced and traced rounds
    // alternate in pairs (ABBA), so a drift from round to round cancels out
    // of the tracing overhead
    def tracedRound(r: Int) = traced && (r % 4 == 1 || r % 4 == 2)
    while (r < timedRounds || (traced && r < 4)) {
      tracer.enabled = tracedRound(r)
      val gc0 = gcMs()
      val (ms, ops) = round(r)
      val gcRound = gcMs() - gc0
      if (tracer.enabled) {
        steps(r)
        tracer.enabled = false
        layerRounds += r -> Map(
          "jvm.gc_ms" -> gcRound.toDouble, "jvm.heap_after_round_mb" -> heapUsedMb())
      }
      rounds += Map("round" -> r, "ms" -> ms, "traced" -> tracedRound(r),
        "ops" -> ops.map(o => Map("round" -> o.round, "name" -> o.name, "start_ms" -> o.startMs,
          "ms" -> o.ms, "status" -> o.status, "payload" -> o.payload, "error" -> o.error)))
      r += 1
    }
    captures += capture()
    serve.stop()
    PipebenchBridge.drainListeners(sc)

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val perRound = layerRounds.map { case (tr, jvm) => jvm ++ Layers.ofRound(tracer, tr, threads) }
        val keys = perRound.flatMap(_.keys).distinct
        val untracedMs = rounds.filter(_("traced") == false).map(_("ms").asInstanceOf[Double])
        val tracedMs = rounds.filter(_("traced") == true).map(_("ms").asInstanceOf[Double])
        keys.map(k => k -> median(perRound.flatMap(_.get(k)).toSeq)).toMap ++ Map(
          "spark.job_floor_ms" -> floorMs,
          "trace.overhead" -> median(tracedMs.toSeq) / median(untracedMs.toSeq))
      }

    val heapLive = heapUsedMb()
    val gcTotals = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b =>
      b.getName -> Map("count" -> b.getCollectionCount, "ms" -> b.getCollectionTime)).toMap
    val context = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "load_avg_start" -> loadAvg,
      "spark_threads" -> threads,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:")).toSeq,
      "job_floor_ms" -> floorMs,
      "jvm_start_epoch_ms" -> jvmStartMs,
      "session_ready_epoch_ms" -> sessionReadyMs,
      "gc_totals" -> gcTotals)
    val result = Map(
      "context" -> context,
      "first_op_epoch_ms" -> firstOpMs,
      "warmup_ms" -> warmupMs,
      "rounds" -> rounds.toSeq.map(m =>
        m + ("bytes_written" -> writes.of(m("round").asInstanceOf[Int]))),
      "captures" -> captures.toSeq,
      "heap_live_mb" -> heapLive,
      "layers" -> layers)
    Files.write(Paths.get(work, "result.json"),
      mapper.writeValueAsString(result).getBytes(StandardCharsets.UTF_8))
    if (traced) Files.write(Paths.get(work, "trace.json"),
      mapper.writeValueAsString(Layers.dump(tracer)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

