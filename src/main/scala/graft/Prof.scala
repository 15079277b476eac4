package graft
// Scratch stage-level profiler (local diagnosis only; not part of the API).
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

object Prof {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    spark.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
      sys.env.getOrElse("PROF_OHA_FALLBACK", "128"))
    spark.sparkContext.setLogLevel("ERROR")
    // job/stage/task counters — decompose a query's wall time into
    // scheduling floors (many tiny stages) vs real task work
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskTimeMs = new AtomicLong
    val stageDetail = sys.env.contains("PROF_STAGES")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        taskTimeMs.addAndGet(
          s.stageInfo.taskMetrics.executorRunTime)
        if (stageDetail) {
          val m = s.stageInfo.taskMetrics
          val rdds = s.stageInfo.rddInfos.map(_.name).distinct.mkString(",").take(120)
          println(f"STAGE ${s.stageInfo.stageId}%4d n=${s.stageInfo.numTasks}%4d run=${m.executorRunTime / 1e3}%7.2f gc=${m.jvmGCTime / 1e3}%6.2f cpu=${m.executorCpuTime / 1e9}%7.2f deser=${m.executorDeserializeTime / 1e3}%6.2f [$rdds]")
        }
      }
    })
    def snap(): (Int, Int, Int, Long) =
      (jobs.get, stages.get, tasks.get, taskTimeMs.get)
    def tm[T](label: String)(f: => T): T = {
      val (j0, s0, k0, m0) = snap()
      val t0 = System.nanoTime(); val r = f
      val wall = (System.nanoTime() - t0) / 1e9
      val (j1, s1, k1, m1) = snap()
      println(f"PROF $label%-34s ${wall}%6.3f s  jobs=${j1 - j0}%3d stages=${s1 - s0}%3d tasks=${k1 - k0}%4d taskTime=${(m1 - m0) / 1e3}%6.2f s")
      r
    }
    // warm like Bench does: base tables + submission path
    Tables.names.foreach(n => spark.read.parquet(s"$dir/$n.parquet").count())
    (1 to 60).foreach(_ => spark.range(1).count())
    if (sys.env.contains("PROF_CKPT")) {
      import org.apache.spark.sql.functions._
      val df = spark.range(6000).select(col("id"),
        expr("transform(sequence(1, 128), i -> id * i)").as("arr"))
        .repartition(32)
      val ck = tm("ckpt-materialize")(df.localCheckpoint())
      (1 to 4).foreach(i => tm(s"count$i")(ck.count()))
      (1 to 4).foreach(i => tm(s"noop$i")(
        ck.write.format("noop").mode("overwrite").save()))
      // same read through a narrow projection (forces column eval)
      (1 to 3).foreach(i => tm(s"proj$i")(
        ck.select(expr("aggregate(arr, 0L, (a, x) -> a + x)").as("s"))
          .write.format("noop").mode("overwrite").save()))
      spark.stop(); return
    }
    if (sys.env.contains("PROF_X06_KERNEL")) {
      import org.apache.spark.sql.functions._
      import graft.functions.Exprs._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val widen = sys.env.getOrElse("PROF_WIDEN", "1") == "1"
      val sel = docs.select(col("doc_id"), col("text").as("__t"))
      val pre = if (widen) graft.ops.Par.widen(sel) else sel
      val base0 = pre
        .select(col("doc_id"), graft.ops.Dedup.tokens(col("__t")).as("toks"))
        .select(col("doc_id"),
          minhash_sig(col("toks"), 3, 128).as("sig"),
          shingle_hashes(col("toks"), 3).as("sh"))
        .withColumn("n_sh", size(col("sh")))
      val base = tm("checkpoint")(base0.localCheckpoint())
      val banded = base
        .select(col("doc_id"), posexplode(band_hashes(col("sig"), 64)))
        .toDF("doc_id", "band_idx", "band_hash")
      (1 to 3).foreach(i => tm(s"banded$i")(
        banded.write.format("noop").mode("overwrite").save()))
      val buckets = graft.ops.Dedup.boundedBuckets(banded, "band_idx", "band_hash", 1000)
      (1 to 3).foreach(i => tm(s"buckets$i")(
        buckets.write.format("noop").mode("overwrite").save()))
      val cand = graft.ops.Dedup.pairsFromBuckets(buckets)
      (1 to 3).foreach(i => tm(s"cand$i")(
        cand.write.format("noop").mode("overwrite").save()))
      val ta = base.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n_sh").as("n_a"))
      val tb = base.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n_sh").as("n_b"))
      val out = cand.join(ta, Seq("doc_a")).join(tb, Seq("doc_b"))
        .withColumn("n_inter", sorted_intersect_count(col("sh_a"), col("sh_b")))
        .select(col("doc_a"), col("doc_b"),
          (col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      (1 to 3).foreach(i => tm(s"verify$i")(
        out.write.format("noop").mode("overwrite").save()))
      spark.stop(); return
    }
    val explainDir = sys.env.get("PROF_EXPLAIN_DIR")
    val names = args.toSeq match {
      case Nil => Seq("x23_pii_scrub", "x24_repetition", "x25_decontaminate")
      case xs  => xs
    }
    val reps = sys.env.getOrElse("PROF_REPS", "2").toInt
    names.foreach { n =>
      val q = SparkEntry.queries(n)
      (1 to reps).foreach { i =>
        // same timed shape as Bench: construction + planning + count(*) execution
        tm(s"$n full$i")(q(spark, dir).selectExpr("count(*)").collect())
      }
      // decomposition: construction (eager driver work) vs planning vs execution
      val df = tm(s"$n construct")(q(spark, dir).selectExpr("count(*)"))
      tm(s"$n plan")(df.queryExecution.executedPlan)
      tm(s"$n exec")(df.collect())
      explainDir.foreach { d =>
        val plan = q(spark, dir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        java.nio.file.Files.writeString(java.nio.file.Paths.get(d, s"$n.txt"), plan)
      }
    }
    spark.stop()
  }
}
