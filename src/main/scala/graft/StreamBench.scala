package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming THROUGHPUT measurement (r13 verdict ask #6): the processors in
  * [[graft.streaming.EventStreams]] carry stream==batch and
  * checkpoint-restart correctness specs, but no performance number — this
  * main puts sustained events/s and state-store size on the two stateful
  * shapes a deployment actually sizes:
  *
  *  - **sessionize** — flatMapGroupsWithState over a FIXED key population
  *    (`--users`, default 100k): state rows converge to the active-user
  *    count, so the measured rate is the steady-state per-event cost of
  *    the keyed-state path (groupByKey shuffle + state store get/put).
  *  - **sliding** — watermarked 1h/15min sliding-window counts: the
  *    aggregation path (each row folds into 4 open panes map-side).
  *
  * Method: a `rate` source OFFERS more than the pipeline can absorb
  * (default 2M rows/s); micro-batches then grow until processing time
  * equals batch interval, and `processedRowsPerSecond` of the settled
  * batches IS the sustained capacity — the standard back-pressure way to
  * measure a streaming engine without guessing a rate. The first batches
  * (warmup, state ramp) are excluded; the median of the rest is reported
  * beside the final state rows/bytes from the progress metrics.
  *
  * Emits ONE JSON line: `{"leg":{"rows_per_s":…,"state_rows":…,
  * "state_bytes":…,"n_batches":…},…}`. Driver-side measurement only —
  * the library never depends on this.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val cpus = Session.cpus
    val offeredRps = args.headOption.map(_.toInt).getOrElse(2000000)
    val runSeconds = if (args.length > 1) args(1).toInt else 45
    val nUsers = if (args.length > 2) args(2).toInt else 100000
    // leg filter (4th arg, comma-separated) — rerun one leg without paying
    // for the others; admission batch size (5th arg, rows per micro-batch)
    val only = if (args.length > 3) args(3).split(",").toSet else Set.empty[String]
    def wanted(leg: String): Boolean = only.isEmpty || only.contains(leg)
    val admRowsPerBatch = if (args.length > 4) args(4).toInt else 250000
    val spark = Session.local()
    // recentProgress keeps only the last N batches (default 100); a 60 s
    // run at sub-second triggers produces hundreds, and losing the early
    // ones silently shifts the warmup cut and caps n_batches at 100
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    import spark.implicits._

    val outRoot = s"target/streambench/${System.nanoTime()}"

    def measure(name: String, build: DataFrame => DataFrame, mode: String,
        rowsPerBatch: Int = -1): String = {
      // rowsPerBatch > 0 switches to the rate-micro-batch source: FIXED
      // batch sizes instead of offer-above-capacity catch-up batches. For a
      // processor whose capacity is far below any realistic offer (the
      // admission legs: heavy per-document work), the back-pressure method
      // degenerates — the first real batch covers the whole elapsed backlog
      // and may not settle inside the window at all (observed: 0 settled
      // batches in 45 s). Fixed batches measure the same quantity
      // (rows / trigger time at saturation) deterministically.
      val rate = (if (rowsPerBatch > 0)
        spark.readStream.format("rate-micro-batch")
          .option("rowsPerBatch", rowsPerBatch)
          // event time advances 5 s per batch, so a 10 s watermark keeps
          // only ~3 batches of state in flight — the steady-state regime,
          // not an ever-growing pre-eviction ramp
          .option("advanceMillisPerBatch", 5000)
      else
        spark.readStream.format("rate")
          .option("rowsPerSecond", offeredRps))
        .option("numPartitions", cpus.toInt)
        .load()
      val q = build(rate).writeStream
        .format("noop")
        .outputMode(mode)
        .option("checkpointLocation", s"$outRoot/$name")
        .start()
      Thread.sleep(runSeconds * 1000L)
      val progress = q.recentProgress.toSeq
      q.stop()
      // settled batches: drop warmup (JIT, state ramp, source catch-up) —
      // the first third, at least one batch. Throughput = total rows /
      // total trigger time over the rest, which stays meaningful in BOTH
      // regimes this method produces: many small settled batches (offer
      // near capacity) and a few giant catch-up batches (offer far above
      // capacity, where a per-batch median has too few samples)
      // a single giant catch-up batch is still a real measurement — only
      // drop warmup when there is something after it to measure
      val warmup = if (progress.size >= 4) progress.size / 3
                   else if (progress.size >= 2) 1 else 0
      val settled = progress.drop(warmup)
        .filter(p => p.numInputRows > 0 &&
          p.durationMs.getOrDefault("triggerExecution", 0L) > 0L)
      val totalRows = settled.map(_.numInputRows).sum
      val totalSec = settled.map(_.durationMs.get("triggerExecution").toLong).sum / 1000.0
      val sustained = if (settled.isEmpty || totalSec == 0.0) -1.0 else totalRows / totalSec
      // SUM across all stateful operators: the admission leg chains a
      // dropDuplicates AND an aggregation — reading only the head would
      // under-report that leg's total state footprint (r14 ADVICE)
      val lastState = progress.lastOption.map(p =>
        Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty))
      val stateRows = lastState.filter(_.nonEmpty)
        .map(_.map(_.numRowsTotal).sum).getOrElse(-1L)
      val stateBytes = lastState.filter(_.nonEmpty)
        .map(_.map(_.memoryUsedBytes).sum).getOrElse(-1L)
      f""""$name":{"rows_per_s":$sustained%.0f,"state_rows":$stateRows,"state_bytes":$stateBytes,"n_batches":${progress.size}}"""
    }

    // rate rows → Event: a fixed user population so sessionize state is
    // bounded and convergent; event times are the source's processing-time
    // stamps (monotone per partition — the sessionizer's in-order contract)
    def toEvents(rate: DataFrame): Dataset[graft.streaming.EventStreams.Event] =
      rate.select(
        col("value").as("event_id"),
        col("timestamp").as("ts"),
        (col("value") % nUsers).as("user_id"),
        concat(lit("t"), col("value") % 5).as("event_type"),
        (col("value") % 100).cast("double").as("value"))
        .as[graft.streaming.EventStreams.Event]

    // near-dup admission corpus: the sf documents table (static side,
    // indexed ONCE to a persist-on-disk bucketed index — the r14-verdict
    // scale fix; the build is timed separately and amortizes over the
    // stream's lifetime); arriving texts are synthesized 30-token
    // documents from a 5k-word vocabulary — mostly novel, the admission
    // workload's common case, so the measured cost is the shingle +
    // stream-static probe path rather than match bookkeeping
    val corpusDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val corpus = spark.read.parquet(s"$corpusDir/documents.parquet")
      .selectExpr("CAST(doc_id AS BIGINT) AS doc_id", "text")
    lazy val nCorpus = corpus.count()
    // replica id offset = max(id)+1, NOT count() (the ScaleStress
    // convention): on a gapped or non-0-based id space, count-based
    // offsets would silently collide replica ranges and build the 10x
    // indexes over duplicate ids
    lazy val corpusStride = corpus.agg(max(col("doc_id"))).head().getLong(0) + 1
    // ONE parameterized synthetic-workload generator per modality (vectors,
    // texts) — the legs vary only vocab/seed, so the dimension/shape can
    // never silently diverge between serve and append sides
    def synthVecSeeded(seed: Int) = expr(s"transform(sequence(0, 63), " +
      s"i -> cast(pmod(hash(value * $seed + i), 1000) as float) / 500.0 - 1.0)")
    val synthVec = synthVecSeeded(131)
    def synthTextSeeded(vocab: String, seed: Int) =
      expr(s"concat_ws(' ', transform(sequence(0, 29), " +
        s"i -> concat('$vocab', pmod(hash(value * $seed + i), 5000))))")
    def buildIndex(name: String, c: DataFrame): (graft.streaming.DedupStreams.AdmissionIndex, Double) = {
      val t0 = System.nanoTime()
      val idx = graft.streaming.DedupStreams.buildAdmissionIndex(
        c, "doc_id", "text", s"$outRoot/$name")
      (idx, (System.nanoTime() - t0) / 1e9)
    }
    def admissionLeg(name: String, idxName: String, replicas: Int): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        // replicated corpus: per-replica suffix token, the ScaleStress
        // construction — the r14 verdict asked for the admission leg at the
        // 10× corpus (50k docs)
        val c = if (replicas <= 1) corpus else (0 until replicas).map { k =>
          corpus.select((col("doc_id") + lit(k * corpusStride)).as("doc_id"),
            concat(col("text"), lit(s" rep$k")).as("text"))
        }.reduce(_ unionAll _)
        val (idx, idxSec) = buildIndex(idxName, c)
        Seq(
          measure(name,
            rate => graft.streaming.DedupStreams.nearDupAdmission(
              rate.select(col("value").as("doc_id"), col("timestamp").as("ts"),
                synthTextSeeded("w", 31).as("text")),
              idx, "doc_id", "ts", "text", watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch),
          s""""${name}_index_build_s":${"%.1f".format(idxSec)}""")
      }
    // ANN serving: index the sf embeddings table once (trained quantizer,
    // the production mode), serve synthesized dim-64 query vectors — the
    // measured cost is the map-side probe + stream-static cell join +
    // top-k aggregation, the whole per-arrival path
    def annServeLeg(name: String, replicas: Int): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        val e = spark.read.parquet(s"$corpusDir/embeddings.parquet")
          .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
        val stride = e.agg(max(col("vec_id"))).head().getLong(0) + 1
        val c = if (replicas <= 1) e else (0 until replicas).map { k =>
          e.select((col("vec_id") + lit(k * stride)).as("vec_id"), col("embedding"))
        }.reduce(_ unionAll _)
        // nlist scales ~sqrt(N), the standard IVF sizing: candidates per
        // query (nprobe·N/nlist) then grow ~sqrt(corpus) instead of
        // linearly — a fixed nlist at 10× the corpus probed 10× the
        // vectors per query and paid ~3× throughput for it (measured)
        val nlist = math.max(1, (64 * math.sqrt(replicas.toDouble)).round.toInt)
        val t0 = System.nanoTime()
        val idx = graft.streaming.AnnStreams.buildServingIndex(
          c, "vec_id", "embedding", s"$outRoot/$name-idx", nlist = nlist)
        val idxSec = (System.nanoTime() - t0) / 1e9
        Seq(
          measure(name,
            rate => graft.streaming.AnnStreams.annServe(
              rate.select(col("value").as("query_id"), col("timestamp").as("ts"),
                synthVec.as("embedding")),
              idx, "query_id", "ts", "embedding", k = 10, nprobe = 4,
              watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch),
          s""""${name}_index_build_s":${"%.1f".format(idxSec)}""")
      }
    // ---- maintenance-under-load legs (r15 verdict ask #2): serve WHILE the
    // index-maintenance stream appends concurrently, for three tail states:
    //   *_empty_tail   — handle opened before any append (tail invisible;
    //                    measures pure write-contention cost)
    //   *_grown_tail   — handle REOPENED after ~10-20% of the corpus landed
    //                    (measures the unbucketed-tail join cost)
    //   *_post_compact — after blue/green compaction (the recovery number)
    // Appends run through the REAL appendStream/appendToIndex sinks on a
    // 2 s maintenance trigger; phases A+B keep them live for 2×runSeconds
    // (≥90 s at the 45 s default). Tail row counts land in the JSON so the
    // throughput deltas are attributable.
    val maintTrigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("2 seconds")
    def annMaintLeg(name: String): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        import graft.streaming.AnnStreams
        val e = spark.read.parquet(s"$corpusDir/embeddings.parquet")
          .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
        val stride = e.agg(max(col("vec_id"))).head().getLong(0) + 1
        val idxDir = s"$outRoot/$name-idx"
        val t0 = System.nanoTime()
        val built = AnnStreams.buildServingIndex(e, "vec_id", "embedding", idxDir, nlist = 64)
        val idxSec = (System.nanoTime() - t0) / 1e9
        def serveLeg(phase: String, idx: AnnStreams.ServingIndex): String =
          measure(s"${name}_$phase",
            rate => AnnStreams.annServe(
              rate.select(col("value").as("query_id"), col("timestamp").as("ts"),
                synthVec.as("embedding")),
              idx, "query_id", "ts", "embedding", k = 10, nprobe = 4,
              watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch)
        // JIT/codegen warm-up through the batch twin (identical plan) so
        // phase A doesn't pay first-query compilation that phases B/C
        // then don't — the A→B→C deltas must be tail-state, not warmup
        AnnStreams.annServeBatch(
          spark.range(5000).select(col("id").as("value"))
            .select(col("value").as("query_id"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
              synthVec.as("embedding")),
          built, "query_id", "ts", "embedding", k = 10, nprobe = 4).count()
        // ~10 vec/s on a 2 s trigger: ~450 vectors over phases A+B at the
        // 45 s default — a 20%-of-corpus tail in a handful of batch dirs
        // one DISCARDED streaming phase: the serve stream's own ramp (state
        // store, scheduler, codegen glue) must not masquerade as phase-A
        // cost — the A/B/C deltas are meant to isolate TAIL STATE
        serveLeg("warm_discard", built)
        // appended vectors use a DIFFERENT seed than the serve queries —
        // reusing synthVec here would make every appended vector an exact
        // clone of a query (both derive from rate values starting at 0),
        // turning the grown-tail phases into a degenerate self-match
        // workload the empty-tail phase never sees (same discipline as the
        // admission twin's 'm'-vs-'w' vocab split)
        val appender = AnnStreams.appendStream(
          spark.readStream.format("rate").option("rowsPerSecond", 10)
            .option("numPartitions", 1).load()
            .select((col("value") + lit(stride)).as("vec_id"),
              synthVecSeeded(137).as("embedding")),
          built, "vec_id", "embedding", s"$outRoot/$name-appendckpt",
          trigger = maintTrigger)
        try {
          val mA = serveLeg("empty_tail", built)
          val grown = AnnStreams.openServingIndex(spark, idxDir)
          val tailAtReopen = grown.appends.count()
          val mB = serveLeg("grown_tail", grown)
          // the settled-vs-compacted comparison must hold the VECTOR
          // POPULATION fixed (an earlier cut compared a 2.6k-vector tail
          // phase against a 3.2k-vector compacted base and read corpus
          // growth as compaction cost) — stop the writer, reopen, measure
          // the final tail, compact the SAME rows, measure again
          appender.stop()
          val settled = AnnStreams.openServingIndex(spark, idxDir)
          val tailSettled = settled.appends.count()
          val mB2 = serveLeg("settled_tail", settled)
          val tC = System.nanoTime()
          val compacted = AnnStreams.compactIndex(spark, idxDir, s"$idxDir-compact")
          val compactSec = (System.nanoTime() - tC) / 1e9
          val mC = serveLeg("post_compact", compacted)
          Seq(mA, mB, mB2, mC,
            s""""${name}_index_build_s":${"%.1f".format(idxSec)}""",
            s""""${name}_tail_rows_at_reopen":$tailAtReopen""",
            s""""${name}_tail_rows_settled":$tailSettled""",
            s""""${name}_rows_compacted":${compacted.cells.count()}""",
            s""""${name}_compact_s":${"%.1f".format(compactSec)}""")
        } finally if (appender.isActive) appender.stop()
      }
    def admMaintLeg(name: String): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        import graft.streaming.DedupStreams
        val (idx, idxSec) = buildIndex(s"$name-idx", corpus)
        val synthText = synthTextSeeded("w", 31)
        def serveLeg(phase: String, i: DedupStreams.AdmissionIndex): String =
          measure(s"${name}_$phase",
            rate => DedupStreams.nearDupAdmission(
              rate.select(col("value").as("doc_id"), col("timestamp").as("ts"),
                synthText.as("text")),
              i, "doc_id", "ts", "text", watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch)
        // JIT/codegen warm-up through the batch twin (identical plan) —
        // same reasoning as the ANN maintenance leg
        DedupStreams.nearDupAdmissionBatch(
          spark.range(5000).select(col("id").as("value"))
            .select(col("value").as("doc_id"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
              synthText.as("text")),
          idx, "doc_id", "ts", "text").count()
        // ~20 docs/s: ~900 documents over phases A+B at the 45 s default —
        // an 18%-of-corpus tail for the 5k sf0.1 corpus
        // same discarded ramp phase as the ANN maintenance leg
        serveLeg("warm_discard", idx)
        val appender = DedupStreams.appendToIndex(
          spark.readStream.format("rate").option("rowsPerSecond", 20)
            .option("numPartitions", 1).load()
            .select((col("value") + lit(corpusStride * 100)).as("doc_id"),
              synthTextSeeded("m", 53).as("text")),
          idx, "doc_id", "text", s"$outRoot/$name-appendckpt",
          trigger = maintTrigger)
        try {
          val mA = serveLeg("empty_tail", idx)
          val grown = DedupStreams.openAdmissionIndex(spark, idx.dir)
          val tailAtReopen = grown.setsAppends.count()
          val mB = serveLeg("grown_tail", grown)
          // same fixed-population discipline as the ANN maintenance leg
          appender.stop()
          val settled = DedupStreams.openAdmissionIndex(spark, idx.dir)
          val tailSettled = settled.setsAppends.count()
          val mB2 = serveLeg("settled_tail", settled)
          val tC = System.nanoTime()
          val compacted = DedupStreams.compactAdmissionIndex(
            spark, idx.dir, s"${idx.dir}-compact")
          val compactSec = (System.nanoTime() - tC) / 1e9
          val mC = serveLeg("post_compact", compacted)
          Seq(mA, mB, mB2, mC,
            s""""${name}_index_build_s":${"%.1f".format(idxSec)}""",
            s""""${name}_tail_rows_at_reopen":$tailAtReopen""",
            s""""${name}_tail_rows_settled":$tailSettled""",
            s""""${name}_rows_compacted":${compacted.sets.count()}""",
            s""""${name}_compact_s":${"%.1f".format(compactSec)}""")
        } finally if (appender.isActive) appender.stop()
      }
    // RETRAIN UNDER LOAD (r17): blue/green's operational claim is that a
    // quantizer retrain never pauses serving — the serve stream keeps
    // reading blue while green rebuilds, and only a handle swap moves
    // traffic. This leg measures the claim instead of asserting it:
    //  - `solo`: serve throughput against blue, nothing else running;
    //  - `during_retrain`: the SAME serve while a background thread runs
    //    retrainIndex blue→green CONTINUOUSLY for the whole window (each
    //    into a fresh green dir) — the co-location tax is the difference;
    //  - `on_retrained`: serve against the last green (the post-swap
    //    steady state; also proves the swap target is live).
    // The tail folded by each retrain is a real 10%-of-corpus drifted
    // slice (reversed vectors) landed through the real append path.
    def annRetrainLeg(name: String): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        import graft.streaming.AnnStreams
        val e = spark.read.parquet(s"$corpusDir/embeddings.parquet")
          .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
        val stride = e.agg(max(col("vec_id"))).head().getLong(0) + 1
        val idxDir = s"$outRoot/$name-idx"
        val built = AnnStreams.buildServingIndex(e, "vec_id", "embedding",
          idxDir, nlist = 64)
        AnnStreams.landAppendBatch(
          e.filter(col("vec_id") % 10 === 0)
            .select((col("vec_id") + lit(stride)).as("vec_id"),
              reverse(col("embedding")).as("embedding")),
          built, "vec_id", "embedding", batchId = 0L)
        val blue = AnnStreams.openServingIndex(spark, idxDir)
        def serveLeg(phase: String, idx: AnnStreams.ServingIndex): String =
          measure(s"${name}_$phase",
            rate => AnnStreams.annServe(
              rate.select(col("value").as("query_id"), col("timestamp").as("ts"),
                synthVec.as("embedding")),
              idx, "query_id", "ts", "embedding", k = 10, nprobe = 4,
              watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch)
        AnnStreams.annServeBatch(
          spark.range(5000).select(col("id").as("value"))
            .select(col("value").as("query_id"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
              synthVec.as("embedding")),
          blue, "query_id", "ts", "embedding", k = 10, nprobe = 4).count()
        serveLeg("warm_discard", blue)
        val mSolo = serveLeg("solo", blue)
        @volatile var stopRetrains = false
        @volatile var nRetrains = 0
        @volatile var retrainSecs = 0.0
        // a retrain failure must surface, not die with the thread: if
        // retrainIndex threw after >= 1 completed iteration the
        // nRetrains > 0 guard below would still pass and during_retrain
        // would report a PARTIAL-overlap window as a full co-location
        // receipt (r17 ADVICE). The terminal exception is recorded and
        // require'd null after join; superseded green-$i dirs are deleted
        // as they are replaced (each retrain reads from the BLUE idxDir,
        // so green-$i never depends on green-$(i-1)) to keep the window
        // from accumulating one full index copy per iteration.
        @volatile var retrainErr: Throwable = null
        // √N hygiene on schedule (r17 verdict #7): each retrain re-picks
        // its geometry from the health report — blue is static inside the
        // window, so one report serves every iteration
        val schedNlist = AnnStreams.scheduledNlist(AnnStreams.indexHealth(blue))
        val retrainer = new Thread(() => {
          var i = 0
          try {
            while (!stopRetrains) {
              val t0 = System.nanoTime()
              AnnStreams.retrainIndex(spark, idxDir, s"$outRoot/$name-green-$i",
                newNlist = schedNlist)
              retrainSecs += (System.nanoTime() - t0) / 1e9
              nRetrains += 1
              if (i > 0) {
                val prev = new org.apache.hadoop.fs.Path(s"$outRoot/$name-green-${i - 1}")
                prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
                  .delete(prev, true)
              }
              i += 1
            }
          } catch { case t: Throwable => retrainErr = t }
        })
        retrainer.setDaemon(true)
        retrainer.start()
        val mDuring = serveLeg("during_retrain", blue)
        stopRetrains = true
        // UNBOUNDED join: the in-flight retrain is a normal Spark job and
        // WILL finish — returning early (a timed join) would let the
        // straggler keep running into the on_retrained window and
        // co-location load would masquerade as post-swap steady state
        retrainer.join()
        // the during_retrain number is only a co-location receipt if a
        // retrain actually overlapped the window — a thread that died on
        // its first iteration would otherwise report a tax for nothing
        require(nRetrains > 0,
          s"$name: no retrain completed inside the serve window — " +
            "during_retrain measured no co-location; rerun with a longer window")
        require(retrainErr == null,
          s"$name: retrainer thread died mid-window after $nRetrains " +
            s"retrains — during_retrain is a partial-overlap measurement, " +
            s"not a co-location receipt: $retrainErr")
        val green =
          AnnStreams.openServingIndex(spark, s"$outRoot/$name-green-${nRetrains - 1}")
        val mAfter = serveLeg("on_retrained", green)
        Seq(mSolo, mDuring, mAfter,
          s""""${name}_scheduled_nlist":$schedNlist""",
          s""""${name}_retrains_completed":$nRetrains""",
          s""""${name}_retrain_avg_s":${"%.1f".format(
            if (nRetrains > 0) retrainSecs / nRetrains else -1.0)}""",
          s""""${name}_corpus_rows":${green.cells.count()}""")
      }
    // POLICY-DRIVEN MAINTENANCE UNDER LOAD (r17 verdict #6): the scheduling
    // layer's pieces — indexHealth, maintenanceDue, scheduledNlist,
    // retrainIndex — demonstrated as ONE operational loop rather than
    // oracled components. A maintenance thread polls indexHealth on a
    // cadence and acts ONLY when maintenanceDue fires, retraining at the
    // scheduled sqrt-N geometry; serving never pauses. Three phases, each
    // a full measured window against the live handle:
    //  - `healthy`: empty tail — the poller must observe and NOT act;
    //  - `drifted`: a 10%-of-corpus reversed-vector tail lands through the
    //    real append path mid-leg; the poller detects it, fires exactly
    //    one retrain into green, verifies green's health, and swaps its
    //    own polling target (green must never re-fire);
    //  - `on_green`: serving against the retrained index.
    // The receipt is the causal chain t(drift) < t(due) < t(retrain done)
    // plus q/s per phase and the poll/act counters.
    // The loop is FAMILY-GENERIC: one implementation drives the float and
    // the int8-quantized serving indexes through the identical policy
    // (maintenanceDue / scheduledNlist read the same health schema for
    // both families by design), so the two receipts differ only in what
    // the family's own build/serve/retrain cost — not in loop structure.
    final case class ServingFamily[I](
        build: String => I,
        open: String => I,
        policy: graft.streaming.Maintenance.Family,
        serveStream: (DataFrame, I) => DataFrame,
        serveBatch: (DataFrame, I) => DataFrame,
        landDrift: (DataFrame, I) => Unit,
        nlistOf: I => Int,
        rowsOf: I => Long)
    lazy val annCorpus = spark.read.parquet(s"$corpusDir/embeddings.parquet")
      .selectExpr("CAST(vec_id AS BIGINT) AS vec_id", "embedding")
    // The poller implements the CANONICAL decision rule in full —
    // `if (retrainDue) retrain(scheduledNlist) else if (compactDue)
    // compact` — and each scenario differs only in the planted tail:
    // a reversed-vector drift cluster fires the retrain branch, an
    // in-distribution 20% tail fires compaction alone (its assignment
    // cosine matches the base, so the drift gate stays silent). The leg
    // REQUIRES the branch the plant was designed to fire — a compaction
    // that masks drift, or a retrain triggered by healthy growth, both
    // fail loudly.
    def servingPolicyLeg[I](name: String, fam: ServingFamily[I],
        plant: (DataFrame, Long) => DataFrame,
        expectAct: String): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        import graft.streaming.AnnStreams
        val e = annCorpus
        val stride = e.agg(max(col("vec_id"))).head().getLong(0) + 1
        val idxDir = s"$outRoot/$name-idx"
        val greenDir = s"$outRoot/$name-green"
        val built = fam.build(idxDir)
        val blue = fam.open(idxDir)
        def serveLeg(phase: String, idx: I): String =
          measure(s"${name}_$phase",
            rate => fam.serveStream(
              rate.select(col("value").as("query_id"), col("timestamp").as("ts"),
                synthVec.as("embedding")),
              idx),
            "append", rowsPerBatch = admRowsPerBatch)
        fam.serveBatch(
          spark.range(5000).select(col("id").as("value"))
            .select(col("value").as("query_id"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
              synthVec.as("embedding")),
          blue).count()
        serveLeg("warm_discard", blue)
        val t0 = System.nanoTime()
        def secs(t: Long): Double = (t - t0) / 1e9
        @volatile var stopPolling = false
        @volatile var polls = 0
        @volatile var pollsAfterSwap = 0
        @volatile var tDueFired = -1L
        @volatile var tActDone = -1L
        @volatile var actTaken = ""
        @volatile var maintErr: Throwable = null
        val poller = new Thread(() => {
          try {
            var acted = false
            while (!stopPolling) {
              // each poll is one LIBRARY tick against a fresh open (serve
              // handles bind the tail at open time); the bench only
              // timestamps and counts — the decision, the act, and the
              // post-act health require all live in Maintenance.tick
              polls += 1
              if (acted) {
                pollsAfterSwap += 1
                val due = fam.policy.due(fam.policy.health(spark, greenDir))
                require(!due.retrainDue && !due.compactDue,
                  s"$name: green re-fired maintenance after the swap")
              } else {
                import graft.streaming.Maintenance
                Maintenance.tick(spark, fam.policy, idxDir, greenDir,
                  onDue = () => tDueFired = System.nanoTime()) match {
                  case Maintenance.NoOp(_) => ()
                  case a =>
                    actTaken = a match {
                      case _: Maintenance.Retrained => "retrain"
                      case _ => "compact"
                    }
                    tActDone = System.nanoTime()
                    acted = true
                }
              }
              Thread.sleep(2000)
            }
            require(acted, s"$name: poller never acted — drift was not detected")
          } catch { case t: Throwable => maintErr = t }
        })
        poller.setDaemon(true)
        poller.start()
        val mHealthy = serveLeg("healthy", blue)
        require(tDueFired < 0L,
          s"$name: maintenance fired on a healthy index (poll bug or plant leak)")
        val healthyPolls = polls
        // the tail lands mid-run through the REAL append path; the plant
        // decides which maintenance branch it must fire
        val tDrift = System.nanoTime()
        fam.landDrift(plant(e, stride), built)
        // serving keeps running on blue while the poller detects and acts
        val mDrifted = serveLeg("drifted", blue)
        // bounded wait: the act must complete near the window, not hang
        val deadline = System.nanoTime() + 60L * 1000000000L
        while (tActDone < 0L && maintErr == null &&
            System.nanoTime() < deadline) Thread.sleep(200)
        require(maintErr == null, s"$name: maintenance thread died: $maintErr")
        require(tActDone > 0L,
          s"$name: tail landed but no maintenance act completed within the window")
        require(actTaken == expectAct,
          s"$name: wrong maintenance branch fired: " +
            s"expected $expectAct, got $actTaken")
        require(tDrift < tDueFired && tDueFired < tActDone,
          s"$name: causal chain broken: drift=${secs(tDrift)}s " +
            s"due=${secs(tDueFired)}s done=${secs(tActDone)}s")
        // the poller stays live through the green phase (a deployment's
        // poller never stops) — its in-thread require pins that green
        // NEVER re-fires maintenance; we demand it actually polled
        val green = fam.open(greenDir)
        val mGreen = serveLeg("on_green", green)
        val deadline2 = System.nanoTime() + 60L * 1000000000L
        while (pollsAfterSwap < 1 && maintErr == null &&
            System.nanoTime() < deadline2) Thread.sleep(200)
        stopPolling = true
        poller.join(15000)
        require(maintErr == null, s"$name: maintenance thread died: $maintErr")
        require(pollsAfterSwap >= 1,
          s"$name: green was never health-polled after the swap")
        Seq(mHealthy, mDrifted, mGreen,
          s""""${name}_act":"$actTaken"""",
          s""""${name}_t_drift_s":${"%.1f".format(secs(tDrift))}""",
          s""""${name}_t_due_s":${"%.1f".format(secs(tDueFired))}""",
          s""""${name}_t_act_done_s":${"%.1f".format(secs(tActDone))}""",
          s""""${name}_polls":$polls""",
          s""""${name}_polls_healthy":$healthyPolls""",
          s""""${name}_polls_after_swap":$pollsAfterSwap""",
          s""""${name}_green_nlist":${fam.nlistOf(green)}""",
          s""""${name}_corpus_rows":${fam.rowsOf(green)}""")
      }
    // the two plants: a 10% reversed-vector cluster (drifted — must fire
    // the retrain branch) and a 20% verbatim-copy tail (in-distribution
    // growth — must fire compaction ALONE: its assignment cosines equal
    // the base's, so the drift gate stays silent while the tail-fraction
    // budget trips)
    def driftPlant(e: DataFrame, stride: Long): DataFrame =
      e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(stride)).as("vec_id"),
          reverse(col("embedding")).as("embedding"))
    def growthPlant(e: DataFrame, stride: Long): DataFrame =
      e.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + lit(stride)).as("vec_id"),
          col("embedding"))
    lazy val floatFamily = {
      import graft.streaming.AnnStreams
      ServingFamily[AnnStreams.ServingIndex](
        build = dir => AnnStreams.buildServingIndex(
          annCorpus, "vec_id", "embedding", dir, nlist = 64),
        open = dir => AnnStreams.openServingIndex(spark, dir),
        policy = graft.streaming.Maintenance.FloatIvf,
        serveStream = (arrivals, i) => AnnStreams.annServe(
          arrivals, i, "query_id", "ts", "embedding", k = 10, nprobe = 4,
          watermarkDelay = "10 seconds"),
        serveBatch = (arrivals, i) => AnnStreams.annServeBatch(
          arrivals, i, "query_id", "ts", "embedding", k = 10, nprobe = 4),
        landDrift = (drift, i) => AnnStreams.landAppendBatch(
          drift, i, "vec_id", "embedding", batchId = 0L),
        nlistOf = _.nlist,
        rowsOf = _.cells.count())
    }
    lazy val quantizedFamily = {
      import graft.streaming.AnnStreams
      ServingFamily[AnnStreams.QuantizedIndex](
        build = dir => AnnStreams.buildQuantizedIndex(
          annCorpus, "vec_id", "embedding", dir, nlist = 64),
        open = dir => AnnStreams.openQuantizedIndex(spark, dir),
        policy = graft.streaming.Maintenance.QuantizedIvf,
        serveStream = (arrivals, i) => AnnStreams.annServeQuantized(
          arrivals, i, "query_id", "ts", "embedding", k = 10, nprobe = 4,
          refine = 4, watermarkDelay = "10 seconds"),
        serveBatch = (arrivals, i) => AnnStreams.annServeQuantizedBatch(
          arrivals, i, "query_id", "ts", "embedding", k = 10, nprobe = 4,
          refine = 4),
        landDrift = (drift, i) => AnnStreams.landQuantizedAppendBatch(
          drift, i, "vec_id", "embedding", batchId = 0L),
        nlistOf = _.nlist,
        rowsOf = _.cellsQ.count())
    }
    def annPolicyLeg(name: String): Seq[String] =
      servingPolicyLeg(name, floatFamily, driftPlant, "retrain")
    def qannPolicyLeg(name: String): Seq[String] =
      servingPolicyLeg(name, quantizedFamily, driftPlant, "retrain")
    def annPolicyCompactLeg(name: String): Seq[String] =
      servingPolicyLeg(name, floatFamily, growthPlant, "compact")
    def qannPolicyCompactLeg(name: String): Seq[String] =
      servingPolicyLeg(name, quantizedFamily, growthPlant, "compact")
    // POLICY-DRIVEN MAINTENANCE, ADMISSION FAMILY: the same closed loop as
    // annpolicy for the dedup-at-the-door index — admissionHealth polled on
    // a cadence, acting ONLY when maintenanceDueAdmission fires, with the
    // drift landed mid-leg through the real append path (the x210/
    // ScaleStress plant: a boilerplate head the build-time hot order has
    // never ranked, so the tail's unranked-pair mass goes quadratic in the
    // cluster). Same three measured phases and the same causal-chain
    // receipt; the act is a blue/green reindexAdmission (hot order
    // recomputed over base ∪ tail), after which the poller tracks green
    // and must observe it healthy. One asymmetry vs annpolicy, priced
    // honestly: an admission health poll explodes every stored shingle
    // (a corpus scan per poll), so the polling cadence itself is the
    // realistic maintenance cost — reported as polls over the window.
    // Same plant-decides-the-branch discipline as the serving loop: the
    // boilerplate drift cluster must fire re-index; a 20% verbatim-copy
    // tail (its shingles are the base's — ranked — so unranked mass stays
    // ~zero) must fire compaction alone.
    def admPolicyLeg(name: String, plant: Long => DataFrame,
        expectAct: String): Seq[String] =
      if (!wanted(name)) Seq.empty else {
        import graft.streaming.DedupStreams
        val (built, idxSec) = buildIndex(s"$name-idx", corpus)
        val idxDir = built.dir
        val greenDir = s"$outRoot/$name-green"
        val synthText = synthTextSeeded("w", 31)
        def serveLeg(phase: String, i: DedupStreams.AdmissionIndex): String =
          measure(s"${name}_$phase",
            rate => DedupStreams.nearDupAdmission(
              rate.select(col("value").as("doc_id"), col("timestamp").as("ts"),
                synthText.as("text")),
              i, "doc_id", "ts", "text", watermarkDelay = "10 seconds"),
            "append", rowsPerBatch = admRowsPerBatch)
        DedupStreams.nearDupAdmissionBatch(
          spark.range(5000).select(col("id").as("value"))
            .select(col("value").as("doc_id"),
              lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
              synthText.as("text")),
          built, "doc_id", "ts", "text").count()
        serveLeg("warm_discard", built)
        val t0 = System.nanoTime()
        def secs(t: Long): Double = (t - t0) / 1e9
        @volatile var stopPolling = false
        @volatile var polls = 0
        @volatile var pollsAfterSwap = 0
        @volatile var tDueFired = -1L
        @volatile var tActDone = -1L
        @volatile var actTaken = ""
        @volatile var maintErr: Throwable = null
        val poller = new Thread(() => {
          try {
            import graft.streaming.Maintenance
            var acted = false
            while (!stopPolling) {
              // same shape as the serving pollers: one library tick per
              // poll pre-swap, a health check (never an act) on green after
              polls += 1
              if (acted) {
                pollsAfterSwap += 1
                val due = Maintenance.Admission.due(
                  Maintenance.Admission.health(spark, greenDir))
                require(!due.retrainDue && !due.compactDue,
                  s"$name: green re-fired maintenance after the swap")
              } else {
                Maintenance.tick(spark, Maintenance.Admission, idxDir, greenDir,
                  onDue = () => tDueFired = System.nanoTime()) match {
                  case Maintenance.NoOp(_) => ()
                  case a =>
                    actTaken = a match {
                      case _: Maintenance.Retrained => "reindex"
                      case _ => "compact"
                    }
                    tActDone = System.nanoTime()
                    acted = true
                }
              }
              Thread.sleep(2000)
            }
            require(acted, s"$name: poller never acted — drift was not detected")
          } catch { case t: Throwable => maintErr = t }
        })
        poller.setDaemon(true)
        poller.start()
        val mHealthy = serveLeg("healthy", built)
        require(tDueFired < 0L,
          s"$name: maintenance fired on a healthy admission index")
        val healthyPolls = polls
        val plantDf = plant(corpusStride).localCheckpoint()
        val nDrift = plantDf.count()
        val tDrift = System.nanoTime()
        DedupStreams.landAppendBatch(
          plantDf, built, "doc_id", "text", batchId = 0L)
        val mDrifted = serveLeg("drifted", built)
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (tActDone < 0L && maintErr == null &&
            System.nanoTime() < deadline) Thread.sleep(200)
        require(maintErr == null, s"$name: maintenance thread died: $maintErr")
        require(tActDone > 0L,
          s"$name: tail landed but no maintenance act completed within the window")
        require(actTaken == expectAct,
          s"$name: wrong maintenance branch fired: " +
            s"expected $expectAct, got $actTaken")
        require(tDrift < tDueFired && tDueFired < tActDone,
          s"$name: causal chain broken: drift=${secs(tDrift)}s " +
            s"due=${secs(tDueFired)}s done=${secs(tActDone)}s")
        val green = DedupStreams.openAdmissionIndex(spark, greenDir)
        val mGreen = serveLeg("on_green", green)
        val deadline2 = System.nanoTime() + 60L * 1000000000L
        while (pollsAfterSwap < 1 && maintErr == null &&
            System.nanoTime() < deadline2) Thread.sleep(200)
        stopPolling = true
        poller.join(15000)
        require(maintErr == null, s"$name: maintenance thread died: $maintErr")
        require(pollsAfterSwap >= 1,
          s"$name: green was never health-polled after the swap")
        Seq(mHealthy, mDrifted, mGreen,
          s""""${name}_act":"$actTaken"""",
          s""""${name}_index_build_s":${"%.1f".format(idxSec)}""",
          s""""${name}_t_drift_s":${"%.1f".format(secs(tDrift))}""",
          s""""${name}_t_due_s":${"%.1f".format(secs(tDueFired))}""",
          s""""${name}_t_act_done_s":${"%.1f".format(secs(tActDone))}""",
          s""""${name}_polls":$polls""",
          s""""${name}_polls_healthy":$healthyPolls""",
          s""""${name}_polls_after_swap":$pollsAfterSwap""",
          s""""${name}_drift_docs":$nDrift""",
          s""""${name}_green_docs":${green.sets.count()}""")
      }
    // the boilerplate drift cluster: 10% of corpus, every doc headed by
    // the same 9-token boilerplate the base hot order has never seen —
    // its shingles stay unranked under the stale order, so mass goes
    // ~C(f,2) per shared shingle (the x210 plant)
    def admDriftPlant(stride: Long): DataFrame =
      spark.range(corpus.count() / 10).select(
        (col("id") + lit(stride * 7)).as("doc_id"),
        concat(
          lit("standard corporate disclaimer header applies to this entire document "),
          expr("concat_ws(' ', transform(sequence(0, 19), " +
            "i -> concat('dw', pmod(hash(id * 37 + i), 100000))))"))
          .as("text"))
    // in-distribution growth: 20% verbatim copies — their shingles are
    // the base's own (ranked), so unranked mass stays ~zero while the
    // tail-fraction budget trips
    def admGrowthPlant(stride: Long): DataFrame =
      corpus.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + lit(stride * 7)).as("doc_id"), col("text"))
    val legs =
      (if (wanted("sessionize")) Seq(measure("sessionize",
        rate => graft.streaming.EventStreams.sessionize(
          toEvents(rate), watermarkDelay = "10 seconds").toDF(),
        "append")) else Seq.empty) ++
      (if (wanted("sliding")) Seq(measure("sliding",
        rate => graft.streaming.EventStreams.slidingCounts(
          rate.select(col("timestamp").as("ts"),
            concat(lit("t"), col("value") % 5).as("event_type"))),
        "update")) else Seq.empty) ++
      admissionLeg("admission", "admidx", 1) ++
      admissionLeg("admission_10x", "admidx10", 10) ++
      annServeLeg("annserve", 1) ++
      annServeLeg("annserve_10x", 10) ++
      annMaintLeg("annmaint") ++
      admMaintLeg("admmaint") ++
      annRetrainLeg("annretrain") ++
      annPolicyLeg("annpolicy") ++
      qannPolicyLeg("qannpolicy") ++
      annPolicyCompactLeg("annpolicyc") ++
      qannPolicyCompactLeg("qannpolicyc") ++
      admPolicyLeg("admpolicy", admDriftPlant, "reindex") ++
      admPolicyLeg("admpolicyc", admGrowthPlant, "compact")
    println(s"""{"offered_rows_per_s":$offeredRps,"run_seconds":$runSeconds,"n_users":$nUsers,"adm_rows_per_batch":$admRowsPerBatch,"cpus":$cpus,"corpus_docs":$nCorpus,${legs.mkString(",")}}""")
    spark.stop()
  }
}
