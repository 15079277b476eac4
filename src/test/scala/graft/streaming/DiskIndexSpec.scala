package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The on-disk index families' path discipline (r15 verdict #1): every
  * location goes through the Hadoop filesystem API, so the indexes work on
  * any configured store (`file:`, `hdfs:`, `abfss:`, …) and an UNREACHABLE
  * scheme fails loudly — an append tail must never silently read as empty
  * just because the path wasn't a local file. In package graft.streaming
  * deliberately: the contract under test is [[DiskIndex]]'s, the shared
  * plumbing both families ride. */
class DiskIndexSpec extends graft.SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("v", LongType)))

  test("appendTail discovers batch dirs through an explicit file: URI") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("diskidx").toString
    // no batch landed yet: empty-with-schema, under BOTH spellings
    assert(DiskIndex.appendTail(spark, root, schema).isEmpty)
    assert(DiskIndex.appendTail(spark, s"file:$root", schema).isEmpty)
    Seq((1L, 10L)).toDF("doc_id", "v").write.parquet(s"$root/batch=0")
    Seq((2L, 20L)).toDF("doc_id", "v").write.parquet(s"$root/batch=1")
    // a stray non-batch dir must not be swept into the tail
    Seq((99L, 99L)).toDF("doc_id", "v").write.parquet(s"$root/scratch")
    def ids(dir: String): Seq[Long] =
      DiskIndex.appendTail(spark, dir, schema)
        .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids(root) == Seq(1L, 2L))
    // the scheme-qualified spelling of the SAME location sees the same tail
    assert(ids(s"file:$root") == Seq(1L, 2L))
  }

  test("appendTail survives an in-flight (uncommitted) batch dir — reads its committed rows: zero") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("diskidx-inflight").toString
    // a batch dir exists from write-job start but has no committed parquet
    // footers until job commit — exactly what a concurrent health poll
    // sees mid-maintenance (caught live by the StreamBench policy leg)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/batch=0"))
    val tail = DiskIndex.appendTail(spark, root, schema)
    assert(tail.schema.fieldNames.toSeq == Seq("doc_id", "v"))
    assert(tail.count() == 0L,
      "an uncommitted batch must read as zero rows, not throw on inference")
    // and a committed batch beside it still reads in full
    Seq((7L, 70L)).toDF("doc_id", "v").write.parquet(s"$root/batch=1")
    assert(DiskIndex.appendTail(spark, root, schema)
      .select($"doc_id").as[Long].collect().toSeq == Seq(7L))
  }

  test("appendTail fails loudly on an unreachable scheme, never empty") {
    val ex = intercept[Exception] {
      DiskIndex.appendTail(spark, "nosuchscheme://bucket/index/appends", schema)
    }
    assert(ex.getMessage != null &&
      ex.getMessage.toLowerCase.contains("nosuchscheme"),
      s"expected a scheme-naming failure, got: ${ex.getMessage}")
  }

  test("the queries' temp directories are file:// URIs deleted when their FileSystem closes") {
    val dirs = Seq("x199idx", "x199idx", "graft_x55_orc")
      .map(graft.queries.Extensions.tempDir(spark, _))
    assert(dirs.distinct.size == dirs.size)
    dirs.foreach { d =>
      assert(d.startsWith("file:///") && d == DiskIndex.qualifiedUri(spark, d), d)
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.getFileStatus(p).isDirectory, d)
      // true only if the directory was registered for deletion on close
      assert(fs.cancelDeleteOnExit(p), s"$d is not deleted when its FileSystem closes")
      fs.delete(p, true)
    }
  }

  test("qualified URIs unify path spellings and separate real locations") {
    val root = java.nio.file.Files.createTempDirectory("diskidx-uri").toString
    val viaFile = DiskIndex.qualifiedUri(spark, s"file:$root")
    val viaBare = DiskIndex.qualifiedUri(spark, root)
    val viaDot = DiskIndex.qualifiedUri(spark, s"$root/sub/..")
    assert(viaFile == viaBare,
      s"two spellings of one location must qualify identically: $viaFile vs $viaBare")
    // `..` segments collapse — `dir` and `dir/sub/..` are ONE physical
    // directory and must qualify to ONE string (r16 ADVICE: an uncollapsed
    // `..` spelling bypassed the blue/green guard and derived a second
    // catalog name for the same location)
    assert(viaDot == viaBare,
      s"dot-dot spelling must unify with the plain one: $viaDot vs $viaBare")
    assert(DiskIndex.qualifiedUri(spark, s"$root/sub/../sub") ==
      DiskIndex.qualifiedUri(spark, s"$root/sub"))
    assert(DiskIndex.qualifiedUri(spark, s"$root/other") != viaBare)
    assert(DiskIndex.tableName(spark, "t", s"$root/sub/..")
      == DiskIndex.tableName(spark, "t", root))
    // catalog names follow the same rule — reopen under any spelling
    // reuses the registration; a different location never collides
    assert(DiskIndex.tableName(spark, "t", s"file:$root")
      == DiskIndex.tableName(spark, "t", root))
    assert(DiskIndex.tableName(spark, "t", s"$root/other")
      != DiskIndex.tableName(spark, "t", root))
  }

  test("quantized index: exact with refine >= cell population, reopenable, 4x smaller cells") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("annq").toString
    // 40 vectors in 4 clusters around the axes of a 4-dim space, plus a
    // deterministic per-vector wobble so cosine ties are broken by value
    val corpus = (0 until 40).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val q = graft.streaming.AnnStreams.buildQuantizedIndex(
      corpus, "vec_id", "embedding", s"$tmp/q", nlist = 4, trained = false)
    val f = graft.streaming.AnnStreams.buildServingIndex(
      corpus, "vec_id", "embedding", s"$tmp/f", nlist = 4, trained = false)
    val arrivals = (100 until 110).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 5 + d) % 7))
      (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), v.toSeq)
    }.toDF("query_id", "ts", "embedding")
    def served(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long, Double)] =
      df.select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    // refine large enough to shortlist EVERY probed candidate: the exact
    // re-rank then sees all of them, so quantization cannot change the
    // answer — quantized == float index, score for score
    val exact = served(graft.streaming.AnnStreams.annServeQuantizedBatch(
      arrivals, q, "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 40))
    val float = served(graft.streaming.AnnStreams.annServeBatch(
      arrivals, f, "query_id", "ts", "embedding", k = 3, nprobe = 2))
    assert(exact == float,
      s"refine >= cell size must equal the float index:\n$exact\nvs\n$float")
    // served scores are exact cosines even at tight refine
    val tight = served(graft.streaming.AnnStreams.annServeQuantizedBatch(
      arrivals, q, "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 1))
    val floatByKey = float.map(r => (r._1, r._3) -> r._4).toMap
    tight.foreach { case (qid, _, item, cs) =>
      floatByKey.get((qid, item)).foreach(expected =>
        assert(cs == expected, s"re-ranked score must be the exact cosine for ($qid,$item)"))
    }
    // driver-bounce reopen serves identically
    spark.catalog.listTables().filter(_.name.startsWith("graft_annq")).collect()
      .foreach(t => spark.sql(s"DROP TABLE ${t.name}"))
    val reopened = graft.streaming.AnnStreams.openQuantizedIndex(spark, s"$tmp/q")
    assert(served(graft.streaming.AnnStreams.annServeQuantizedBatch(
      arrivals, reopened, "query_id", "ts", "embedding",
      k = 3, nprobe = 2, refine = 40)) == exact)
    // the byte claim: int8 cells materially smaller than float cells
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(p))
    }
    val qb = dirBytes(s"$tmp/q/cellsq"); val fb = dirBytes(s"$tmp/f/cells")
    assert(qb < fb, s"quantized cells must be smaller: $qb vs $fb bytes")
  }

  test("quantized index: streamed appends serve like a rebuild; compaction identical") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("annq-append").toString
    // ids 0,1 carry the axis seeds so the base index and a full rebuild
    // derive IDENTICAL seeded centroids
    val base = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val late = Seq(
      (3L, Seq(0.1f, 0.9f, 0.0f, 0.0f)), (4L, Seq(0.95f, 0.05f, 0.0f, 0.0f)))
    val full = base.unionByName(late.toDF("vec_id", "embedding"))
    val built = graft.streaming.AnnStreams.buildQuantizedIndex(
      base, "vec_id", "embedding", s"$tmp/idx", nlist = 2, trained = false)
    assert(built.cellsQAppends.isEmpty && built.vecsAppends.isEmpty)
    // stream the two late vectors in across two micro-batches
    val input = MemoryStream[(Long, Seq[Float])](spark)
    val q = graft.streaming.AnnStreams.appendQuantizedStream(
      input.toDF().toDF("vec_id", "embedding"), built,
      "vec_id", "embedding", s"$tmp/ckpt")
    try {
      input.addData(late.take(1)); q.processAllAvailable()
      input.addData(late.drop(1)); q.processAllAvailable()
    } finally q.stop()
    val reopened = graft.streaming.AnnStreams.openQuantizedIndex(spark, s"$tmp/idx")
    assert(reopened.cellsQAppends.count() == 2 && reopened.vecsAppends.count() == 2)
    val arrivals = Seq(
      (100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), Seq(1.0f, 0.05f, 0.0f, 0.0f)),
      (101L, java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), Seq(0.05f, 1.0f, 0.0f, 0.0f)))
      .toDF("query_id", "ts", "embedding")
    def served(idx: graft.streaming.AnnStreams.QuantizedIndex) =
      graft.streaming.AnnStreams.annServeQuantizedBatch(
        arrivals, idx, "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 2)
        .select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
        .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val viaAppends = served(reopened)
    // ground truth: rebuild over the whole corpus — same seeded centroids
    val rebuilt = graft.streaming.AnnStreams.buildQuantizedIndex(
      full, "vec_id", "embedding", s"$tmp/idx-full", nlist = 2, trained = false)
    assert(viaAppends == served(rebuilt), s"$viaAppends vs ${served(rebuilt)}")
    // appended vectors actually serve (id 3 answers the y-axis query)
    assert(viaAppends.filter(_._1 == 101L).map(_._3).contains(3L))
    // blue/green compaction: same results, empty tails, old dir readable
    val compacted = graft.streaming.AnnStreams.compactQuantizedIndex(
      spark, s"$tmp/idx", s"$tmp/idx-compact")
    assert(compacted.cellsQAppends.isEmpty && compacted.vecsAppends.isEmpty)
    assert(compacted.cellsQ.count() == 5 && compacted.vecs.count() == 5)
    assert(served(compacted) == viaAppends)
    assert(served(graft.streaming.AnnStreams.openQuantizedIndex(
      spark, s"$tmp/idx")) == viaAppends)
  }

  test("streaming quantized serve: two chained heap aggregates, stream == batch twin") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val tmp = java.nio.file.Files.createTempDirectory("annq-stream").toString
    val corpus = (0 until 24).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 7 + d * 3) % 11))
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val idx = graft.streaming.AnnStreams.buildQuantizedIndex(
      corpus, "vec_id", "embedding", s"$tmp/idx", nlist = 4, trained = false)
    def ts(s: Int) = new java.sql.Timestamp(1704067200000L + s * 1000L)
    val arrivals = (0 until 6).map { i =>
      val axis = i % 4
      val v = Array.tabulate(4)(d =>
        (if (d == axis) 1.0f else 0.0f) + 0.01f * ((i * 5 + d) % 7))
      (100L + i, ts(i), v.toSeq)
    }
    val input = MemoryStream[(Long, java.sql.Timestamp, Seq[Float])](spark)
    val q = graft.streaming.AnnStreams.annServeQuantized(
      input.toDF().toDF("query_id", "ts", "embedding"), idx,
      "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 2,
      watermarkDelay = "0 seconds")
      .writeStream.format("parquet").option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .outputMode("append").start()
    try {
      input.addData(arrivals.take(3)); q.processAllAvailable()
      input.addData(arrivals.drop(3)); q.processAllAvailable()
      // a far-future flusher pushes the watermark past every real arrival
      input.addData(Seq((999L, ts(100000), Seq(0.5f, 0.5f, 0.0f, 0.0f))))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .filter($"query_id" < 900)
      .select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    val expected = graft.streaming.AnnStreams.annServeQuantizedBatch(
      arrivals.toDF("query_id", "ts", "embedding"), idx,
      "query_id", "ts", "embedding", k = 3, nprobe = 2, refine = 2)
      .select($"query_id", $"rank".cast("int"), $"item_id", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got == expected, s"stream:\n$got\nbatch:\n$expected")
  }

  test("rebuilding into a used location clears stale append tails") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stale-tail").toString
    // serving family: build, land an append, prove the tail is live
    val c1 = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val idx1 = AnnStreams.buildServingIndex(
      c1, "vec_id", "embedding", s"$tmp/ann", nlist = 2, trained = false)
    AnnStreams.landAppendBatch(
      Seq((5L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"),
      idx1, "vec_id", "embedding", batchId = 0L)
    assert(AnnStreams.openServingIndex(spark, s"$tmp/ann").appends.count() == 1)
    // REBUILD into the same location (new corpus, new centroids): the old
    // tail was assigned under centroids that no longer exist — it must be
    // cleared, not silently resurrected into the new handle
    val rebuilt = AnnStreams.buildServingIndex(
      Seq((10L, Seq(0.2f, 0.8f)), (11L, Seq(0.8f, 0.2f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$tmp/ann", nlist = 2, trained = false)
    assert(rebuilt.appends.isEmpty,
      "rebuild must not resurrect a stale append tail")
    assert(AnnStreams.openServingIndex(spark, s"$tmp/ann").appends.isEmpty)
    // admission family: same contract through reindexAdmission's writeIndex
    val d1 = Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val adm = DedupStreams.buildAdmissionIndex(d1, "doc_id", "text", s"$tmp/adm")
    DedupStreams.landAppendBatch(
      Seq((2L, "zeta eta theta iota kappa")).toDF("doc_id", "text"),
      adm, "doc_id", "text", batchId = 0L)
    assert(DedupStreams.openAdmissionIndex(spark, s"$tmp/adm").setsAppends.count() == 1)
    val admRebuilt = DedupStreams.buildAdmissionIndex(
      Seq((9L, "totally different corpus now here")).toDF("doc_id", "text"),
      "doc_id", "text", s"$tmp/adm")
    assert(admRebuilt.setsAppends.isEmpty && admRebuilt.prefixAppends.isEmpty)
  }

  test("blue/green guards reject two spellings of the same location") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("diskidx-bg").toString
    AnnStreams.buildServingIndex(
      Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)), (2L, Seq(0.9f, 0.1f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", s"$tmp/idx", nlist = 2, trained = false)
    val ex = intercept[IllegalArgumentException] {
      AnnStreams.compactIndex(spark, s"$tmp/idx", s"file:$tmp/idx")
    }
    assert(ex.getMessage.contains("blue/green"))
    // the `..` spelling of the SAME directory is also an in-place rewrite
    val exDot = intercept[IllegalArgumentException] {
      AnnStreams.compactIndex(spark, s"$tmp/idx", s"$tmp/idx/sub/..")
    }
    assert(exDot.getMessage.contains("blue/green"))
    // and a genuinely different target works, through the file: spelling
    val compacted = AnnStreams.compactIndex(spark, s"$tmp/idx", s"file:$tmp/idx2")
    assert(compacted.cells.count() == 3 && compacted.appends.isEmpty)
  }

  test("full lifecycle through an explicit file:// URI: build -> append -> compact -> retrain -> serve") {
    import spark.implicits._
    // every location in the cycle is the ://-spelled qualified URI — the
    // exact discipline the lake deployment and the oracled fixture twins
    // (queries/Extensions.tempDir) run under
    val root = DiskIndex.qualifiedUri(spark,
      java.nio.file.Files.createTempDirectory("cycle").toString)
    assert(root.startsWith("file:///"), s"qualified spelling: $root")
    def vecs(ids: Range) = ids.map { i =>
      (i.toLong, Seq.tabulate(4)(d => 0.1f * ((i * 5 + d * 7) % 11) + 0.01f))
    }.toDF("vec_id", "embedding")
    val built = AnnStreams.buildServingIndex(vecs(0 until 16),
      "vec_id", "embedding", s"$root/idx", nlist = 4, trained = false)
    AnnStreams.landAppendBatch(vecs(16 until 24), built,
      "vec_id", "embedding", batchId = 0L)
    val opened = AnnStreams.openServingIndex(spark, s"$root/idx")
    assert(opened.appends.count() == 8L)
    def serve(idx: AnnStreams.ServingIndex): Seq[(Long, Long)] = {
      val q = vecs(0 until 24).filter($"vec_id" % 7 === 0)
        .select($"vec_id".as("query_id"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
          $"embedding")
      AnnStreams.annServeBatch(q, idx, "query_id", "ts", "embedding",
        k = 3, nprobe = 4)
        .select($"query_id", $"item_id").as[(Long, Long)]
        .collect().sorted.toSeq
    }
    val before = serve(opened)
    assert(before.nonEmpty && before.exists(_._2 >= 16L),
      "appended vectors must be servable through the URI-opened handle")
    // compact folds the tail (results identical by construction)
    val compacted = AnnStreams.compactIndex(spark, s"$root/idx", s"$root/c")
    assert(compacted.appends.isEmpty && compacted.cells.count() == 24L)
    assert(serve(compacted) == before)
    // retrain re-derives the quantizer at the scheduled geometry
    val next = AnnStreams.scheduledNlist(AnnStreams.indexHealth(compacted))
    val green = AnnStreams.retrainIndex(spark, s"$root/c", s"$root/g",
      trained = false, newNlist = next)
    assert(green.nlist == next && green.cells.count() == 24L)
    // exhaustive probe is geometry-invariant — same served pairs
    val q = vecs(0 until 24).filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("query_id"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"),
        $"embedding")
    val exhaustive = AnnStreams.annServeBatch(q,
      AnnStreams.openServingIndex(spark, s"$root/g"),
      "query_id", "ts", "embedding", k = 3, nprobe = next)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().sorted.toSeq
    val exhaustiveBefore = AnnStreams.annServeBatch(q, compacted,
      "query_id", "ts", "embedding", k = 3, nprobe = 4)
      .select($"query_id", $"item_id").as[(Long, Long)].collect().sorted.toSeq
    assert(exhaustive == exhaustiveBefore)
  }
}
