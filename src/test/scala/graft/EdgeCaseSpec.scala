package graft

import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

import graft.ops.{Curation, Dedup, Similarity, TextAnalysis}

/** Degenerate inputs: empty tables, single rows, nulls, unicode — every
  * operator must return sane empty/singleton results, never throw. */
class EdgeCaseSpec extends SparkSpec {

  private lazy val emptyDocs = spark.createDataFrame(
    new java.util.ArrayList[Row](),
    StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("lang", StringType))))

  test("dedup family on an empty corpus returns empty, not an error") {
    assert(Dedup.exactDedup(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.simhashNearDupPairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("round-6 operators on empty and degenerate inputs") {
    import spark.implicits._
    // empty pair graph -> empty clusters, converged immediately
    val noPairs = emptyDocs.select($"doc_id".as("doc_a"), $"doc_id".as("doc_b"))
    assert(Dedup.nearDupClusters(noPairs).count() == 0)
    // empty corpus: packing and boilerplate removal return empty, not errors
    assert(Curation.packSequences(emptyDocs, "doc_id", "text", "source", 128L).count() == 0)
    assert(Curation.removeBoilerplateLines(emptyDocs, "doc_id", "text", "source").count() == 0)
    // cost-based embedding near-dup on an empty vector set (exact path)
    val emptyEmb = spark.createDataFrame(
      new java.util.ArrayList[Row](),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Dedup.embeddingNearDup(emptyEmb, "vec_id", "embedding",
      threshold = 0.5, bands = 64, bitsPerBand = 4).count() == 0)
    // single doc: its own bin, its text untouched by boilerplate removal
    val one = Seq((1L, "a\nb", "s")).toDF("doc_id", "text", "source")
    assert(Curation.packSequences(one, "doc_id", "text", "source", 128L)
      .as[(String, Long, Long, Long)].collect().toSeq == Seq(("s", 1L, 2L, 0L)))
    assert(Curation.removeBoilerplateLines(one, "doc_id", "text", "source")
      .select($"text").as[String].first() == "a\nb")
  }

  test("text analysis on nulls and unicode") {
    import spark.implicits._
    val docs = Seq(
      (1L, "héllo wörld ünïcode 你好"),
      (2L, ""),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val tc = TextAnalysis.tokenCounts(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(tc(1L).getInt(1) == 4)
    assert(tc(2L).getInt(3) == 0) // n_chars of empty
    assert(tc(3L).isNullAt(1))    // null text → null counts, no crash
    val q = TextAnalysis.qualityScores(docs, "doc_id", "text").count()
    assert(q == 3)
    val lid = TextAnalysis.languageId(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(lid(1L) == "zh") // CJK short-circuit wins on mixed text
    assert(lid(3L) == null)
  }

  test("single-document corpus: no pairs, dedup keeps it") {
    import spark.implicits._
    val one = Seq((7L, "only document here", "s", "en")).toDF("doc_id", "text", "source", "lang")
    assert(Dedup.minhashNearDupPairs(one, "doc_id", "text").count() == 0)
    assert(Dedup.exactDedup(one, "doc_id", "text").count() == 1)
    val (curated, stats) = Curation.curateObserved(one)
    assert(curated.count() == 1 && stats().afterCap == 1)
  }

  test("ANN with empty query set returns empty") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val none = emb.filter($"vec_id" < 0)
    assert(Similarity.bruteForceTopK(emb, none, "vec_id", "embedding").count() == 0)
  }

  test("normalizer and guarded division on all-null input columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq.fill(3)(null.asInstanceOf[String]).toDF("v")
    val out = df.select(graft.gold.Normalize.normalizeCounty($"v").as("n")).collect()
    assert(out.forall(_.isNullAt(0)))
    val div = Seq((null.asInstanceOf[java.lang.Double], null.asInstanceOf[java.lang.Double]))
      .toDF("a", "b")
      .select(graft.clean.Silver.guardedPct(col("a"), col("b"))).collect()
    assert(div.head.isNullAt(0))
  }

  test("BoundedLongSet: serialization roundtrips both saturated and exact buffers") {
    import graft.functions.BoundedLongSet
    val exact = new BoundedLongSet(5)
    Seq(3L, 1L, 3L, 2L).foreach(exact.add)
    val back = BoundedLongSet.fromBytes(5, exact.toBytes)
    assert(!back.saturated && back.sorted.toSeq == Seq(1L, 2L, 3L))
    val sat = new BoundedLongSet(2)
    Seq(1L, 2L, 3L).foreach(sat.add)
    assert(sat.saturated)
    val satBack = BoundedLongSet.fromBytes(2, sat.toBytes)
    assert(satBack.saturated && satBack.sorted.isEmpty)
    // merging a saturated buffer poisons the target (absorbing)
    val fresh = new BoundedLongSet(2); fresh.add(9L)
    fresh.mergeFrom(satBack)
    assert(fresh.saturated)
  }

  test("sessionizeBatch on an empty dataset is empty") {
    import spark.implicits._
    val empty = spark.emptyDataset[graft.streaming.EventStreams.Event]
    assert(graft.streaming.EventStreams.sessionizeBatch(empty).count() == 0)
  }

  test("curateFlow on empty input is empty; perGroupCap n boundary") {
    import spark.implicits._
    val none = Seq.empty[(Long, String, String, String)].toDF("doc_id", "text", "source", "lang")
    assert(Curation.curateFlow(none).count() == 0)
    val three = Seq((1L, "s"), (2L, "s"), (3L, "s")).toDF("id", "g")
    assert(Curation.perGroupCap(three, "g", "id", 3).count() == 3)
  }

  test("round-7 operators on empty and degenerate inputs") {
    import spark.implicits._
    import graft.ops.{EventAnalytics, Similarity, Stats, TextAnalysis}
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, String)]
      .toDF("user_id", "ts", "event_type")

    // funnel over an empty log: all-zero stages, never NULL
    val funnel = EventAnalytics.conversionFunnel(noEvents,
      "user_id", "event_type", "ts", Seq("view", "purchase"))
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(funnel == Seq(("view", 0L), ("purchase", 0L)))

    assert(EventAnalytics.retentionCohorts(noEvents, "user_id", "ts").count() == 0)
    assert(EventAnalytics.gapFillHourly(noEvents, "event_type", "ts").count() == 0)
    assert(Curation.qualityQuantileGate(noDocs, "doc_id", "text", "source", 1, 2).count() == 0)
    assert(Curation.lengthDeciles(noDocs, "doc_id", "text", "source").count() == 0)
    assert(Curation.blocklistScreen(noDocs, "text", Seq("x")).count() == 0)
    assert(TextAnalysis.salientTerms(noDocs, "doc_id", "text", 5L, 3).count() == 0)
    assert(Similarity.keywordSearch(noDocs, "doc_id", "text", Seq("x"), 5).count() == 0)
    assert(Dedup.duplicateSpanStats(noDocs, "doc_id", "text", 3).count() == 0)
    assert(graft.io.Lake.snapshotDiff(
      noDocs.select($"doc_id", $"text"), noDocs.select($"doc_id", $"text"),
      "doc_id", Seq("text")).count() == 0)

    // mergeStats over empty stat tables stays empty; single table is identity
    val emptyStats = Stats.mergeableStats(noDocs, "source", "doc_id")
    assert(Stats.mergeStats(emptyStats, emptyStats).count() == 0)

    // guards hold
    intercept[IllegalArgumentException] {
      Curation.blocklistScreen(noDocs, "text", Nil)
    }
    intercept[IllegalArgumentException] {
      EventAnalytics.conversionFunnel(noEvents, "user_id", "event_type", "ts", Seq("view"))
    }
  }

  test("late round-7 operators on empty and degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import graft.ops.{EventAnalytics, Stats, TextAnalysis}
    val noDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val oneTok = Seq((1L, "solo", "s")).toDF("doc_id", "text", "source")

    // collocations need a bigram: single-token docs yield zero pairs, no throw
    assert(TextAnalysis.collocationLift(oneTok, "text", k = 5, minPairCount = 1L).count() == 0)
    assert(TextAnalysis.collocationLift(noDocs, "text").count() == 0)
    // Zipf fit on a single rank: denominator m·Σx²−(Σx)² = 0 → NaN/NULL slope, not a crash
    val z = TextAnalysis.zipfSlope(oneTok, "text", "source").collect()
    assert(z.length == 1 && z.head.getLong(1) == 1L &&
      (z.head.isNullAt(2) || z.head.getDouble(2).isNaN))
    assert(TextAnalysis.zipfSlope(noDocs, "text", "source").count() == 0)
    // KS over a single group: no pairs; empty: no rows
    assert(TextAnalysis.distributionKS(oneTok.withColumn("v", lit(1L)), "source", "v").count() == 0)
    assert(TextAnalysis.distributionKS(noDocs.withColumn("v", lit(1L)), "source", "v").count() == 0)
    assert(TextAnalysis.charEntropy(noDocs, "doc_id", "text").count() == 0)
    assert(Stats.embeddingProfile(
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"), "embedding").count() == 0)
    val noTsEvents = Seq.empty[(Long, java.sql.Timestamp, Long)]
      .toDF("event_id", "ts", "user_id")
    assert(EventAnalytics.rateLimit(noTsEvents, "user_id", "ts", "event_id", 3).count() == 0)
  }

  test("round-8 operators on empty and degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val docs = Seq((1L, "the quick brown fox", "web")).toDF("doc_id", "text", "source")
    // empty EVAL set: bloom is all-zeros, nothing screens out, corpus survives
    assert(ops.Curation.bloomDecontaminate(docs, emptyDocs, "doc_id", "text", 5)
      .count() == 1)
    // empty CORPUS: nothing to screen
    assert(ops.Curation.bloomDecontaminate(emptyDocs, docs, "doc_id", "text", 5)
      .count() == 0)
    // DSIR with an empty target partition: every c_t = 0, scores are finite
    // (add-1 smoothing), the pool still ranks
    val pool = Seq((1L, "a b a b", "raw"), (2L, "c d c d", "raw")).toDF("doc_id", "text", "source")
    assert(ops.Curation.dsirScores(pool, "doc_id", "text",
      col("source") === "tgt", 64, 10).count() == 2)
    // DSIR on empty input
    assert(ops.Curation.dsirScores(emptyDocs, "doc_id", "text",
      col("source") === "tgt", 64, 10).count() == 0)
    // semanticDedup: singleton clusters have no pairs — everything kept
    val lone = Seq((1L, Array(1.0f, 0.0f), "a"), (2L, Array(0.0f, 1.0f), "b"))
      .toDF("vec_id", "embedding", "label")
    assert(ops.Similarity.semanticDedup(lone, "vec_id", "embedding", "label")
      .count() == 2)
    // semanticDedup on empty input
    val noVecs = Seq.empty[(Long, Array[Float], String)].toDF("vec_id", "embedding", "label")
    assert(ops.Similarity.semanticDedup(noVecs, "vec_id", "embedding", "label")
      .count() == 0)
    // count-min over an empty relation: all-zero matrix, lookups return 0
    val m = emptyDocs.agg(functions.CountMinAgg.count_min(col("text"), 4, 64).as("m"))
      .head.getSeq[Long](0)
    assert(m.length == 4 * 64 && m.forall(_ == 0L))
  }

  test("round-8 second-block operators on empty and degenerate inputs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // kmeans: empty corpus → empty result, not an analysis error
    val noVecs = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(ops.Clustering.kmeansAssign(noVecs, "vec_id", "embedding", k = 4).count() == 0)
    // kmeans: k exceeds corpus size → only the available seeds become clusters
    val two = Seq((1L, Seq(0.0f, 0.0f)), (2L, Seq(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val assigned = ops.Clustering.kmeansAssign(two, "vec_id", "embedding", k = 8)
      .collect().map(_.getLong(1)).toSet
    assert(assigned == Set(0L, 1L))
    // HLL over an empty relation: all-zero registers
    val regs = Seq.empty[Long].toDF("k")
      .agg(functions.HllAgg.hll_registers(col("k"), 4)).head.getSeq[Int](0)
    assert(regs.length == 16 && regs.forall(_ == 0))
    // AUC with a single class present: numerator defined, ratio NULL
    val onePos = ops.Stats.scoreAuc(
      Seq((0.5, true), (0.7, true)).toDF("s", "y"), "s", "y").head
    assert(onePos.getLong(onePos.fieldIndex("n_neg")) == 0L)
    assert(onePos.isNullAt(onePos.fieldIndex("auc_micro")))
    // LSH tuning with an empty truth set: candidates still counted,
    // recall NULL instead of a division blowup
    val docs2 = Seq((1L, "a b c d e"), (2L, "a b c d e")).toDF("doc_id", "text")
    val noTruth = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val tuned = ops.Dedup.lshTuningReport(docs2, "doc_id", "text", noTruth,
      sigLen = 4, bandConfigs = Seq(4, 2)).collect()
    assert(tuned.length == 2)
    tuned.foreach { r =>
      assert(r.getLong(r.fieldIndex("n_truth")) == 0L)
      assert(r.isNullAt(r.fieldIndex("recall_micro")))
      assert(r.getLong(r.fieldIndex("n_candidates")) > 0L) // identical docs collide
    }
    // log-bucket quantiles: non-positive values clamp into the q=1 bucket
    val negs = Seq(("g", -5.0), ("g", 0.0), ("g", 2.0)).toDF("grp", "v")
    val lq = ops.Stats.logBucketQuantiles(negs, "grp", "v", pcts = Seq(50))
      .head
    assert(lq.getLong(lq.fieldIndex("n_vals")) == 3L)
    assert(lq.getLong(lq.fieldIndex("est_q_micro")) >= 1L)
    // covariance over an empty relation: zero cells, no rows
    assert(ops.Stats.covarianceMatrix(noVecs, "embedding").count() == 0)
    // BPE over an empty corpus: no merges
    assert(ops.Bpe.bpeMerges(Seq.empty[String].toDF("text"), "text").count() == 0)
    // skew report over an empty relation: zero row with empty top key
    val sk = ops.Skew.skewReport(Seq(("empty.k", Seq.empty[Long].toDF("k"), "k"))).head
    assert(sk.getLong(sk.fieldIndex("n_rows")) == 0L)
    assert(sk.getLong(sk.fieldIndex("skew_ratio_micro")) == 0L)
  }

  test("io layer rejects adversarial inputs loudly (r11 ask #10)") {
    // XLSX zip-bomb guard: the DECOMPRESSED stream is metered, so a sheet
    // that inflates past the cap aborts instead of exhausting driver
    // memory — the central-directory size field is untrusted by design
    val bomb = java.nio.file.Files.createTempFile("bomb", ".xlsx").toFile
    TestXlsx.write(bomb, (1 to 2000).map(i => Seq(s"#${"x" * 100}$i")))
    val e1 = intercept[IllegalArgumentException] {
      TestXlsx.read(bomb, maxEntryBytes = 4096)
    }
    assert(e1.getMessage.contains("zip-bomb guard"), e1.getMessage)
    // same file parses whole under the default cap
    assert(TestXlsx.read(bomb).size == 2000)

    // csvWithHeaderOffset: file shorter than the promised header row
    val shortCsv = java.nio.file.Files.createTempFile("short", ".csv")
    java.nio.file.Files.writeString(shortCsv, "only\ntwo lines\n")
    val e2 = intercept[IllegalArgumentException] {
      io.Readers.csvWithHeaderOffset(spark, shortCsv.toString, headerRow = 4)
    }
    assert(e2.getMessage.contains("fewer than 5 lines"), e2.getMessage)

    // Lake path builder: traversal and scheme-smuggling segments refused
    intercept[IllegalArgumentException] { io.Lake.path("/base", "silver", "d", "../../etc") }
    intercept[IllegalArgumentException] { io.Lake.path("/base", "..", "d", "2024-01-01") }
    intercept[IllegalArgumentException] { io.Lake.path("/base", "silver", "a/b", "2024-01-01") }
    intercept[IllegalArgumentException] { io.Lake.path("/base", "silver", "s3a:", "2024-01-01") }
    intercept[IllegalArgumentException] { io.Lake.path("/base", "silver", "d", "2024-1-1") }
    assert(io.Lake.path("/base", "silver", "housing", "2024-01-01")
      == "/base/silver/housing/ingest_date=2024-01-01")
  }

  test("round-14 operators on empty and degenerate inputs") {
    import spark.implicits._
    import graft.ops.Multimodal
    // codec contract: empty media table -> empty report; tiny (< 12-byte)
    // and empty payloads sniff as unknown/stub, never throw
    val emptyMedia = spark.createDataFrame(
      new java.util.ArrayList[Row](),
      StructType(Seq(StructField("media_id", LongType),
        StructField("payload", BinaryType))))
    assert(Multimodal.codecSupportReport(emptyMedia).count() == 0)
    val tiny = Seq((1L, Array[Byte](0x42)), (2L, Array.emptyByteArray))
      .toDF("media_id", "payload")
    val modes = Multimodal.codecSupport(tiny)
      .as[(Long, String, String, Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(modes(1L) == (("unknown", "stub", None)) &&
      modes(2L) == (("unknown", "stub", None)))
    // OPH recall report: empty corpus -> empty report (no div-zero, no
    // empty-reduce error); single doc -> no pairs on either leg
    assert(Dedup.ophRecallReport(emptyDocs, "doc_id", "text",
      numBins = 16, bandConfigs = Seq(8)).count() == 0)
    val one = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.ophRecallReport(one, "doc_id", "text",
      numBins = 16, bandConfigs = Seq(8)).count() == 0)
    // bad geometry fails loudly, not with a downstream shape error
    intercept[IllegalArgumentException] {
      Dedup.ophRecallReport(one, "doc_id", "text", numBins = 16, bandConfigs = Seq(7))
    }
  }
}
