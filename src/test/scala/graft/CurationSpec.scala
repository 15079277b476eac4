package graft

import org.apache.spark.sql.functions._

import graft.ops.Curation

/** Curation ops: deterministic sampling, per-group caps, and the composed
  * pipeline's stage accounting. */
class CurationSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("uniform sample is seed-deterministic and near the target fraction") {
    val a = Curation.uniformSample(docs, 0.3).select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Curation.uniformSample(docs, 0.3).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    val frac = a.size.toDouble / docs.count()
    assert(frac > 0.15 && frac < 0.45, s"fraction $frac")
  }

  test("uniformHashSample equals a driver-side SplitMix64 replay; seed redraws it") {
    import spark.implicits._
    val ids = docs.select($"doc_id").collect().map(_.getLong(0))
    def want(seed: Long) = ids
      .map(id => (graft.functions.Ops.splitmix64(id ^ seed) & Long.MaxValue, id))
      .sorted.take(100).map { case (p, id) => id -> p }.toMap
    def got(seed: Long) = Curation.uniformHashSample(docs, "doc_id", 100, seed)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(7L) == want(7L))
    assert(got(13L) == want(13L))
    assert(got(7L) != got(13L), "different seeds must redraw the sample")
  }

  test("stratified sample respects per-stratum fractions") {
    import spark.implicits._
    val sampled = Curation.stratifiedSample(docs, "lang",
      Map("en" -> 0.5, "de" -> 0.1, "es" -> 0.0, "fr" -> 0.0, "zh" -> 0.0))
    val counts = sampled.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("es") && !counts.contains("fr") && !counts.contains("zh"))
    val enTotal = docs.filter($"lang" === "en").count()
    assert(counts.getOrElse("en", 0L) > enTotal / 5 && counts("en") < enTotal)
  }

  test("perGroupCap keeps at most n per group, lowest ids first") {
    import spark.implicits._
    val capped = Curation.perGroupCap(docs, "source", "doc_id", 5)
    val bySource = capped.groupBy($"source").count().as[(String, Long)].collect()
    assert(bySource.forall(_._2 <= 5))
    // keep-first: each source's kept ids are its 5 smallest
    val keptIds = capped.select($"source", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val allIds = docs.select($"source", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(5).toSeq).toMap
    assert(keptIds == allIds)
  }

  test("curate: stages are monotonically decreasing and report is consistent") {
    val (curated, statsThunk) = Curation.curateObserved(docs, maxPerSource = 10)
    val nCurated = curated.count()
    val stats = statsThunk() // safe: the count above ran the action
    assert(stats.input == docs.count())
    assert(stats.afterQuality <= stats.input)
    assert(stats.afterLang <= stats.afterQuality)
    assert(stats.afterDedup <= stats.afterLang)
    assert(stats.afterCap <= stats.afterDedup)
    assert(nCurated == stats.afterCap)
    assert(stats.afterCap > 0)
    // cap actually binds per source
    import spark.implicits._
    assert(curated.groupBy($"source").count().as[(String, Long)].collect().forall(_._2 <= 10))
  }

  test("waterfillAlloc: small sources keep all, big ones cap at a shared level") {
    // budget 100 over (10, 20, 100, 200): 10 and 20 fit under the level,
    // leaving 70 for the two big sources -> 35 each
    val alloc = Curation.waterfillAlloc(
      Seq("a" -> 10L, "b" -> 20L, "c" -> 100L, "d" -> 200L), 100L)
    assert(alloc == Map("a" -> 10L, "b" -> 20L, "c" -> 35L, "d" -> 35L))
    // budget covers everything -> identity
    val all = Curation.waterfillAlloc(Seq("a" -> 10L, "b" -> 20L), 1000L)
    assert(all == Map("a" -> 10L, "b" -> 20L))
    // budget 0 -> nothing
    val none = Curation.waterfillAlloc(Seq("a" -> 10L, "b" -> 20L), 0L)
    assert(none == Map("a" -> 0L, "b" -> 0L))
  }

  test("tokenBudgetMix admits prefix-by-id per source within its allocation") {
    import spark.implicits._
    // src A: 3 docs x 4 tokens; src B: 2 docs x 2 tokens. budget 10:
    // B (4 total) fits under the level; A caps at 6 -> its first doc (4
    // tokens) admits, the second would hit 8 > 6 and drops.
    val corpus = Seq(
      (1L, "w w w w", "A"), (2L, "w w w w", "A"), (3L, "w w w w", "A"),
      (4L, "w w", "B"), (5L, "w w", "B")).toDF("doc_id", "text", "source")
    val kept = Curation.tokenBudgetMix(corpus, "doc_id", "text", "source", 10L)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
    // columns pass through untouched
    val cols = Curation.tokenBudgetMix(corpus, "doc_id", "text", "source", 10L).columns.toSeq
    assert(cols == Seq("source", "doc_id", "text"))
  }

  test("removeBoilerplateLines: per-source frequency, order-preserving reassembly") {
    import spark.implicits._
    // "ad" is boilerplate in source A (3 docs >= minDocs=3) but rare in B;
    // doc 4 is ALL boilerplate -> empty text, still present; line order and
    // duplicate non-boilerplate lines within a doc are preserved
    val docs = Seq(
      (1L, "ad\nkeep one\nkeep one\nmid", "A"),
      (2L, "ad\nunique two", "A"),
      (3L, "mid\nad", "A"),
      (4L, "ad", "A"),
      (5L, "ad\nother corpus", "B"),
      (6L, "solo", "B")).toDF("doc_id", "text", "source")
    val got = Curation.removeBoilerplateLines(docs, "doc_id", "text", "source", minDocs = 3L)
      .orderBy($"doc_id").as[(Long, String, String)].collect().toSeq
    // in A: "ad" (docs 1,2,3,4) removed; "mid" (docs 1,3) kept (< 3)
    assert(got == Seq(
      (1L, "keep one\nkeep one\nmid", "A"),
      (2L, "unique two", "A"),
      (3L, "mid", "A"),
      (4L, "", "A"),
      (5L, "ad\nother corpus", "B"),
      (6L, "solo", "B")))
    // schema/columns pass through unchanged
    assert(Curation.removeBoilerplateLines(docs, "doc_id", "text", "source")
      .columns.toSeq == Seq("doc_id", "text", "source"))
  }

  test("packSequences: next-fit per source in id order; oversized doc gets its own bin") {
    import spark.implicits._
    // source A capacity 10: [4, 5] fit bin 0; 3 overflows -> bin 1; the
    // 25-token doc overflows -> bin 2 alone; 2 -> bin 3.
    // source B: one doc -> bin 0 even though oversized.
    val docs = Seq(
      (1L, "w w w w", "A"), (2L, "w w w w w", "A"), (3L, "w w w", "A"),
      (4L, ("w " * 24).trim + " w", "A"), (5L, "w w", "A"),
      (10L, ("w " * 11).trim, "B")).toDF("doc_id", "text", "source")
    val got = Curation.packSequences(docs, "doc_id", "text", "source", capacity = 10L)
      .orderBy($"source", $"doc_id")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("A", 1L, 4L, 0L), ("A", 2L, 5L, 0L), ("A", 3L, 3L, 1L),
      ("A", 4L, 25L, 2L), ("A", 5L, 2L, 3L),
      ("B", 10L, 11L, 0L)))
    // invariant: no multi-doc bin exceeds capacity
    val sums = got.groupBy(r => (r._1, r._4)).view.mapValues(g => (g.map(_._3).sum, g.size))
    assert(sums.forall { case (_, (s, n)) => n == 1 || s <= 10L })
  }

  test("packSequencesStriped: exact striped replay, ≤1 extra bin per stripe, ≡ plain when one stripe") {
    import spark.implicits._
    val rnd = new scala.util.Random(427)
    for (iter <- 1 to 4) {
      val capacity = 8L + rnd.nextInt(8)
      val stripeSpan = 4L + rnd.nextInt(6)
      val docsSeq = (1 to 60).map { i =>
        val id = i * (1 + rnd.nextInt(3)) + iter * 200 // gappy, deterministic ids
        (id.toLong, ("w " * (1 + rnd.nextInt(12))).trim, s"s${rnd.nextInt(3)}")
      }.distinctBy(_._1)
      val docs = docsSeq.toDF("doc_id", "text", "source")
      val got = Curation.packSequencesStriped(
        docs, "doc_id", "text", "source", capacity, stripeSpan)
        .as[(String, Long, Long, Long)].collect().toSeq.sortBy(t => (t._1, t._2))
      // driver oracle: per source in doc_id order, next-fit RESTARTED at
      // every stripe boundary, bins numbered sequentially per source
      val want = docsSeq.map { case (id, text, src) =>
        (src, id, text.split("\\s+").length.toLong) }
        .groupBy(_._1).toSeq.flatMap { case (src, grp) =>
          var bin = -1L; var sum = 0L; var stripe = Long.MinValue
          grp.sortBy(_._2).map { case (_, id, n) =>
            val st = id / stripeSpan
            if (st != stripe || sum + n > capacity) { bin += 1L; sum = n; stripe = st }
            else sum += n
            (src, id, n, bin)
          }
        }.sortBy(t => (t._1, t._2))
      assert(got == want, s"iter $iter (cap=$capacity span=$stripeSpan)")
      // bin-count bound: ≤ plain packing + (stripes − 1) per source
      val plain = Curation.packSequences(docs, "doc_id", "text", "source", capacity)
        .as[(String, Long, Long, Long)].collect().toSeq
      docsSeq.map(_._3).distinct.foreach { src =>
        val nStriped = got.filter(_._1 == src).map(_._4).distinct.size
        val nPlain = plain.filter(_._1 == src).map(_._4).distinct.size
        val nStripes = got.filter(_._1 == src).map(_._2 / stripeSpan).distinct.size
        assert(nStriped <= nPlain + nStripes - 1,
          s"iter $iter $src: $nStriped bins vs plain $nPlain + ${nStripes - 1}")
      }
    }
    // degenerate stripe (everything in one stripe) ≡ the plain spelling
    val docs = Seq((1L, "w w w", "A"), (2L, "w w", "A"), (3L, "w w w w", "A"),
      (9L, "w", "B")).toDF("doc_id", "text", "source")
    val one = Curation.packSequencesStriped(docs, "doc_id", "text", "source",
      capacity = 5L, stripeSpan = 1000000L)
      .as[(String, Long, Long, Long)].collect().toSet
    val ref = Curation.packSequences(docs, "doc_id", "text", "source", 5L)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(one == ref)
  }

  test("dataCard derives ratios exactly from its own integer numerators") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one two three", "A", "en"),
      (2L, "four five", "A", "fr"),
      (3L, "six", "A", "en"),
      (4L, "seven eight nine ten", "B", "de")).toDF("doc_id", "text", "source", "lang")
    val card = Curation.dataCard(docs, "doc_id", "text", "source", "lang")
    // exact column set and order (ratios trail the integer numerators)
    assert(card.columns.toSeq == Seq("source", "n_docs", "total_tokens",
      "total_chars", "n_langs", "n_en", "mean_chars", "en_frac"))
    val rows = card.orderBy($"source").collect()
    val a = rows(0)
    assert(a.getString(0) == "A" && a.getLong(1) == 3L)
    assert(a.getLong(2) == 6L)                    // 3 + 2 + 1 tokens
    assert(a.getLong(3) == ("one two three".length + "four five".length + "six".length).toLong)
    assert(a.getLong(4) == 2L && a.getLong(5) == 2L)
    // ratios reconstruct the integer numerators EXACTLY (n_docs <= 2^26 so
    // the double product is exact) — this is the derivation the x27 oracle
    // deliberately leaves un-oracled
    rows.foreach { r =>
      val (nDocs, totalChars, nEn) = (r.getLong(1), r.getLong(3), r.getLong(5))
      assert(r.getDouble(6) * nDocs == totalChars.toDouble)
      assert(r.getDouble(7) * nDocs == nEn.toDouble)
    }
  }

  test("decontaminate drops exactly the docs sharing a k-gram with the eval set") {
    import spark.implicits._
    // eval doc 100 shares the 5-gram "one two three four five" with corpus
    // doc 1 (mid-string) and doc 2 (prefix); docs 3/4 are clean; doc 5 is a
    // SHORT doc (< 5 tokens) whose whole-doc gram matches nothing.
    val eval = Seq((100L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta one two three four five gamma"),
      (2L, "one two three four five"),
      (3L, "one two three gamma delta epsilon"), // 3-token overlap only — no shared 5-gram
      (4L, "totally unrelated words in this document"),
      (5L, "one two")).toDF("doc_id", "text")
    val kept = Curation.decontaminate(corpus, eval, "doc_id", "text", shingleK = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L))
    // a short eval doc's whole-text gram only hits identical short corpus docs
    val evalShort = Seq((101L, "one two")).toDF("doc_id", "text")
    val keptShort = Curation.decontaminate(corpus, evalShort, "doc_id", "text", shingleK = 5)
      .select($"doc_id").as[Long].collect().toSet
    assert(keptShort == Set(1L, 2L, 3L, 4L))
  }

  test("hashSplit: every row gets exactly one split, fractions near target, stable") {
    import spark.implicits._
    val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
    val a = Curation.hashSplit(docs, "doc_id", splits)
    assert(a.count() == docs.count()) // total preserved, no dup/drop
    val counts = a.groupBy($"split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "val", "test"))
    val n = docs.count().toDouble
    assert(counts("train") / n > 0.7 && counts("train") / n < 0.9)
    // content-independent: same ids → same assignment on a reshuffled frame
    val b = Curation.hashSplit(docs.repartition(7), "doc_id", splits)
    assert(a.select("doc_id", "split").except(b.select("doc_id", "split")).isEmpty)
  }

  test("exactStratifiedSample keeps exactly floor(n*num/den) rows per stratum") {
    import spark.implicits._
    val sampled = Curation.exactStratifiedSample(docs, "source", "doc_id", 1, 5)
    val got = sampled.groupBy($"source").count().as[(String, Long)].collect().toMap
    val want = docs.groupBy($"source").count().as[(String, Long)].collect().toMap
      .map { case (s, c) => s -> c / 5 }
    assert(got == want.filter(_._2 > 0))
    // sample is a subset of the input rows
    assert(sampled.select("doc_id").except(docs.select("doc_id")).isEmpty)
  }

  test("filterFunnel: one row per stage, cumulative and monotone") {
    import spark.implicits._
    val funnel = Curation.filterFunnel(docs, Seq(
      ("lang_en", $"lang" === "en"),
      ("min_len", length($"text") >= 100)))
      .orderBy($"stage_idx")
      .collect()
    assert(funnel.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((0, "input"), (1, "lang_en"), (2, "min_len")))
    val ns = funnel.map(_.getLong(2))
    assert(ns(0) == docs.count())
    assert(ns(1) == docs.filter($"lang" === "en").count())
    assert(ns(2) == docs.filter($"lang" === "en" && length($"text") >= 100).count())
    assert(ns.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("sourceOverlap: counts distinct shared shingles per sorted source pair") {
    import spark.implicits._
    // k=3 shingles. "a b c d" → {abc, bcd}; "b c d e" → {bcd, cde};
    // short doc "x y" → whole-list shingle {xy}.
    val corpus = Seq(
      (1L, "a b c d", "s1"),
      (2L, "b c d e", "s2"),
      (3L, "a b c x", "s2"), // shares "a b c" with s1's doc 1
      (4L, "a b c d", "s3"), // shares both of doc 1's shingles with s1, "b c d" with s2
      (5L, "x y", "s1"),
      (6L, "x y", "s3")      // short-doc whole-list shingle shared s1↔s3
    ).toDF("doc_id", "text", "source")
    val m = Curation.sourceOverlap(corpus, "text", "source", shingleK = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // s1↔s2: {abc (docs 1,3), bcd (docs 1,2)} = 2
    // s1↔s3: {abc, bcd (doc 4 vs doc 1), xy (docs 5,6)} = 3
    // s2↔s3: {abc (doc 3 vs 4), bcd (doc 2 vs 4)} = 2
    assert(m == Map(("s1", "s2") -> 2L, ("s1", "s3") -> 3L, ("s2", "s3") -> 2L))
    // pairs come out sorted: src_a < src_b always
    assert(m.keys.forall { case (a, b) => a < b })
  }

  test("chunkDocuments: window starts, overlap, tail clamp, single-chunk doc") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c d"),                         // exactly chunkTokens → one chunk
      (3L, "x y z w v")                        // 5 tokens → two chunks, tail of 2
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(corpus, "doc_id", "text",
      chunkTokens = 4, overlap = 1) // stride 3
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L),   // starts at token 4 — 1-token overlap
      (1L, 2L, "t7 t8 t9 t10", 4L),  // last window reaches the end
      (2L, 0L, "a b c d", 4L),
      (3L, 0L, "x y z w", 4L),
      (3L, 1L, "w v", 2L)))          // clamped tail, still overlapping by 1
    // zero shuffles: chunking must stay a map-side flatMap
    val plan = Curation.chunkDocuments(corpus, "doc_id", "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("curateObserved: one-action stats equal the count-per-stage spelling") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the deal of the day is on the table", "web"),
      (2L, "the deal of the day is on the table", "web"),   // exact dup of 1
      (3L, "zzz qqq xxx", "web"),                           // no stopwords → quality-gated
      (4L, "a fresh take on the morning news", "web"),
      (5L, "the quick brown fox is in the yard", "books"),
      (6L, "the quick brown fox is in the yard too", "books")
    ).toDF("doc_id", "text", "source")
    // the per-stage counts a count-per-stage run reports on this fixture:
    // 6 in, doc 3 quality-gated, all five pass the language gate, the
    // exact dup 2 and the near-dup 6 dedup away, the cap of 2 keeps the rest
    val countPerStage = Curation.CurationStats(6L, 5L, 5L, 3L, 3L)
    val flow = Curation.curateFlow(docs, minStopRatio = 0.05, maxPerSource = 2)
    val (observedDf, statsThunk) =
      Curation.curateObserved(docs, minStopRatio = 0.05, maxPerSource = 2)
    val observedIds = observedDf.select($"doc_id").as[Long].collect().sorted.toSeq
    val observed = statsThunk() // safe: the collect above ran the action
    assert(observed == countPerStage, s"$observed vs $countPerStage")
    assert(observedIds == flow.select($"doc_id").as[Long].collect().sorted.toSeq)
    assert(observed.input == 6L && observed.afterQuality == 5L)
  }

  test("qualityQuantileGate keeps the per-source top fraction by score, ties by id") {
    import spark.implicits._
    // scores (stopRatio*2 + (1 - punctRatio)):
    //   doc 1 "the of to in" → 2*1 + 1   = 3.0
    //   doc 2 "zz zz zz zz"  → 0 + 1     = 1.0
    //   doc 3 "the zz"       → 2*0.5 + 1 = 2.0
    //   doc 4 "??? !!!"      → 0 + (1 - 6/7) ≈ 0.143
    //   doc 5/6 in s2: "the the" (3.0) beats "zz" (1.0)
    val docs = Seq(
      (1L, "the of to in", "s1"), (2L, "zz zz zz zz", "s1"),
      (3L, "the zz", "s1"), (4L, "??? !!!", "s1"),
      (5L, "the the", "s2"), (6L, "zz", "s2")
    ).toDF("doc_id", "text", "source")
    val kept = Curation.qualityQuantileGate(docs, "doc_id", "text", "source", 1, 2)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L)) // top half per source: {1,3} of s1, {5} of s2
    // equal scores fall back to ascending id: two identical docs, keep 1 of 2
    val tied = Seq((10L, "same", "s"), (11L, "same", "s")).toDF("doc_id", "text", "source")
    val keptTied = Curation.qualityQuantileGate(tied, "doc_id", "text", "source", 1, 2)
      .select($"doc_id").as[Long].collect().toSeq
    assert(keptTied == Seq(10L))
  }

  test("blocklistScreen counts case-insensitive substring hits; filter drops flagged") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a BIG Vector appears here"),  // matches "big vector" case-folded
      (2L, "clean text entirely"),
      (3L, "notbadwordy"),                // substring semantics: "bad" inside a word flags
      (4L, "bad and big vector both")
    ).toDF("doc_id", "text")
    val screened = Curation.blocklistScreen(docs, "text", Seq("big vector", "bad"))
      .select($"doc_id", $"n_blocked", $"is_clean")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(screened == Map(
      1L -> ((1, false)), 2L -> ((0, true)), 3L -> ((1, false)), 4L -> ((2, false))))
    val clean = Curation.blocklistFilter(docs, "text", Seq("big vector", "bad"))
    assert(clean.select($"doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(clean.columns.toSeq == Seq("doc_id", "text")) // original schema back
    // map-side contract: the screen must not shuffle
    val plan = Curation.blocklistScreen(docs, "text", Seq("x"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist screen must not shuffle:\n$plan")
  }

  test("lengthDeciles: equal-frequency buckets with deterministic edges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "s"), (2L, "a b", "s"), (3L, "a b c", "s"), (4L, "a b c d", "s"),
      (5L, "x", "t"), (6L, "x y z", "t")
    ).toDF("doc_id", "text", "source")
    val out = Curation.lengthDeciles(docs, "doc_id", "text", "source", nBuckets = 2)
      .orderBy("source", "bucket")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(out == Seq(
      ("s", 1, 2L, 1L, 2L, 3L),  // docs 1,2 → lengths 1,2
      ("s", 2, 2L, 3L, 4L, 7L),  // docs 3,4 → lengths 3,4
      ("t", 1, 1L, 1L, 1L, 1L),
      ("t", 2, 1L, 3L, 3L, 3L)))
  }

  test("trainingOrder: complete sharded permutation, stable under corpus growth") {
    import spark.implicits._
    val docs = (1L to 100L).toDF("doc_id")
    val out = Curation.trainingOrder(docs, "doc_id", shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.length == 100)
    assert(out.map(_._1).toSet == (1L to 100L).toSet)
    // per-shard positions are 1..n_shard dense
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // growing the corpus never reorders surviving docs within their shard
    val grown = Curation.trainingOrder((1L to 150L).toDF("doc_id"), "doc_id", shards = 4)
      .filter($"doc_id" <= 100L)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getInt(2)))
    val before = out.map(t => (t._2, t._1, t._3))
    assert(grown.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap ==
      before.groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap)
  }

  test("waterfillReport: distributed window spelling equals waterfillAlloc exactly") {
    import spark.implicits._
    // caps: a=2, b=3, c=7, d=20 tokens (one token per char-word)
    val docs = Seq(
      ("a", "t t"), ("b", "t t t"), ("c", "t t t t t t t"),
      ("d", Seq.fill(20)("t").mkString(" "))).toDF("source", "text")
    val caps = Seq("a" -> 2L, "b" -> 3L, "c" -> 7L, "d" -> 20L)
    for (budget <- Seq(0L, 5L, 14L, 31L, 32L, 1000L)) {
      val want = Curation.waterfillAlloc(caps, budget)
      val got = Curation.waterfillReport(docs, "text", "source", budget)
        .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(got == want, s"budget=$budget: $got != $want")
    }
    // saturation flags at budget=14: level (14−5)/2=4 → a,b saturated; c,d capped at 4
    val rep = Curation.waterfillReport(docs, "text", "source", 14L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(rep == Map(
      "a" -> ((2L, 2L, true)), "b" -> ((3L, 3L, true)),
      "c" -> ((7L, 4L, false)), "d" -> ((20L, 4L, false))))
  }

  test("bloomDecontaminate equals exact decontaminate, even with a tiny FP-heavy filter") {
    import spark.implicits._
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val corpus = d.filter($"doc_id" % 97 =!= 0)
    val eval_ = d.filter($"doc_id" % 97 === 0)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select($"doc_id").as[Long].collect().sorted.toSeq
    val exact = ids(Curation.decontaminate(corpus, eval_, "doc_id", "text", 5))
    // production-sized filter: few FPs, confirm join touches almost nothing
    assert(ids(Curation.bloomDecontaminate(corpus, eval_, "doc_id", "text", 5, 1 << 17)) == exact)
    // degenerate 64-bit filter: nearly every doc is a bloom positive, so the
    // confirm join does all the work — output must STILL be exact
    assert(ids(Curation.bloomDecontaminate(corpus, eval_, "doc_id", "text", 5, 64)) == exact)
  }

  test("dsirScores ranks target-like pool docs above off-domain ones; score matches naive recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta", "tgt"),   // target domain
      (2L, "alpha beta alpha beta", "tgt"),
      (10L, "alpha beta alpha beta alpha", "raw"),       // pool, target-like
      (11L, "gamma delta gamma delta gamma", "raw"),     // pool, off-domain
      (12L, "x", "raw")                                  // single token: no bigrams
    ).toDF("doc_id", "text", "source")
    val out = Curation.dsirScores(docs, "doc_id", "text", col("source") === "tgt",
      numBuckets = 4096, k = 10)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the bigram-less doc never enters the pool scoring
    assert(!out.contains(12L) && out.contains(10L) && out.contains(11L))
    // target-like doc must outscore the off-domain doc
    assert(out(10L)._2 > out(11L)._2, s"expected 10 > 11: $out")
    // naive recompute of doc 10: grams "alpha beta"x2, "beta alpha"x2 all
    // seen in target; doc 11's grams never seen in target (c_t = 0)
    assert(out(10L)._1 == 4L && out(11L)._1 == 4L)
    // with every gram of doc 11 unseen in target, each term is
    // ln(1) - ln(c_r+1) < 0 while doc 10's terms have c_t >= 2 — the sign
    // structure the importance weight exists to create; and the shared
    // normalizer keeps the comparison exact in quantized space
    assert(out(11L)._2 < out(10L)._2)
  }

  test("bloom filter: no false negatives; FP rate in the expected band") {
    val bits = new Array[Long](1 << 11) // 2^17 bits
    val rnd = new scala.util.Random(7)
    val inserted = Array.fill(4096)(rnd.nextLong())
    inserted.foreach(g => graft.functions.Ops.bloomSet(bits, g))
    // definite-membership contract: every inserted gram maybe-hits
    assert(inserted.forall(g => graft.functions.Ops.bloomMaybe(bits, g)))
    // k=2 probes, n=4096, m=2^17: p = (1-e^(-kn/m))^2 ≈ 0.0037 — allow 3x
    val probes = Array.fill(100000)(rnd.nextLong())
      .filterNot(inserted.contains)
    val fp = probes.count(g => graft.functions.Ops.bloomMaybe(bits, g)).toDouble / probes.length
    assert(fp < 0.012, s"false-positive rate $fp out of band")
  }
}
