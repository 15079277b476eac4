package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Corpus curation: sampling, per-source caps, and the composed
  * quality→language→dedup→cap pipeline a training-data run executes.
  *
  * Scale notes: per-group caps are a window row_number over the group key —
  * one shuffle, and with a LIMIT-like pushdown effect (rows beyond the cap
  * drop before any downstream stage). Sampling is seed-deterministic and
  * map-side.
  */
object Curation {

  /** Deterministic uniform sample (seeded Bernoulli — map-side, no shuffle). */
  def uniformSample(df: DataFrame, fraction: Double, seed: Long = 42L): DataFrame =
    df.sample(withReplacement = false, fraction, seed)

  /** Deterministic stratified sample: per-stratum fractions (sampleBy). */
  def stratifiedSample(df: DataFrame, stratumCol: String,
      fractions: Map[String, Double], seed: Long = 42L): DataFrame =
    df.stat.sampleBy(stratumCol, fractions, seed)

  /** Deterministic sharded training order: the pseudo-random global
    * permutation a training run reads the corpus in, spelled scale-first.
    * A single global shuffle rank would funnel 100 TB through one sort
    * partition boundary computation and give downstream readers no
    * parallelism unit — so the permutation is SHARDED: shard =
    * md5(id) mod `shards` (map-side, zero state), order within a shard =
    * (md5(id), id). Each shard is an independently readable, internally
    * shuffled slice — exactly the "shuffle then shard" layout training
    * jobs consume — and the within-shard rank is a per-shard window
    * (`shards`-way parallel, never a global sort). Content-independent
    * hashing keeps the order stable under corpus edits: adding documents
    * never reorders surviving ones within their shard. */
  def trainingOrder(docs: DataFrame, idCol: String, shards: Int): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10).cast("long")
    docs.select(col(idCol).as("doc_id"))
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)))
      .withColumn("pos_in_shard", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__h"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos_in_shard"))
  }

  /** Deterministic train/val/test split by content-independent id hash.
    * Each row's bucket is the first 16 bits of md5(id-as-string) compared
    * against cumulative-fraction thresholds (fixed-width lowercase hex, so
    * lexicographic compare IS numeric compare). This is the split a 100 TB
    * corpus actually needs: pure map-side (zero shuffle, zero state), stable
    * across runs/engines/partitionings, and consistent for the same id
    * across tables — none of which a seeded `sample` gives you. */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val bucket = substring(md5(col(idCol).cast("string")), 1, 4)
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _).tail.init
      .map(f => f"${math.floor(f * 65536).toLong}%04x")
    val assigned = splits.map(_._1).init.zip(thresholds)
      .foldRight(lit(splits.last._1): Column) { case ((name, th), els) =>
        when(bucket < lit(th), lit(name)).otherwise(els)
      }
    df.withColumn("split", assigned)
  }

  /** Exact-count stratified sample: per stratum, keep the first
    * floor(n * keepNum / keepDen) rows in md5(id) order — a deterministic
    * pseudo-random order, so the sample is uniform but reproducible on any
    * engine. All-integer admission test (`rn * den <= n * num`): no float
    * thresholds to disagree on. One shuffle (the stratum window); only
    * ids/strata ride it if the caller projects first. */
  def exactStratifiedSample(df: DataFrame, stratumCol: String, idCol: String,
      keepNum: Int, keepDen: Int): DataFrame = {
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(stratumCol))))
      .filter(col("__rn") * lit(keepDen.toLong) <= col("__n") * lit(keepNum.toLong))
      .drop("__rn", "__n")
  }

  /** Quality-gate funnel report: how many rows survive each successive
    * gate. `stages` are (name, predicate) in gate order; row i of the
    * output counts rows passing gates 1..i (row 0 = input). ONE scan —
    * every stage is a conditional sum in a single partial-aggregable
    * `agg`, then the 1×k row unpivots to k rows driver-side via `stack`.
    * At 100 TB this is the same cost as one count(*). */
  def filterFunnel(docs: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    val cum = stages.scanLeft(("input", lit(true): Column)) {
      case ((_, acc), (name, pred)) => (name, acc && pred)
    }
    val aggs = cum.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(name)
    }
    val stacked = cum.zipWithIndex
      .map { case ((name, _), i) => s"$i, '$name', `$name`" }.mkString(", ")
    docs.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cum.size}, $stacked) AS (stage_idx, stage, n_kept)")
  }

  /** Keep at most `n` rows per group, by ascending `orderCol` — the standard
    * per-domain/per-source cap. Deterministic (orderCol must be unique per
    * group for exact reproducibility). */
  def perGroupCap(df: DataFrame, groupCol: String, orderCol: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Curation report row counts per stage. */
  case class CurationStats(input: Long, afterQuality: Long, afterLang: Long,
      afterDedup: Long, afterCap: Long)

  /** Per-row quality gate predicate (stopword ratio ≥ min, mean word length
    * ≤ max) — a pure map-side filter, NOT a join: at 100 TB a semi-join
    * against a derived id list would shuffle the corpus for a predicate the
    * scan can evaluate in place. */
  private def qualityGate(textCol: String, minStopRatio: Double,
      maxMeanWordLen: Double): Column = {
    val txt = col(textCol)
    val nChars = length(txt).cast("double")
    val words = split(lower(txt), "\\s+")
    val nWords = size(words).cast("double")
    val nStop = size(filter(words,
      w => w.isin(TextAnalysis.Stopwords.map(x => x: Any): _*))).cast("double")
    val stopRatio = nStop / nullif(nWords, lit(0.0))
    val meanWordLen = (nChars - (nWords - lit(1.0))) / nullif(nWords, lit(0.0))
    stopRatio >= minStopRatio && meanWordLen <= maxMeanWordLen
  }

  /** Quality + language gates as one map-side filter chain — shared by the
    * batch flow and the streaming twin (StreamingCuration). */
  private[graft] def applyGates(docs: DataFrame, textCol: String,
      minStopRatio: Double, maxMeanWordLen: Double,
      allowedLangs: Seq[String]): DataFrame =
    docs
      .filter(qualityGate(textCol, minStopRatio, maxMeanWordLen))
      .filter(graft.functions.Exprs.lang_id(col(textCol))
        .isin(allowedLangs.map(x => x: Any): _*))

  /** The composed training-data curation flow over a documents table:
    *  1. quality gate (stopword ratio ≥ min, mean word length in range)
    *  2. language allow-list (heuristic lang-id)
    *  3. exact + MinHash near-dup removal (keep-lowest-id)
    *  4. per-source cap
    * Pure DataFrame transform — no actions. Stages 1–2 are map-side filters
    * fused into the scan; only dedup and the cap shuffle.
    *
    * The MinHash stage runs in the deterministic LSH regime (64 bands of
    * r=2 at J≥0.5 — boundary-pair miss p ≈ 1e-8), so the removed set EQUALS
    * the exact-Jaccard loser set and the whole flow is oracle-able
    * end-to-end in SQL (x18's DuckDB oracle recomputes every stage). */
  def curateFlow(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      minStopRatio: Double = 0.0,
      maxMeanWordLen: Double = 20.0,
      allowedLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh"),
      maxPerSource: Int = 1000): DataFrame = {
    val gated = applyGates(docs, textCol, minStopRatio, maxMeanWordLen, allowedLangs)
    val nearDeduped = Dedup.minhashDedup(
      Dedup.exactDedup(gated, idCol, textCol), idCol, textCol,
      shingleK = 3, numHashes = 128, bands = 64, threshold = 0.5)
    perGroupCap(nearDeduped, sourceCol, idCol, maxPerSource)
  }

  /** [[curateFlow]] plus per-stage row counts, in ONE action — the
    * `Observation` spelling: every stage boundary gets a CollectMetrics
    * node, so the counts accumulate DURING the single pass that
    * materializes the corpus, instead of the five separate actions (five
    * full lineage executions or a cache) a count-per-stage spelling pays. At 100 TB that is the difference
    * between one job and five.
    *
    * Returns the curated frame plus a stats thunk: run ANY full action on
    * the frame (count, write), then call the thunk. (Observation.get
    * blocks until its metrics arrive, so calling it before an action
    * deadlocks — hence the explicit two-step contract.) */
  def curateObserved(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      minStopRatio: Double = 0.0,
      maxMeanWordLen: Double = 20.0,
      allowedLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh"),
      maxPerSource: Int = 1000): (DataFrame, () => CurationStats) = {
    import org.apache.spark.sql.Observation
    val oIn = Observation("curate_input")
    val oQual = Observation("curate_quality")
    val oLang = Observation("curate_lang")
    val oDedup = Observation("curate_dedup")
    val oCap = Observation("curate_cap")
    val n = count(lit(1)).as("n")
    val gatedQ = docs.observe(oIn, n)
      .filter(qualityGate(textCol, minStopRatio, maxMeanWordLen))
      .observe(oQual, n)
    val gatedL = gatedQ
      .filter(graft.functions.Exprs.lang_id(col(textCol))
        .isin(allowedLangs.map(x => x: Any): _*))
      .observe(oLang, n)
    val nearDeduped = Dedup.minhashDedup(
      Dedup.exactDedup(gatedL, idCol, textCol), idCol, textCol,
      shingleK = 3, numHashes = 128, bands = 64, threshold = 0.5)
      .observe(oDedup, n)
    val capped = perGroupCap(nearDeduped, sourceCol, idCol, maxPerSource)
      .observe(oCap, n)
    def grab(o: Observation): Long = o.get("n").asInstanceOf[Long]
    (capped, () => CurationStats(
      grab(oIn), grab(oQual), grab(oLang), grab(oDedup), grab(oCap)))
  }

  /** Water-filling token allocation: every source keeps all its tokens if it
    * is below the shared level; the rest are capped at the level; the level
    * is the largest integer budget split the saturated sources can share.
    * Pure integer math over per-source totals (the canonical algorithm, and
    * deterministic — the x26 oracle respells it in SQL). */
  private[graft] def waterfillAlloc(totals: Seq[(String, Long)], budget: Long): Map[String, Long] = {
    val sorted = totals.sortBy { case (s, t) => (t, s) }
    val n = sorted.size
    var cum = 0L
    var k = 0
    var cumK = 0L
    sorted.zipWithIndex.foreach { case ((_, t), i) =>
      cum += t
      // t <= floor((B - cum_{i-1}) / (n - i)) in overflow-safe product form
      if (t * (n - i) <= budget - (cum - t)) { k = i + 1; cumK = cum }
    }
    val level = if (k == n) Long.MaxValue else (budget - cumK) / (n - k)
    sorted.zipWithIndex.map { case ((s, t), i) =>
      s -> (if (i < k) t else math.min(t, level))
    }.toMap
  }

  /** Token-budget source mixing: downsample the corpus to ≈`budget` tokens
    * with water-filled per-source allocations (small sources keep
    * everything; big sources are capped at a common level), taking each
    * source's docs in ascending-id order until its allocation is spent.
    *
    * Scale shape: the per-source totals are a two-column aggregate (tiny at
    * any corpus size — sources are domains, not documents), collected for
    * the driver-side water-fill; the allocation table is broadcast back and
    * the admission test is one cumulative-sum window per source — a single
    * shuffle of (id, source, n_tok), never document text. */
  def tokenBudgetMix(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withTok = docs.withColumn("__n_tok",
      size(Dedup.tokens(col(textCol))).cast("long"))
    val totals = withTok.groupBy(col(sourceCol)).agg(sum(col("__n_tok")).as("t"))
      .as[(String, Long)].collect().toSeq
    val alloc = waterfillAlloc(totals, budget)
    val allocDf = broadcast(alloc.toSeq.toDF(sourceCol, "__alloc"))
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(idCol))
    withTok.join(allocDf, Seq(sourceCol))
      .withColumn("__cum", sum(col("__n_tok")).over(w))
      .filter(col("__cum") <= col("__alloc"))
      .drop("__n_tok", "__alloc", "__cum")
  }

  /** The water-fill allocation TABLE as a collect-free distributed query —
    * the mixture-design report behind [[tokenBudgetMix]]: per source, its
    * token capacity, its water-filled allocation under `budget`, and
    * whether it saturated (small sources keep everything; big sources cap
    * at the common level). Semantics are IDENTICAL to [[waterfillAlloc]]
    * (same overflow-safe product-form saturation test, same floor level,
    * no remainder distribution), pinned by a spec.
    *
    * Scale shape: the corpus collapses map-side to one (source, cap) row
    * per source; every window below runs on that CATALOG-sized relation
    * (sources are domains, not documents), so the single-partition global
    * sort the plan contains is over dozens of rows — the same post-agg
    * window shape as q12. All arithmetic is 64-bit integer. */
  def waterfillReport(docs: DataFrame, textCol: String, groupCol: String,
      budget: Long): DataFrame = {
    val caps = docs.groupBy(col(groupCol))
      .agg(sum(size(Dedup.tokens(col(textCol))).cast("long")).as("cap_tokens"))
    val ord = Window.orderBy(col("cap_tokens"), col(groupCol))
    val all = Window.partitionBy()
    caps
      .withColumn("__i", row_number().over(ord).cast("long"))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__cum", sum(col("cap_tokens")).over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // source i (1-based) fits below the waterline iff giving it and every
      // LATER source cap_i each still fits: cap_i·(n−i+1) ≤ B − cum_{i−1}
      // (product form, no division — waterfillAlloc's exact test)
      .withColumn("__fits",
        col("cap_tokens") * (col("__n") - col("__i") + 1) <=
          lit(budget) - (col("__cum") - col("cap_tokens")))
      // saturated set is the prefix up to the LAST fitting index (mirrors
      // waterfillAlloc's fold, robust even if the test were non-monotone)
      .withColumn("__k", coalesce(max(when(col("__fits"), col("__i"))).over(all), lit(0L)))
      .withColumn("__cumk",
        coalesce(max(when(col("__fits"), col("__cum"))).over(all), lit(0L)))
      .withColumn("saturated", col("__i") <= col("__k"))
      .withColumn("alloc_tokens",
        when(col("saturated"), col("cap_tokens"))
          // `div`, not `/`: integer floor division (Spark's `/` widens to
          // DOUBLE); branch is only evaluated when unsaturated rows exist,
          // so __n − __k > 0
          .otherwise(least(col("cap_tokens"),
            expr(s"(${budget}L - __cumk) div (__n - __k)"))))
      .select(col(groupCol), col("cap_tokens"), col("alloc_tokens"), col("saturated"))
  }

  /** Per-source data card: the corpus-composition summary every training-data
    * release publishes. One straight aggregation — group by source.
    *
    * The ratio columns (mean_chars, en_frac) are exact-integer sums divided
    * as doubles — bit-deterministic under any partitioning (a double avg
    * would depend on partial-merge order) — and their integer numerators
    * (total_chars, n_en) ride along so any external comparator can check the
    * card without agreeing on a double-formatting convention. */
  def dataCard(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, langCol: String): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens(col(textCol))).cast("long")).as("total_tokens"),
        sum(length(col(textCol)).cast("long")).as("total_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        sum(when(col(langCol) === "en", 1L).otherwise(0L)).as("n_en"))
      .withColumn("mean_chars",
        col("total_chars").cast("double") / col("n_docs").cast("double"))
      .withColumn("en_frac",
        col("n_en").cast("double") / col("n_docs").cast("double"))

  /** Sequence packing: assign documents, in doc-id order within each source,
    * to consecutive token-capacity bins (next-fit — the packing step that
    * turns a curated corpus into fixed-length training sequences). A new bin
    * opens exactly when the incoming document would overflow the current
    * one; an oversized document therefore sits alone in its own bin.
    *
    * Packing is sequential BY DEFINITION within a source, so the honest
    * Spark spelling is the typed path: `groupByKey(source)` +
    * `flatMapSortedGroups(doc_id)` — the secondary sort rides the shuffle
    * (no in-group buffering), the scan is a single O(n) fold per source,
    * and only (source, id, n_tok) METADATA ever moves; document text never
    * enters the shuffle. Returns (source, doc_id, n_tok, bin_id); callers
    * join assignments back by id when they need the text.
    *
    * Scale bound, stated plainly: the fold is one task PER SOURCE, so one
    * giant source means one long task no matter how many executors exist.
    * When any source exceeds a task-size budget use
    * [[packSequencesStriped]], which parallelizes inside a source at the
    * cost of at most one extra bin per stripe. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, capacity: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col(sourceCol).cast("string").as("source"),
        col(idCol).cast("long").as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("doc_id").asc) { (_, it) =>
        var bin = 0L
        var sum = 0L
        var first = true
        it.map { case (src, id, n) =>
          if (first) { sum = n; first = false }
          else if (sum + n > capacity) { bin += 1L; sum = n }
          else sum += n
          (src, id, n, bin)
        }
      }
      .toDF("source", "doc_id", "n_tok", "bin_id")
  }

  /** [[packSequences]] with BOUNDED task length — the scale valve for the
    * one-giant-source shape (greedy packing is inherently sequential within
    * a source, so one source with billions of documents means one
    * arbitrarily long task in the plain spelling; that bound is documented
    * there). Each source's doc-id axis is pre-split into deterministic
    * contiguous stripes (`stripe = doc_id / stripeSpan`), every stripe
    * packs independently in parallel with the SAME next-fit fold, and
    * stripe-local bin ids are made globally sequential per source by an
    * [[graft.ops.Par.exclusivePrefixBy]] scan over per-stripe bin counts
    * (key = source — a driver-bounded catalog; the stripe-count relation
    * itself stays distributed).
    *
    * Exactness trade, by construction: within a stripe the assignment
    * equals next-fit; across a boundary the current bin is force-closed,
    * costing AT MOST one extra (under-full) bin per stripe versus the
    * serial packing — the parity CurationSpec property pins both the exact
    * striped replay and that bin-count bound. Use the plain spelling when
    * sources are task-sized; this one when any source exceeds what one
    * task should scan. */
  def packSequencesStriped(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, capacity: Long, stripeSpan: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    require(stripeSpan > 0, "stripeSpan must be positive")
    val local = docs
      .select(col(sourceCol).cast("string").as("source"),
        col(idCol).cast("long").as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
      .groupByKey(t => (t._1, t._2 / stripeSpan))
      .flatMapSortedGroups(col("doc_id").asc) { (key, it) =>
        var bin = 0L
        var sum = 0L
        var first = true
        it.map { case (src, id, n) =>
          if (first) { sum = n; first = false }
          else if (sum + n > capacity) { bin += 1L; sum = n }
          else sum += n
          (src, key._2, id, n, bin)
        }
      }
      .toDF("source", "stripe", "doc_id", "n_tok", "local_bin")
      // both the bin-count rollup and the final join read this relation —
      // pin one materialization or the corpus tokenizes twice
      .localCheckpoint(false)
    val stripeBins = local.groupBy($"source", $"stripe")
      .agg((max($"local_bin") + 1L).as("n_bins"))
    val offsets = graft.ops.Par
      .exclusivePrefixBy(stripeBins, "source", $"stripe".asc,
        Seq("n_bins" -> "bin_offset"))
      .select($"source", $"stripe", $"bin_offset")
    local.join(offsets, Seq("source", "stripe"))
      .select($"source", $"doc_id", $"n_tok",
        ($"bin_offset" + $"local_bin").as("bin_id"))
  }

  /** Boilerplate line removal: delete every line that appears in at least
    * `minDocs` distinct documents OF THE SAME SOURCE (headers, footers,
    * cookie banners — the per-domain template noise web corpora carry), and
    * reassemble each document from its surviving lines in original order.
    * Documents whose every line is boilerplate come back with empty text,
    * not dropped — dropping is a separate curation-gate decision.
    *
    * Scale shape: the frequency count groups on (source, xxhash64(line)),
    * so the wide line strings never enter that shuffle — only 8-byte hashes
    * (a 64-bit collision could only over-delete a line pair within one
    * source, odds negligible against any realistic line count). The
    * boilerplate key set joins back as a left-anti on the same narrow key,
    * and the only wide shuffle is the per-doc reassembly, which carries
    * each document's surviving lines exactly once. */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minDocs: Long = 5L): DataFrame = {
    val cols = docs.columns
    val lines = docs
      .select(col(idCol).as("__id"), col(sourceCol).as("__src"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__lh", xxhash64(col("__line")))
    val boiler = lines
      .groupBy(col("__src"), col("__lh"))
      .agg(countDistinct(col("__id")).as("__n"))
      .filter(col("__n") >= minDocs)
      .select(col("__src"), col("__lh"))
    val rebuilt = lines
      .join(boiler, Seq("__src", "__lh"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line")),
        "\n").as("__clean"))
    docs.join(rebuilt, docs(idCol) === rebuilt("__id"), "left")
      .withColumn(textCol, coalesce(col("__clean"), lit("")))
      .select(cols.map(col): _*)
  }

  /** Benchmark decontamination: drop every corpus document that shares any
    * k-token shingle with the held-out eval set (the standard n-gram-overlap
    * test-set-leak filter applied before training).
    *
    * Scale shape — the eval set is always tiny next to the corpus (benchmark
    * suites, not web crawls), so its distinct gram set is BROADCAST: the
    * corpus side evaluates the semi-join map-side against a hash set, and
    * the only shuffled rows are the contaminated doc ids (distinct over a
    * small set). The corpus itself never shuffles — two scans, zero
    * exchanges of document data, which is the difference between "works"
    * and "works at 100 TB". Grams are 64-bit shingle hashes, not strings,
    * so the broadcast and the probe stay narrow. */
  def decontaminate(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5): DataFrame = {
    val evalGrams = Dedup.shingleSets(evalDocs, idCol, textCol, shingleK)
      .select(explode(col("shingles")).as("gram")).distinct()
    val corpusGrams = Dedup.shingleSets(corpus, idCol, textCol, shingleK)
      .select(col("doc_id"), explode(col("shingles")).as("gram"))
    val contaminated = corpusGrams
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
    corpus.join(contaminated.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_anti")
  }

  /** DSIR-style importance scoring for data selection (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS'23 — public knowledge): rank the raw pool by how much more
    * likely each document is under a hashed bigram LM of the TARGET domain
    * than under the raw pool's own LM,
    * score(d) = Σ_g [ln(c_t(b(g))+1) − ln(c_r(b(g))+1)]
    *          + |g(d)|·[ln(N_r+B) − ln(N_t+B)]
    * (add-1-smoothed bucket counts; the constant term is the normalizer
    * difference factored out of the per-gram sum).
    *
    * Determinism discipline: buckets come from the md5-hex prefix (x67's
    * cross-engine spelling), counts are exact integers, each ln takes an
    * INTEGER argument, and the per-doc sum folds over a bucket-sorted
    * bounded array — both engines add the identical term sequence — with
    * the score quantized to e9 for output. Scale shape: the two LMs are ONE
    * map-side-combining aggregate bounded by `numBuckets` rows (never
    * vocabulary-sized), broadcast back; per-doc scoring shuffles (doc,
    * bucket) pairs once for the doc-level fold; selection is a quantized
    * integer TakeOrdered. */
  def dsirScores(docs: DataFrame, idCol: String, textCol: String,
      isTarget: Column, numBuckets: Int = 4096, k: Int = 50): DataFrame = {
    val toks = TextAnalysis.toksOf(docs, textCol)
    val bigrams = when(size(toks) >= 2,
      expr(s"transform(sequence(1, size(${textCol}__toks) - 1), " +
        s"i -> concat(element_at(${textCol}__toks, i), ' ', element_at(${textCol}__toks, i + 1)))"))
      .otherwise(array().cast("array<string>"))
    val grams = docs
      .withColumn(s"${textCol}__toks", toks)
      .select(col(idCol).as("doc_id"), isTarget.as("__t"),
        explode(bigrams).as("gram"))
      .withColumn("b",
        pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long"),
          lit(numBuckets.toLong)))
      // both consumers (the LM rollup and the per-doc fold) feed different
      // exchanges, so without pinning this the explode+md5 pass — the
      // query's dominant map work — runs twice; the pinned projection is
      // 3 fixed-width columns (the gram string is dropped), so the lazy
      // checkpoint trades the second hash pass for a ~17-byte/row block
      // write of the same relation the downstream shuffles move anyway
      .select(col("doc_id"), col("__t"), col("b"))
      .localCheckpoint(eager = false)
    val lm = grams.groupBy("b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("c_t"),
      sum(when(col("__t"), 0L).otherwise(1L)).as("c_r"))
    val totals = lm.agg(
      sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"))
    val perDoc = grams.filter(!col("__t"))
      .join(broadcast(lm), Seq("b"))
      .select(col("doc_id"), col("b"),
        (log(col("c_t").cast("double") + 1.0) -
          log(col("c_r").cast("double") + 1.0)).as("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sort_array(collect_list(struct(col("b"), col("term")))).as("e"))
      .select(col("doc_id"), col("n_grams"),
        expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, p) -> a + p.term)").as("s"))
    perDoc.crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_grams"),
        (col("s") + col("n_grams").cast("double") *
          (log(col("n_r").cast("double") + numBuckets) -
            log(col("n_t").cast("double") + numBuckets))).as("score"))
      .select(col("doc_id"), col("n_grams"),
        floor(col("score") * 1e9).cast("long").as("score_e9"))
      .orderBy(col("score_e9").desc, col("doc_id"))
      .limit(k)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020's head/middle/tail
    * split, the quality filter behind CCNet/RedPajama): train a per-language
    * unigram LM on a REFERENCE corpus (the curated slice a wiki plays in
    * CCNet), score every corpus document by its cross-entropy under that LM,
    * and cut each language into terciles — head (lowest perplexity) to tail.
    *
    * Determinism discipline (x94's): the vocabulary is hashed into
    * `numBuckets` md5 buckets so the LM is a bounded relation, every `ln`
    * argument is an integer-derived double (c+1, N_lang+numBuckets), the
    * per-doc sum folds bucket-sorted on both engines (terms for the same
    * bucket are identical, so intra-bucket order cannot matter), and the
    * emitted cross-entropy is e6-quantized before the tercile window.
    *
    * Scale shape: the LM is ONE aggregation bounded by |langs|·numBuckets
    * rows, broadcast back; scoring shuffles (doc, bucket) pairs once for the
    * doc-level fold; the per-language ntile is the only global-sort stage —
    * at 100 TB the tercile cutpoints would come from an approx-quantile pass
    * instead (same output contract), the exact window here keeps the op
    * oracle-able. Output: (lang, tercile 1..3, n_docs, avg/min/max h_e6). */
  def perplexityBuckets(corpus: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, langCol: String, numBuckets: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def bucketed(df: DataFrame): DataFrame = {
      val toks = TextAnalysis.toksOf(df, textCol)
      df.withColumn("__toks", toks)
        .select(col(idCol).as("doc_id"), col(langCol).as("lang"),
          explode(col("__toks")).as("tok"))
        .withColumn("b",
          pmod(conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
            lit(numBuckets.toLong)))
    }
    val lm = bucketed(ref).groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("c"))
    val langTotals = lm.groupBy(col("lang")).agg(sum(col("c")).as("n_ref"))
    val terms = bucketed(corpus)
      .join(broadcast(lm), Seq("lang", "b"), "left")
      .join(broadcast(langTotals), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("b"),
        (log(coalesce(col("c"), lit(0L)).cast("double") + 1.0) -
          log(coalesce(col("n_ref"), lit(0L)).cast("double") + numBuckets)).as("term"))
    val perDoc = terms.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"),
        sort_array(collect_list(struct(col("b"), col("term")))).as("e"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        expr("aggregate(e, CAST(0.0 AS DOUBLE), (a, p) -> a + p.term)").as("s"))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        floor((lit(0.0) - col("s")) / col("n_toks").cast("double") * 1e6)
          .cast("long").as("h_e6"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h_e6").asc, col("doc_id").asc)
    perDoc.withColumn("tercile", ntile(3).over(w))
      .groupBy(col("lang"), col("tercile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("h_e6")).as("__s"),
        min(col("h_e6")).as("min_h_e6"),
        max(col("h_e6")).as("max_h_e6"))
      .select(col("lang"), col("tercile").cast("long").as("tercile"), col("n_docs"),
        expr("(__s - pmod(__s, n_docs)) div n_docs").as("avg_h_e6"),
        col("min_h_e6"), col("max_h_e6"))
      .orderBy(col("lang"), col("tercile"))
  }

  /** The x146 oracle: LM, fold, quantized cross-entropy, and tercile window
    * respelled in DuckDB. `refSelect` is a query selecting the reference
    * slice FROM THE SAME COLUMN NAMES as the corpus table — the id/text/
    * lang parameters are interpolated into its projection too (the r8
    * advice: the rtoks leg used to hardcode doc_id/lang/text, silently
    * breaking any caller with different column names). */
  def perplexityBucketsSql(corpusTable: String, refSelect: String,
      idCol: String, textCol: String, langCol: String,
      numBuckets: Int = 4096): String =
    s"""WITH ctoks AS (
       |  SELECT $idCol AS doc_id, $langCol AS lang,
       |    unnest(string_split_regex(lower($textCol), '\\s+')) AS tok
       |  FROM $corpusTable),
       |rtoks AS (
       |  SELECT $idCol AS doc_id, $langCol AS lang,
       |    unnest(string_split_regex(lower($textCol), '\\s+')) AS tok
       |  FROM ($refSelect)),
       |cb AS (
       |  SELECT doc_id, lang,
       |    CAST(list_sum(list_transform(range(1, 9), i ->
       |      (strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1)
       |        * power(16.0, 8 - i))) AS BIGINT) % $numBuckets AS b
       |  FROM ctoks),
       |rb AS (
       |  SELECT lang,
       |    CAST(list_sum(list_transform(range(1, 9), i ->
       |      (strpos('0123456789abcdef', substr(md5(tok), CAST(i AS INT), 1)) - 1)
       |        * power(16.0, 8 - i))) AS BIGINT) % $numBuckets AS b
       |  FROM rtoks),
       |lm AS (SELECT lang, b, CAST(count(*) AS BIGINT) AS c FROM rb GROUP BY 1, 2),
       |lt AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_ref FROM lm GROUP BY 1),
       |terms AS (
       |  SELECT cb.doc_id, cb.lang, cb.b,
       |    ln(CAST(coalesce(lm.c, 0) AS DOUBLE) + 1.0)
       |      - ln(CAST(coalesce(lt.n_ref, 0) AS DOUBLE) + $numBuckets) AS term
       |  FROM cb LEFT JOIN lm ON cb.lang = lm.lang AND cb.b = lm.b
       |          LEFT JOIN lt ON cb.lang = lt.lang),
       |pd AS (
       |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_toks,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(term ORDER BY b, term)), (a, x) -> a + x) AS s
       |  FROM terms GROUP BY doc_id, lang),
       |h AS (
       |  SELECT doc_id, lang, n_toks,
       |    CAST(floor((0.0 - s) / CAST(n_toks AS DOUBLE) * 1000000.0) AS BIGINT) AS h_e6
       |  FROM pd),
       |t AS (
       |  SELECT lang, h_e6,
       |    ntile(3) OVER (PARTITION BY lang ORDER BY h_e6 ASC, doc_id ASC) AS tercile
       |  FROM h)
       |SELECT lang, CAST(tercile AS BIGINT) AS tercile,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST((sum(h_e6) - ((sum(h_e6) % count(*)) + count(*)) % count(*)) // count(*)
       |    AS BIGINT) AS avg_h_e6,
       |  CAST(min(h_e6) AS BIGINT) AS min_h_e6,
       |  CAST(max(h_e6) AS BIGINT) AS max_h_e6
       |FROM t GROUP BY lang, tercile
       |ORDER BY lang, tercile""".stripMargin

  /** UCB1 adaptive mixture replay — bandit-guided data mixing (the online
    * data-selection shape behind adaptive curricula: treat each SOURCE as an
    * arm, its curated-slice quality as the reward, and let UCB1 allocate a
    * pull budget between exploiting good sources and exploring undersampled
    * ones). The environment here is deterministic (each pull of arm j pays
    * its fixed mean reward), so the replay is an exact, replayable
    * allocation schedule, not a stochastic simulation.
    *
    * Integer discipline: rewards arrive on the ppm grid; the exploration
    * bonus replaces `ln t` with `⌊log₂ t⌋` (bit-length — both engines
    * compute it without libm) and takes one IEEE sqrt of an integer-valued
    * argument: bonus = ⌊√((2·⌊log₂t⌋·10¹²) div nⱼ)⌋, ties to the lowest
    * arm name. Pull counts, and therefore every pick, match
    * [[ucbMixtureReplaySql]] bit-for-bit.
    *
    * Scale shape: the arm-reward relation is ONE aggregation bounded by the
    * source catalog; the replay itself is driver-side state of |arms| longs
    * (like [[waterFill]] — decisions over catalog-sized state, never
    * per-document). Output: (source, r_ppm, n_pulls, share_ppm). */
  def ucbMixtureReplay(armRewards: DataFrame, rounds: Int): DataFrame = {
    val spark = armRewards.sparkSession
    import spark.implicits._
    val arms = armRewards
      .select(col("arm").cast("string").as("arm"), col("r_ppm").cast("long").as("r_ppm"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    if (arms.isEmpty)
      return Seq.empty[(String, Long, Long, Long)]
        .toDF("source", "r_ppm", "n_pulls", "share_ppm")
    require(rounds >= arms.length, s"rounds=$rounds < ${arms.length} arms")
    val nPulls = scala.collection.mutable.LinkedHashMap(arms.map(_._1 -> 1L): _*)
    for (t <- arms.length + 1 to rounds) {
      val l2 = 63 - java.lang.Long.numberOfLeadingZeros(t.toLong)
      val pick = arms.map { case (a, r) =>
        val bonus = math.floor(math.sqrt(
          ((2L * l2 * 1000000000000L) / nPulls(a)).toDouble)).toLong
        (r + bonus, a)
      }.minBy { case (score, a) => (-score, a) }._2
      nPulls(pick) += 1L
    }
    arms.toSeq.map { case (a, r) =>
      (a, r, nPulls(a), nPulls(a) * 1000000L / rounds) }
      .toDF("source", "r_ppm", "n_pulls", "share_ppm")
      .orderBy(col("source"))
  }

  /** The x151 oracle: the replay unrolled — round t is a 1-row argmax CTE
    * over the running pull counts, with t's ⌊log₂ t⌋ baked at generation
    * time. `numArms` must equal the arm count the reward relation yields
    * (the catalog is fixed per corpus; the Spark side derives it from
    * data and the spec pins the agreement). */
  def ucbMixtureReplaySql(armRewardsSql: String, rounds: Int, numArms: Int): String = {
    val roundCtes = (numArms + 1 to rounds).map { t =>
      val l2 = 63 - java.lang.Long.numberOfLeadingZeros(t.toLong)
      val prev = if (t == numArms + 1) "n0" else s"n${t - 1}"
      s"""p$t AS MATERIALIZED (
         |  SELECT arm FROM $prev
         |  ORDER BY r_ppm + CAST(floor(sqrt(CAST((2 * $l2 * 1000000000000) // n AS DOUBLE)))
         |    AS BIGINT) DESC, arm LIMIT 1),
         |n$t AS MATERIALIZED (
         |  SELECT s.arm, s.r_ppm, s.n + CASE WHEN s.arm = p.arm THEN 1 ELSE 0 END AS n
         |  FROM $prev s, p$t p)""".stripMargin
    }.mkString(",\n")
    val last = if (rounds > numArms) s"n$rounds" else "n0"
    val roundsClause = if (roundCtes.isEmpty) "" else s",\n$roundCtes"
    s"""WITH ar AS ($armRewardsSql),
       |n0 AS MATERIALIZED (SELECT arm, r_ppm, CAST(1 AS BIGINT) AS n FROM ar)$roundsClause
       |SELECT arm AS source, CAST(r_ppm AS BIGINT) AS r_ppm, CAST(n AS BIGINT) AS n_pulls,
       |  CAST((n * 1000000) // $rounds AS BIGINT) AS share_ppm
       |FROM $last ORDER BY source""".stripMargin
  }

  /** Bloom-prefiltered decontamination — EXACTLY the same output as
    * [[decontaminate]], reached through the plan that survives an eval set
    * too large to broadcast as an exact hash set:
    *
    *  1. BUILD: the eval grams fold distributed into a fixed `numBits`
    *     bitset ([[graft.functions.BloomAgg]] — map-side partial OR-merge,
    *     so a billion-gram blocklist still summarizes into 2²⁰ bits).
    *  2. PREFILTER: every corpus document is screened MAP-SIDE by one
    *     codegen'd pass over its shingle-hash array
    *     ([[graft.functions.Exprs.BloomAnyExpr]] riding in the task
    *     binary). Bloom negatives are DEFINITE negatives, so the ~all-clean
    *     bulk of the corpus is admitted with zero shuffle and never
    *     explodes a gram row.
    *  3. CONFIRM: only bloom-positive candidates (true hits + the FP rate
    *     of the filter) explode into gram rows for the exact semi-join that
    *     removes false positives — the expensive path now runs over a
    *     sliver of the corpus, not all of it.
    *
    * The bloom is a pure PERFORMANCE device: step 3 restores exactness, so
    * this oracles against the identical SQL as [[decontaminate]] (x93 ≡
    * x25's result), and the FP-heavy degenerate case (tiny filter) only
    * costs time, never correctness — the spec pins both. */
  def bloomDecontaminate(corpus: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 5, numBits: Int = 1 << 20): DataFrame = {
    val evalGrams = Dedup.shingleSets(evalDocs, idCol, textCol, shingleK)
      .select(explode(col("shingles")).as("gram")).distinct()
    // one small job: the aggregated bitset (numBits/8 bytes) to the driver
    val bits: Array[Long] = evalGrams
      .agg(graft.functions.BloomAgg.bloom_agg(col("gram"), numBits).as("b"))
      .head.getSeq[Long](0).toArray
    val withShingles = corpus.withColumn("__sh",
      graft.functions.Exprs.shingle_hashes(Dedup.tokens(col(textCol)), shingleK))
    val candidates = withShingles
      .filter(graft.functions.Exprs.bloom_any(col("__sh"), bits))
    val contaminated = candidates
      .select(col(idCol).as("__cand_id"), explode(col("__sh")).as("gram"))
      .join(broadcast(evalGrams), Seq("gram"), "left_semi")
      .select(col("__cand_id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Cross-source k-gram overlap matrix: for every pair of sources, the
    * number of DISTINCT k-token shingles they share. The governance twin of
    * [[decontaminate]] — where that op drops contaminated docs, this one
    * reports how much text the sources duplicate among themselves (scraped
    * mirrors, syndicated articles, shared boilerplate) before any dedup
    * threshold is chosen.
    *
    * Scale shape — ONE wide shuffle, keyed on the 8-byte shingle hash:
    * `collect_set(source)` dedups (gram, source) during the aggregation
    * itself (partials are per-gram source sets, bounded by the source
    * cardinality, which is catalog-sized — hundreds, not billions). Pair
    * expansion happens map-side on the aggregated row via a quadratic
    * `transform×transform` over that tiny sorted set, and the final
    * groupBy collapses to at most |sources|² rows. The corpus text itself
    * never moves: shingle hashing is a scan-fused projection
    * ([[graft.functions.Exprs.ShingleHashes]], codegen'd).
    *
    * Sharing is measured on 64-bit shingle hashes, not strings (collision
    * odds negligible — same argument as [[decontaminate]]). */
  def sourceOverlap(docs: DataFrame, textCol: String, sourceCol: String,
      shingleK: Int = 5): DataFrame = {
    val grams = docs.select(
      col(sourceCol).as("src"),
      explode(graft.functions.Exprs.shingle_hashes(
        Dedup.tokens(col(textCol)), shingleK)).as("gram"))
    val bySrcSet = grams.groupBy("gram")
      .agg(sort_array(collect_set(col("src"))).as("srcs"))
      .filter(size(col("srcs")) >= 2)
    // srcs is sorted, so nested transform over (i, j>i) yields each unordered
    // pair exactly once with src_a < src_b — no self-join, no dedup pass.
    val pairs = bySrcSet.select(explode(expr(
      """flatten(transform(srcs, (a, i) ->
        |  transform(slice(srcs, i + 2, size(srcs)), b ->
        |    struct(a AS src_a, b AS src_b))))""".stripMargin)).as("p"))
      .select(col("p.src_a"), col("p.src_b"))
    pairs.groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Per-source quality-quantile gate: keep the top `keepNum/keepDen`
    * fraction of each source's documents by quality score (descending;
    * ties broken by id). The relative-quality cut a mixed-source corpus
    * needs — an absolute score threshold calibrated on encyclopedia text
    * would annihilate a forum source; a per-source quantile keeps the best
    * of EACH distribution.
    *
    * Determinism: the score ([[TextAnalysis.qualityScoreCol]]) is exact
    * per-row arithmetic (x03's oracle pins the values bit-for-bit), so
    * ordering by it is cross-engine stable, and the admission test is
    * all-integer (`rn * den ≤ n * num` — exactStratifiedSample's spelling,
    * no float thresholds). Scale shape: ONE shuffle (the per-source
    * window); the score itself is scan-fused, and only surviving rows flow
    * downstream. */
  def qualityQuantileGate(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, keepNum: Int, keepDen: Int): DataFrame = {
    val score = TextAnalysis.qualityScoreCol(textCol)
    // NULLS LAST spelled explicitly (Spark's desc default) so the oracle's
    // ORDER BY ... DESC NULLS LAST is a literal transcription.
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(score.desc_nulls_last, col(idCol))
    docs.withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(sourceCol))))
      .filter(col("__rn") * lit(keepDen.toLong) <= col("__n") * lit(keepNum.toLong))
      .drop("__rn", "__n")
  }

  /** Phrase-blocklist screen: per document, how many of the `phrases`
    * occur as substrings (case-insensitive), plus the keep/drop verdict —
    * the C4-style badword filter. The phrase list is a curated artifact
    * (hundreds of entries, not millions), so it compiles into the row
    * expression as a LITERAL array: the filter is pure map-side scan-fused
    * compute, zero shuffle, zero joins — the only shape that survives
    * 100 TB. (A million-phrase list would want an Aho-Corasick custom
    * expression instead; the operator contract is the same.)
    *
    * Matching is raw substring (`contains`), the conservative curation
    * default: "badword" inside "notbadwordy" still flags. Token-boundary
    * policy belongs to the caller via the phrase spelling (" word "). */
  def blocklistScreen(docs: DataFrame, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "blocklist must not be empty")
    val lowered = lower(col(textCol))
    val hits = phrases.map(p => when(contains(lowered, lit(p.toLowerCase)), 1).otherwise(0))
    docs
      .withColumn("n_blocked", hits.reduce(_ + _))
      .withColumn("is_clean", col("n_blocked") === 0)
  }

  /** [[blocklistScreen]] that returns only the clean rows, original schema. */
  def blocklistFilter(docs: DataFrame, textCol: String,
      phrases: Seq[String]): DataFrame =
    blocklistScreen(docs, textCol, phrases)
      .filter(col("is_clean"))
      .drop("n_blocked", "is_clean")

  /** Per-source token-length decile profile: each source's docs are ranked
    * by token count (ties by id) into `nBuckets` equal-frequency buckets —
    * ntile — and each (source, bucket) reports its population and token
    * range. The length-distribution diagnostic behind context-window
    * planning and per-source truncation policy; equal-frequency buckets
    * (not fixed-width bins) is what makes skewed length distributions
    * readable. One shuffle (the per-source window) over (source, id,
    * n_tok) metadata only; ntile with a unique orderBy is deterministic,
    * so the bucket stats are exactly SQL-expressible (x50's oracle). */
  def lengthDeciles(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, nBuckets: Int = 10): DataFrame = {
    val w = Window.partitionBy(col(sourceCol))
      .orderBy(col("n_tok"), col(idCol))
    docs
      .select(col(sourceCol).as("source"), col(idCol).as("doc_id"),
        size(Dedup.tokens(col(textCol))).cast("long").as("n_tok"))
      .withColumn("bucket", ntile(nBuckets).over(w))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tok")).as("min_tokens"),
        max(col("n_tok")).as("max_tokens"),
        sum(col("n_tok")).as("total_tokens"))
  }

  /** Fixed-size token-window chunking with overlap — the pre-tokenization
    * step that turns variable-length documents into training-context-sized
    * pieces. Chunk k starts at token `k·(chunkTokens−overlap)`; a document
    * with ≤ chunkTokens tokens is one chunk; otherwise the last chunk is
    * the first window that reaches the end (so every token is covered and
    * no window starts past the end). All arithmetic is integer and the
    * whole op is a scan-fused map-side projection — ZERO shuffles, which is
    * the point: chunking 100 TB is embarrassingly parallel and must stay
    * that way (an explode is a flatMap, not an exchange). */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens=$chunkTokens)")
    val stride = chunkTokens - overlap
    docs
      .select(col(idCol).as("doc_id"), Dedup.tokens(col(textCol)).as("w"))
      .withColumn("n_tok", size(col("w")))
      // integer ceil-div spelling: floor-div on positives, cross-engine exact
      .withColumn("k", expr(
        s"CASE WHEN n_tok <= $chunkTokens THEN 1 " +
        s"ELSE (n_tok - $chunkTokens + ${stride - 1}) div $stride + 1 END"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, k - 1), i -> struct(
           |  array_join(slice(w, i * $stride + 1, $chunkTokens), ' ') AS chunk_text,
           |  size(slice(w, i * $stride + 1, $chunkTokens)) AS n_chunk_tokens))""".stripMargin))
        .as(Seq("chunk_idx", "u")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("u.chunk_text").as("chunk_text"),
        col("u.n_chunk_tokens").cast("long").as("n_chunk_tokens"))
  }

  // ---------------------------------------------- temperature language mix
  /** Temperature-resampled multilingual sampling weights (the multilingual-
    * pretraining recipe from the XLM-R / mC4 lineage — public knowledge):
    * language l gets weight p_l^alpha / Σ_m p_m^alpha, upweighting the tail
    * relative to its natural share. Fixed at alpha = 0.5 so the power is
    * `sqrt` — IEEE-754 correctly rounded in every engine, unlike `pow`,
    * whose last-ulp differences would break cross-engine hash equality.
    * The denominator is a SORTED fold over the per-language terms
    * (language-name order), so the double additions associate identically
    * on any engine and any partitioning — the same determinism discipline
    * as the BM25 scorer.
    *
    * Scale shape: one map-side-combining aggregate to ~|languages| rows;
    * everything after is arithmetic on a relation the size of the language
    * inventory. */
  def temperatureLangMix(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val perLang = docs
      .groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(Dedup.tokens(col(textCol))).cast("long")).as("n_tokens"))
    val denom = perLang
      .agg(aggregate(
        array_sort(collect_list(struct(col("lang"), sqrt(col("n_tokens").cast("double")).as("w")))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("__denom"))
    perLang.crossJoin(broadcast(denom))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (sqrt(col("n_tokens").cast("double")) / col("__denom")).as("weight"))
  }

  /** Deterministic weighted sampling without replacement, priority-sampling
    * shape (Duffield-Lund-Thorup, JACM'07): each row gets a pseudo-uniform
    * 63-bit key from SplitMix64 of its id, priority = ⌊key / weight⌋, and
    * the sample is the k SMALLEST priorities — so inclusion probability
    * rises with weight, yet the draw is a pure function of (id, weight):
    * reproducible across engines, partitionings, and reruns, which is what
    * a training-data lineage audit needs from its sampler.
    *
    * Scale shape: the key/priority are map-side codegen'd arithmetic and
    * the selection is a global top-k — TakeOrderedAndProject, k rows per
    * partition then k at the driver, never a full sort or shuffle of the
    * corpus. All-integer, so the oracle replays the draw bit-for-bit. */
  /** Temperature-scaled mixture apportionment (the Pile/GPT-3 α-sampling
    * shape): allocate exactly `totalN` samples across groups with
    * probability ∝ weight^0.5, by LARGEST-REMAINDER (Hamilton)
    * apportionment on an integer grid — Σ alloc == totalN exactly, no
    * float drift. The tempered share s = ⌊√w · 10³⌋ uses IEEE sqrt
    * (correctly rounded on every engine, so cross-engine exact); base
    * quotas are integer division, the `totalN − Σ base` leftover goes to
    * the largest remainders (ties → group name). Everything after the
    * per-group weight aggregate is arithmetic over #groups rows. */
  def temperatureApportion(weights: DataFrame, groupCol: String,
      weightCol: String, totalN: Long): DataFrame = {
    val s = weights
      .select(col(groupCol).as("g"), col(weightCol).cast("long").as("w"))
      .filter(col("w") > 0)
      .withColumn("sh", floor(sqrt(col("w").cast("double")) * 1000.0d).cast("long"))
    val tot = s.agg(sum(col("sh")).as("stot"))
    val q = s.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($totalN * sh) DIV stot"))
      .withColumn("rem", expr(s"($totalN * sh) % stot"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val wRank = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
      .orderBy(col("rem").desc, col("g").asc)
    q.withColumn("leftover", lit(totalN) - sum(col("base")).over(wAll))
      .withColumn("rk", row_number().over(wRank))
      .select(col("g").as(groupCol), col("w").as("weight"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L)).as("alloc"))
      .orderBy(col(groupCol))
  }

  /** DuckDB respell of [[temperatureApportion]] — `weightsSql` must emit
    * (g, w) exactly as the Spark side aggregated them. */
  def temperatureApportionSql(weightsSql: String, groupCol: String,
      totalN: Long): String =
    s"""WITH s0 AS ($weightsSql),
       |s AS (SELECT g, CAST(w AS BIGINT) AS w,
       |        CAST(floor(sqrt(CAST(w AS DOUBLE)) * 1000.0) AS BIGINT) AS sh
       |      FROM s0 WHERE w > 0),
       |t AS (SELECT CAST(sum(sh) AS BIGINT) AS stot FROM s),
       |q AS (
       |  SELECT g, w, ($totalN * sh) // stot AS base, ($totalN * sh) % stot AS rem
       |  FROM s, t),
       |l AS (
       |  SELECT *, $totalN - CAST(sum(base) OVER () AS BIGINT) AS leftover,
       |    row_number() OVER (ORDER BY rem DESC, g ASC) AS rk
       |  FROM q)
       |SELECT g AS $groupCol, w AS weight,
       |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc
       |FROM l ORDER BY $groupCol""".stripMargin

  def weightedPrioritySample(df: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame =
    df.filter(col(weightCol).isNotNull && col(weightCol) > 0 && col(idCol).isNotNull)
      .select(col(idCol), col(weightCol).cast("long").as("weight"))
      .withColumn("__h63",
        graft.functions.Exprs.smix64(col(idCol).cast("long"))
          .bitwiseAND(lit(Long.MaxValue)))
      .withColumn("priority_q", expr("__h63 DIV weight"))
      .select(col(idCol), col("weight"), col("priority_q"))
      .orderBy(col("priority_q").asc, col(idCol).asc)
      .limit(k)

  /** Seeded exact-k UNIFORM sample by hash priority — the deterministic,
    * cross-engine-replayable counterpart of the RNG reservoir
    * ([[graft.plans.Reservoir]], x22): priority = SplitMix64(id ⊕ seed)
    * masked to 63 bits, keep the k smallest by (priority, id). Changing
    * `seed` redraws the whole sample; any engine that can replay the
    * mixer (the x117 HUGEINT spelling does, in DuckDB) reproduces the
    * identical row set, which is what makes this the AUDITABLE uniform
    * sampler: an eval-set draw can be re-derived years later from (seed,
    * id column) alone, no RNG state. Plans as TakeOrderedAndProject —
    * a bounded per-partition heap + driver merge of k rows, the corpus
    * never sorts or shuffles. */
  def uniformHashSample(df: DataFrame, idCol: String, k: Int,
      seed: Long): DataFrame =
    df.filter(col(idCol).isNotNull)
      .select(col(idCol))
      .withColumn("priority_q",
        graft.functions.Exprs.smix64(
          col(idCol).cast("long").bitwiseXOR(lit(seed)))
          .bitwiseAND(lit(Long.MaxValue)))
      .orderBy(col("priority_q").asc, col(idCol).asc)
      .limit(k)
}
