package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parallelism repair for CPU-heavy map stages ([[widen]]), and the
  * distributed prefix scans and global row numbers that replace
  * single-partition windows.
  *
  * A single-file (or single-row-group) parquet table scans as ONE input
  * partition, so everything up to the first exchange — tokenizing,
  * shingling, signature hashing, bigram construction, media codecs — runs
  * on one core no matter how many the cluster has. That layout is common
  * at the edges (small dimension dumps, fresh ingests, test fixtures);
  * operators whose pre-exchange stage is genuinely CPU-bound repair it
  * themselves rather than trusting the upstream layout.
  */
private[graft] object Par {

  /** Repartition a scan-shaped input that arrives with fewer partitions
    * than its size asks for; return anything else unchanged.
    *
    * The target is the optimized plan's `sizeInBytes` ÷ `bytesPerTask` + 1,
    * clamped to [1, defaultParallelism]; for a scan the estimate is the file
    * size, so no job runs. The default grain, 64 KiB of compressed input,
    * is small because the stages this guards amplify per byte (tokenize →
    * shingle → multi-hash is 10–100× the scan cost): a 0.6 MB corpus wants
    * ~10-way, where 32-way pays more in per-task constants than it buys.
    * A stage whose cost is per ROW passes `bytesPerTask = 1`, so any input
    * of at least defaultParallelism bytes goes to full parallelism. Media
    * codecs are that case: an encode costs CPU per row (pixels × frames),
    * a scan splits by bytes, so a few thousand ids sit in one split and the
    * codec pass runs on one core (x204 ran single-task; the fan-out cut it
    * ~3×). That shuffle moves only the id longs, never the payloads.
    *
    * Only ever widens, so a well-partitioned table is never narrowed. The
    * explicit count matters: AQE would coalesce an un-numbered exchange of
    * a few MB back to one partition. A plan that may hold an exchange
    * ([[hasExchange]]) passes through as planned: probing its partition
    * count would run every upstream stage under AQE, and the repartitioned
    * copy would run them again. Every caller feeds a scan, so AQE
    * coalescing such an input to one partition does not arise today. */
  def widen(df: DataFrame, bytesPerTask: Long = 64L << 10): DataFrame =
    if (hasExchange(df)) df
    else {
      val cap = BigInt(df.sparkSession.sparkContext.defaultParallelism)
      val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val target = ((est / bytesPerTask + 1) min cap max BigInt(1)).toInt
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }

  /** Might this frame's plan carry an exchange? `false` only when every
    * node of the OPTIMIZED LOGICAL plan is scan-shaped — a file, local,
    * range or RDD relation under projections, filters, generators, unions,
    * aliases and typed per-row object ops — and no expression holds a
    * subquery. Any other operator may require a distribution, so it
    * counts as an exchange. Decided on the logical plan because the
    * physical probes all lie: `sparkPlan` is pre-EnsureRequirements (no
    * Exchange nodes yet) and AdaptiveSparkPlanExec hides its prepared plan
    * from TreeNode traversal. No job runs. */
  private[graft] def hasExchange(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    df.queryExecution.optimizedPlan.exists { node =>
      val scanShaped = node match {
        case _: LogicalRelation | _: LocalRelation | _: Range | _: LogicalRDD |
             _: Project | _: Filter | _: Generate | _: Union | _: SubqueryAlias |
             _: DeserializeToObject | _: SerializeFromObject | _: MapElements |
             _: MapPartitions | _: TypedFilter | _: AppendColumns => true
        case _ => false
      }
      !scanShaped || node.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression]))
    }
  }

  /** Distributed EXCLUSIVE prefix sum — the textbook two-pass scan that
    * replaces `sum().over(Window.orderBy(...))`'s single-partition
    * WindowExec (the r8 scale finding on x88/x100). Delegates to
    * [[exclusivePrefixBy]] with a constant key: one scan group spanning
    * the whole relation.
    *
    * `order` must be a total order on the rows (a unique sort key): range
    * partitioning routes equal keys to one partition, but rows tying on
    * `order` would get an order-dependent in-partition prefix. For each
    * `(src, out)` in `sums`, adds long column `out` = Σ src over rows
    * strictly before this one in `order`. NULL srcs count as 0. */
  def exclusivePrefix(df: DataFrame, order: Column,
      sums: Seq[(String, String)]): DataFrame =
    exclusivePrefixWithTotals(df, order, sums)._1

  /** [[exclusivePrefix]] + the relation-wide grand total per summed column
    * (from the offsets collect — see [[exclusivePrefixByWithTotals]]). */
  def exclusivePrefixWithTotals(df: DataFrame, order: Column,
      sums: Seq[(String, String)]): (DataFrame, Seq[Long]) = {
    val (out, totals) = exclusivePrefixByWithTotals(
      df.withColumn("__grp", lit(0)), "__grp", order, sums)
    (out.drop("__grp"), totals.getOrElse(0, sums.map(_ => 0L)))
  }

  /** Keyed distributed exclusive prefix sum: within each distinct value of
    * `keyCol` (ordered by `order`), `out` = Σ src over rows strictly
    * before this one IN THE SAME KEY GROUP. The point of the keyed form is
    * amortization — N independent prefix scans (one histogram per ranked
    * metric, a source and a target distribution, …) union into ONE
    * relation tagged by key and pay ONE range exchange + ONE checkpoint +
    * ONE bounded driver collect, where N separate [[exclusivePrefix]]
    * calls would pay N of each (the per-job fixed cost dominated x134/x144
    * at small scale — 4-7 eager jobs collapsed to 2 here).
    *
    * Mechanics, scan-group-aware throughout:
    *  1. range-partition on `(keyCol, order)` with an explicit partition
    *     count (an un-numbered exchange would be AQE-coalesced back to one
    *     partition) and pin ONE materialization via localCheckpoint so the
    *     offsets pass and the window pass read identical pids;
    *  2. per-(partition, key) totals → driver. Bounded collect: each
    *     partition holds a contiguous `(key, order)` range, so the row
    *     count is ≤ nPartitions + nKeys − 1 — by config and by the key
    *     catalog, not by data. `keyCol` must therefore be driver-bounded
    *     (metric ids, source tags — NOT data values) and non-null;
    *  3. per-key exclusive scan over its pid-ordered totals; offsets
    *     broadcast back; the running sum is a window PARTITIONED by
    *     (pid, key) — every partition scans in parallel. */
  def exclusivePrefixBy(df: DataFrame, keyCol: String, order: Column,
      sums: Seq[(String, String)]): DataFrame =
    exclusivePrefixByWithTotals(df, keyCol, order, sums)._1

  /** [[exclusivePrefixBy]], also returning each key's GRAND TOTAL per
    * summed column — read from the same bounded per-(partition, key)
    * offsets collect the scan already pays, so callers that need
    * "prefix + total" (quantile map's m and k, the gini stump's class
    * totals, the layout audit's row count) stop running a separate
    * aggregate job + broadcast exchange over the scanned relation. The
    * totals are exact by construction: they sum the identical partial
    * sums the offsets are built from. */
  def exclusivePrefixByWithTotals(df: DataFrame, keyCol: String, order: Column,
      sums: Seq[(String, String)]): (DataFrame, Map[Any, Seq[Long]]) = {
    import org.apache.spark.sql.expressions.Window
    require(sums.nonEmpty)
    val s = df.sparkSession
    val nParts = s.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // LAZY checkpoints, two of them. Pre-shuffle: repartitionByRange runs
    // an internal SAMPLING job over its child before the real exchange —
    // without a pin the upstream lineage (a corpus tokenize for x88, two
    // table scans + groupBys for x134) executes TWICE; the sampling job
    // materializes the blocks once and the exchange replays them.
    // Post-shuffle: pins the pids so the offsets pass and the window pass
    // read identical partitions. Lazy (not eager) so the offsets collect
    // below is the FIRST action — blocks materialize inside that job
    // instead of paying a separate checkpoint job per call.
    val p = df.localCheckpoint(eager = false)
      .repartitionByRange(nParts, col(keyCol), order)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(eager = false)
    val aggs = sums.map { case (src, _) =>
      sum(coalesce(col(src).cast("long"), lit(0L))).as(src) }
    val rows = p.groupBy(col("__pid"), col(keyCol)).agg(aggs.head, aggs.tail: _*)
      .collect()
      .map(r => (r.getInt(0), r.get(1), sums.indices.map(i => r.getLong(i + 2))))
    // The bounded-collect contract, ENFORCED: each partition holds a
    // contiguous (key, order) range, so consecutive partitions share at
    // most one key and the per-(partition, key) group count is
    // ≤ nPartitions + nKeys − 1. If range partitioning ever stops being
    // contiguous (an AQE/planner regression), this fails loudly instead of
    // letting the driver collect silently grow with the data.
    val nKeys = rows.iterator.map(_._2).distinct.size
    require(rows.length <= nParts + nKeys - 1,
      s"exclusivePrefixBy offsets collect broke the contiguity bound: " +
        s"${rows.length} rows > $nParts partitions + $nKeys keys - 1")
    // per-key exclusive scan over that key's (pid-sorted, possibly gappy)
    // partition totals — pids order by (key, order) range, so within a key
    // ascending pid IS scan order
    val offs = rows.groupBy(_._2).toSeq.flatMap { case (key, grp) =>
      val sorted = grp.sortBy(_._1)
      sorted.map(_._3).scanLeft(sums.map(_ => 0L)) { (acc, tot) =>
        acc.lazyZip(tot).map(_ + _) }
        .zip(sorted).map { case (off, (pid, _, _)) =>
          org.apache.spark.sql.Row.fromSeq(pid +: key +: off) }
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
        df.schema(keyCol).copy(name = keyCol) +:
        sums.map { case (_, out) => org.apache.spark.sql.types.StructField(
          s"__off_$out", org.apache.spark.sql.types.LongType, nullable = false) })
    val offsDf = s.createDataFrame(
      s.sparkContext.parallelize(offs, 1), schema)
    val w = Window.partitionBy(col("__pid"), col(keyCol)).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, -1)
    val scanned = sums.foldLeft(p.join(broadcast(offsDf), Seq("__pid", keyCol))) {
      case (acc, (src, out)) =>
        acc.withColumn(out, col(s"__off_$out") +
          coalesce(sum(coalesce(col(src).cast("long"), lit(0L))).over(w), lit(0L)))
    }.drop("__pid" +: sums.map { case (_, out) => s"__off_$out" }: _*)
    val totals = rows.groupBy(_._2).map { case (key, grp) =>
      key -> sums.indices.map(i => grp.iterator.map(_._3(i)).sum)
    }.toMap
    (scanned, totals)
  }

  /** Exact 1-based global row number by (`valueCol` asc/desc, `tieCol`
    * asc) without a single-partition window: the per-VALUE counts run
    * through [[exclusivePrefix]] (rows-strictly-before per distinct
    * value), ride back on a value equi-join, and the within-value index
    * is a window PARTITIONED by value — every stage is parallel, the only
    * bounded structure is the per-partition offset row set. Ties on
    * (value, tie) must be impossible for the rank to be total — pass a
    * unique tie column.
    *
    * NULL `valueCol` rows are KEPT (null-safe value join), ranked where
    * Spark's default ordering places NULL: FIRST ascending, LAST
    * descending. A SQL oracle must spell that explicitly (DuckDB defaults
    * to NULLS LAST ascending) — or guarantee non-null values, as every
    * current caller does. */
  def globalRowNumber(df: DataFrame, valueCol: String, tieCol: String,
      ascending: Boolean, out: String): DataFrame =
    globalRowNumberWithCount(df, valueCol, tieCol, ascending, out)._1

  /** [[globalRowNumber]] + the relation's total row count, read from the
    * prefix kernel's offsets collect (see [[exclusivePrefixByWithTotals]])
    * — rank-to-quantile callers need (rank, n) and otherwise pay a
    * separate count aggregate + broadcast exchange for a number the scan
    * already summed. */
  def globalRowNumberWithCount(df: DataFrame, valueCol: String, tieCol: String,
      ascending: Boolean, out: String): (DataFrame, Long) = {
    import org.apache.spark.sql.expressions.Window
    val hist = df.groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
    val ord = if (ascending) col(valueCol).asc else col(valueCol).desc
    val (pre0, totals) = exclusivePrefixWithTotals(hist, ord, Seq("__c" -> "__before"))
    val pre = pre0.select(col(valueCol).as("__prev"), col("__before"))
    val w = Window.partitionBy(col(valueCol)).orderBy(col(tieCol))
    val ranked = df.join(pre, col(valueCol) <=> col("__prev"))
      .withColumn(out, col("__before") + row_number().over(w).cast("long"))
      .drop("__prev", "__before")
    (ranked, totals.head)
  }

  /** Rank spec for [[globalRowNumbers]]: 1-based global row number by
    * (`valueCol` asc/desc, tie asc) lands in long column `out`. */
  final case class RankSpec(valueCol: String, ascending: Boolean, out: String)

  /** N exact global row numbers over the SAME relation in ONE kernel pass
    * — the amortized form of N [[globalRowNumber]] calls (x144's three RFM
    * quintile ranks, x132's two layout sorts). All N per-value histograms
    * explode into one key-tagged relation and share a single
    * [[exclusivePrefixBy]] scan (one exchange + checkpoint + bounded
    * collect instead of N of each); the within-value index is a window
    * partitioned by (metric, value); the N ranks fold back onto `tieCol`
    * in one pivot-style aggregate and rejoin the input.
    *
    * Every `valueCol` must be INTEGRAL (byte/short/int/long — enforced;
    * a fractional type would be silently truncated by the long cast,
    * ranking differently from the raw values) and non-null: descending
    * metrics ride the scan as their NEGATION so one ascending range order
    * serves all N. `Long.MinValue` negates to itself, so a descending
    * metric containing it fails loudly at runtime rather than mis-rank.
    * `tieCol` must be unique. Output ranks are bit-identical to
    * `row_number() OVER (ORDER BY value [DESC], tie)`. */
  def globalRowNumbers(df: DataFrame, tieCol: String,
      specs: Seq[RankSpec]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    require(specs.nonEmpty)
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType)
    specs.foreach { sp =>
      val dt = df.schema(sp.valueCol).dataType
      require(integral(dt),
        s"globalRowNumbers needs integral value columns; ${sp.valueCol} is $dt")
    }
    val tagged = specs.zipWithIndex.map { case (sp, i) =>
      val v = col(sp.valueCol).cast("long")
      val av =
        if (sp.ascending) v
        else when(v === lit(Long.MinValue), raise_error(lit(
          s"globalRowNumbers: Long.MinValue in ${sp.valueCol} cannot be negated")))
          .otherwise(-v)
      struct(lit(i).as("m"), av.as("av"))
    }
    val hist = df
      .select(explode(array(tagged: _*)).as("e"))
      .select(col("e.m").as("m"), col("e.av").as("av"))
      .groupBy(col("m"), col("av")).agg(count(lit(1)).as("__c"))
    val pre = exclusivePrefixBy(hist, "m", col("av").asc, Seq("__c" -> "__before"))
      .select(col("m"), col("av"), col("__before"))
    val exploded = df
      .select(col(tieCol), explode(array(tagged: _*)).as("e"))
      .select(col(tieCol), col("e.m").as("m"), col("e.av").as("av"))
    val w = Window.partitionBy(col("m"), col("av")).orderBy(col(tieCol))
    val ranked = exploded.join(pre, Seq("m", "av"))
      .withColumn("__rn", col("__before") + row_number().over(w).cast("long"))
    val firstAgg = max(when(col("m") === 0, col("__rn"))).as(specs.head.out)
    val restAggs = specs.zipWithIndex.tail.map { case (sp, i) =>
      max(when(col("m") === i, col("__rn"))).as(sp.out) }
    val wide = ranked.groupBy(col(tieCol)).agg(firstAgg, restAggs: _*)
    df.join(wide, Seq(tieCol))
  }
}
