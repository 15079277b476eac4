package graft

import java.nio.file.Files

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Par

/** The widen contract, and direct property oracles for the distributed
  * prefix-scan kernel
  * (`ops/Par.scala`) — seeded random sweeps over (values, weights, key
  * groups, input partition counts, shuffle-partition configs), each case
  * checked against a driver-computed sequential scan. Seven queries ride
  * this kernel (x86/x88/x100/x129/x132/x134/x144); until r10 it was pinned
  * only transitively through their end-to-end hashes and plan shapes. */
class ParSpec extends SparkSpec {

  import scala.util.Random

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("ord", LongType, nullable = false),
    StructField("w1", LongType, nullable = true),
    StructField("w2", LongType, nullable = true)))

  /** Random relation: unique `ord` keys (the kernel's total-order
    * contract), weights with a null sprinkle, `k` in a small catalog. */
  private def randomRel(rnd: Random, n: Int, nKeys: Int): Seq[Row] = {
    val ords = rnd.shuffle((1 to 3 * n).map(_.toLong).toVector).take(n)
    ords.map { o =>
      Row(rnd.nextInt(nKeys),
        o,
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(100).toLong - 50),
        Long.box(rnd.nextInt(1000).toLong))
    }
  }

  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("exclusivePrefix ≡ sequential exclusive scan (random sizes, weights, partitionings)") {
    val rnd = new Random(421)
    for (iter <- 1 to 12) {
      val n = rnd.nextInt(120) + 1
      val rows = randomRel(rnd, n, nKeys = 1)
      val inParts = rnd.nextInt(5) + 1
      val shufParts = rnd.nextInt(6) + 1
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, inParts), schema)
      val got = withShufflePartitions(shufParts) {
        Par.exclusivePrefix(df, col("ord").asc, Seq("w1" -> "p1", "w2" -> "p2"))
          .select("ord", "p1", "p2").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      }
      // driver oracle: sort by ord, running sums of nulls-as-zero weights
      val sorted = rows.sortBy(_.getLong(1))
      var (a1, a2) = (0L, 0L)
      val want = sorted.map { r =>
        val out = (r.getLong(1), a1, a2)
        a1 += Option(r.get(2)).map(_.asInstanceOf[Long]).getOrElse(0L)
        a2 += Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(0L)
        out
      }
      assert(got.toSeq == want,
        s"iter $iter (n=$n, inParts=$inParts, shufParts=$shufParts)")
    }
  }

  test("exclusivePrefix descending order ≡ reversed sequential scan") {
    val rnd = new Random(422)
    val rows = randomRel(rnd, 80, nKeys = 1)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val got = Par.exclusivePrefix(df, col("ord").desc, Seq("w2" -> "p2"))
      .select("ord", "p2").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val sorted = rows.sortBy(-_.getLong(1))
    var acc = 0L
    val want = sorted.map { r =>
      val out = (r.getLong(1), acc); acc += r.getLong(3); out
    }.sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("exclusivePrefixBy ≡ per-key sequential scan (scan resets at key boundaries)") {
    val rnd = new Random(423)
    for (iter <- 1 to 10) {
      val n = rnd.nextInt(150) + 2
      val nKeys = rnd.nextInt(4) + 2
      val rows = randomRel(rnd, n, nKeys)
      val inParts = rnd.nextInt(4) + 1
      val shufParts = rnd.nextInt(6) + 1
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, inParts), schema)
      val got = withShufflePartitions(shufParts) {
        Par.exclusivePrefixBy(df, "k", col("ord").asc, Seq("w2" -> "p2"))
          .select("k", "ord", "p2").collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(t => (t._1, t._2))
      }
      val want = rows.groupBy(_.getInt(0)).toSeq.flatMap { case (k, grp) =>
        var acc = 0L
        grp.sortBy(_.getLong(1)).map { r =>
          val out = (k, r.getLong(1), acc); acc += r.getLong(3); out
        }
      }.sortBy(t => (t._1, t._2))
      assert(got.toSeq == want,
        s"iter $iter (n=$n, nKeys=$nKeys, inParts=$inParts, shufParts=$shufParts)")
    }
  }

  test("exclusivePrefixBy offsets collect stays within nPartitions + nKeys − 1") {
    // The kernel now REQUIRES the contiguity bound internally (Par.scala),
    // so this sweep's job is to exercise it across adversarial shapes —
    // many more keys than partitions, one key, skewed key sizes, wide and
    // narrow shuffle configs, AQE on and off — and to assert the bound
    // independently on a replica of the kernel's own partitioning recipe,
    // so a regression shows up as THIS test failing even if someone
    // deletes the in-kernel require.
    val rnd = new Random(426)
    val priorAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (iter <- 1 to 10) {
        spark.conf.set("spark.sql.adaptive.enabled", (iter % 2 == 0).toString)
        val n = rnd.nextInt(300) + 2
        val nKeys = Seq(1, 2, 7, 25, 60)(rnd.nextInt(5))
        val shufParts = Seq(1, 2, 7, 40)(rnd.nextInt(4))
        val rows = randomRel(rnd, n, nKeys)
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, rnd.nextInt(5) + 1), schema)
        withShufflePartitions(shufParts) {
          // runs the real kernel — its internal require is the assertion
          Par.exclusivePrefixBy(df, "k", col("ord").asc, Seq("w2" -> "p2")).count()
          // independent replica of the partitioning recipe + explicit bound
          val offsets = df.localCheckpoint(eager = false)
            .repartitionByRange(shufParts, col("k"), col("ord").asc)
            .withColumn("__pid", spark_partition_id())
            .groupBy(col("__pid"), col("k")).count()
            .collect()
          val distinctKeys = offsets.map(_.get(1)).distinct.length
          assert(offsets.length <= shufParts + distinctKeys - 1,
            s"iter $iter (n=$n, nKeys=$nKeys, shufParts=$shufParts): " +
              s"${offsets.length} offset rows")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", priorAqe)
  }

  test("exclusivePrefixByWithTotals over a LongType key: each key's totals are its rows' sums") {
    // the totals map is keyed by the boxed values the offsets collect
    // returns (java.lang.Long here); Map[Any, …] looks keys up with
    // cooperative equality, so an Int literal finds a Long key too
    val rnd = new Random(427)
    val rows = randomRel(rnd, 200, nKeys = 5)
    val longKeyed = StructType(schema.fields.updated(0, StructField("k", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r.getInt(0).toLong +: r.toSeq.tail: _*)), 3),
      longKeyed)
    val (_, totals) = withShufflePartitions(4) {
      Par.exclusivePrefixByWithTotals(df, "k", col("ord").asc, Seq("w1" -> "p1", "w2" -> "p2"))
    }
    def weight(r: Row, i: Int): Long = Option(r.get(i)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val want = rows.groupBy(_.getInt(0)).map { case (k, grp) =>
      k -> Seq(grp.map(weight(_, 2)).sum, grp.map(weight(_, 3)).sum) }
    assert(totals.keySet.forall(_.isInstanceOf[java.lang.Long]), totals.keySet)
    assert(totals.size == want.size)
    for ((k, sums) <- want) {
      assert(totals.get(k.toLong).contains(sums), s"key $k as Long")
      assert(totals.getOrElse(k, Nil) == sums, s"key $k as Int")
    }
  }

  test("globalRowNumber ≡ row_number over (value asc/desc, tie) with duplicate values") {
    val rnd = new Random(424)
    for (iter <- 1 to 10) {
      val n = rnd.nextInt(130) + 1
      val asc = rnd.nextBoolean()
      // values deliberately collide (small domain) — ties broken by unique id
      val rows = (1 to n).map(i => (i.toLong, rnd.nextInt(9).toLong - 4))
      val inParts = rnd.nextInt(4) + 1
      val shufParts = rnd.nextInt(6) + 1
      val df = spark.createDataFrame(rows).toDF("id", "v")
        .repartition(inParts)
      val got = withShufflePartitions(shufParts) {
        Par.globalRowNumber(df, "v", "id", asc, "rn")
          .select("id", "rn").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val want = rows
        .sortBy { case (id, v) => (if (asc) v else -v, id) }
        .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      assert(got == want, s"iter $iter (n=$n, asc=$asc)")
    }
  }

  test("globalRowNumber keeps NULL-valued rows (null-safe join), ranked nulls-first ascending") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Long.box(5L)), Row(2L, null), Row(3L, Long.box(1L)), Row(4L, null)), 2),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", LongType, nullable = true))))
    val got = Par.globalRowNumber(df, "v", "id", ascending = true, "rn")
      .select("id", "rn").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Spark ascending ordering places NULL first: ids 2,4 rank 1,2; then v=1, v=5
    assert(got == Map(2L -> 1L, 4L -> 2L, 3L -> 3L, 1L -> 4L))
  }

  test("globalRowNumbers ≡ N independent row_numbers in one pass") {
    val rnd = new Random(425)
    for (iter <- 1 to 8) {
      val n = rnd.nextInt(140) + 1
      val rows = (1 to n).map(i =>
        (i.toLong, rnd.nextInt(7).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(5).toLong - 2))
      val shufParts = rnd.nextInt(6) + 1
      val df = spark.createDataFrame(rows).toDF("id", "a", "b", "c")
        .repartition(rnd.nextInt(4) + 1)
      val got = withShufflePartitions(shufParts) {
        Par.globalRowNumbers(df, "id", Seq(
          Par.RankSpec("a", ascending = true, "ra"),
          Par.RankSpec("b", ascending = false, "rb"),
          Par.RankSpec("c", ascending = false, "rc")))
          .select("id", "ra", "rb", "rc").collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      }
      def rank(key: ((Long, Long, Long, Long)) => Long, asc: Boolean): Map[Long, Long] =
        rows.sortBy { t => (if (asc) key(t) else -key(t), t._1) }
          .zipWithIndex.map { case (t, i) => t._1 -> (i + 1L) }.toMap
      val (ra, rb, rc) = (rank(_._2, asc = true), rank(_._3, asc = false), rank(_._4, asc = false))
      rows.foreach { t =>
        assert(got(t._1) == ((ra(t._1), rb(t._1), rc(t._1))), s"iter $iter id=${t._1}")
      }
    }
  }

  test("globalRowNumbers output keeps every input row and column") {
    val df = spark.createDataFrame((1 to 50).map(i => (i.toLong, i % 3, s"p$i")))
      .toDF("id", "g", "payload")
    val out = Par.globalRowNumbers(df, "id",
      Seq(Par.RankSpec("g", ascending = true, "rg")))
    assert(out.columns.toSet == Set("id", "g", "payload", "rg"))
    assert(out.count() == 50L)
  }

  /** A parquet table written as one file, read back as one partition. */
  private def onePartitionScan(): DataFrame = {
    val dir = Files.createTempDirectory("graft-widen").resolve("t").toString
    spark.range(5000).selectExpr("id", "repeat('x', 40) AS s").coalesce(1).write.parquet(dir)
    graft.io.Readers.parquet(spark, dir)
  }

  private def cores: Int = spark.sparkContext.defaultParallelism

  test("widen passes a plan that may hold an exchange through and launches no job") {
    val s = spark
    import s.implicits._
    val frames = Seq(
      "mapGroups" -> spark.range(100).as[Long].groupByKey(_ % 3)
        .mapGroups((k, it) => (k, it.size)).toDF(),
      "REBALANCE" -> spark.sql("SELECT /*+ REBALANCE(id) */ * FROM range(100)"),
      "scalar subquery" -> spark.sql(
        "SELECT * FROM range(100) WHERE id > (SELECT max(id) FROM range(5))"))
    val got = frames.map { case (name, df) =>
      val (out, jobs) = JobCounter.count(spark.sparkContext)(Par.widen(df))
      (name, jobs, out eq df)
    }
    assert(got == frames.map { case (name, _) => (name, 0, true) })
    assert(frames.forall { case (_, df) => Par.hasExchange(df) })
  }

  test("widen spreads a one-partition scan to its size over bytesPerTask, capped at the cores") {
    val scan = onePartitionScan().select(col("id"), length(col("s")).as("n"))
    assert(scan.rdd.getNumPartitions == 1 && !Par.hasExchange(scan))
    val size = scan.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    for (bytesPerTask <- Seq(size / 2, size, 2 * size, 1L)) { // 1 byte: the cores
      val (out, jobs) =
        JobCounter.count(spark.sparkContext)(Par.widen(scan, bytesPerTask = bytesPerTask))
      assert(jobs == 0, s"bytesPerTask $bytesPerTask")
      assert(out.rdd.getNumPartitions == math.min(cores.toLong, size / bytesPerTask + 1),
        s"bytesPerTask $bytesPerTask")
    }
  }

  test("widen spreads a localCheckpointed scan") {
    val pinned = onePartitionScan().localCheckpoint()
    assert(pinned.rdd.getNumPartitions == 1)
    assert(Par.widen(pinned, bytesPerTask = 1).rdd.getNumPartitions == cores)
  }

  test("widen never narrows an input wider than its target") {
    val wide = spark.range(0, 1000, 1, 2 * cores).toDF()
    for (bytesPerTask <- Seq(1L, 64L << 10)) {
      val out = Par.widen(wide, bytesPerTask = bytesPerTask)
      assert((out eq wide) && out.rdd.getNumPartitions == 2 * cores)
    }
  }
}
