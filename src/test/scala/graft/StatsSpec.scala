package graft

import org.apache.spark.sql.functions._

import graft.ops.Stats

/** Group-statistics ops: z-score outlier flagging. */
class StatsSpec extends SparkSpec {

  test("groupAnomalies flags exactly the planted outlier, not the bulk") {
    import spark.implicits._
    // group "a": tight cluster at 10 plus one wild point; group "b": n=1
    // (excluded — sd undefined); group "c": uniform spread, no outlier.
    val df = (Seq.fill(20)(10.0) ++ Seq(11.0, 9.0, 100.0)).zipWithIndex
      .map { case (v, i) => ("a", i.toLong, v) }
      .++(Seq(("b", 100L, 5.0)))
      .++(Seq(("c", 200L, 1.0), ("c", 201L, 2.0), ("c", 202L, 3.0)))
      .toDF("g", "id", "v")
    val flagged = Stats.groupAnomalies(df, "g", "v", sigma = 2.5)
      .select($"g", $"id").as[(String, Long)].collect().toSet
    assert(flagged == Set(("a", 22L)))
  }

  test("groupAnomalies matches the explicit mean/sd formula") {
    import spark.implicits._
    val vals = Seq(3.0, 7.0, 7.0, 19.0, 2.0, 5.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }.toDF("g", "id", "v")
    val s = vals.sum; val ssq = vals.map(v => v * v).sum; val n = vals.size.toDouble
    val mean = s / n
    val sd = math.sqrt((ssq - s * s / n) / (n - 1.0))
    val want = vals.zipWithIndex.collect {
      case (v, i) if math.abs(v - mean) > 1.5 * sd => i.toLong
    }.toSet
    assert(want.nonEmpty) // the fixture actually exercises the flag path
    val got = Stats.groupAnomalies(df, "g", "v", sigma = 1.5)
      .select($"id").as[Long].collect().toSet
    assert(got == want)
  }

  test("histogram bins by floor(v/width), excludes NULLs, handles negatives") {
    import spark.implicits._
    val df = Seq(Some(0.0), Some(999.9), Some(1000.0), Some(2500.0),
      Some(-0.5), None).toDF("v")
    val out = Stats.histogram(df, "v", 1000.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((0L, 2L, 0.0), (1L, 1L, 1000.0), (2L, 1L, 2000.0),
      (-1L, 1L, -1000.0)))
  }

  test("mergeableStats + mergeStats == full recompute, any merge tree") {
    import graft.ops.Stats
    import spark.implicits._
    val all = Seq(
      ("a", 5L), ("a", 1L), ("a", 9L), ("b", 4L), ("b", 4L), ("c", 7L)
    ).toDF("g", "v")
    def stats(df: org.apache.spark.sql.DataFrame) = Stats.mergeableStats(df, "g", "v")
    val full = stats(all).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(full == Map("a" -> ((3L, 15L, 1L, 9L)), "b" -> ((2L, 8L, 4L, 4L)),
      "c" -> ((1L, 7L, 7L, 7L))))
    // split three ways, merge in two different shapes — totals identical
    val p1 = stats(all.filter($"v" < 4L))
    val p2 = stats(all.filter($"v" >= 4L && $"v" < 7L))
    val p3 = stats(all.filter($"v" >= 7L))
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(toMapOf(Stats.mergeStats(p1, p2, p3)) == full)
    assert(toMapOf(Stats.mergeStats(Stats.mergeStats(p1, p2), p3)) == full)
  }

  test("columnProfile: exact null and distinct counts per column") {
    import spark.implicits._
    val df = Seq(
      (Some("a"), Some(1)), (Some("a"), None), (Some("b"), Some(2)),
      (None, Some(2))).toDF("s", "i")
    val out = Stats.columnProfile(df, Seq("s", "i"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("s") == ((4L, 1L, 2L))) // 4 rows, 1 null, {a,b}
    assert(out("i") == ((4L, 1L, 2L))) // 4 rows, 1 null, {1,2}
  }

  test("robustOutliers: median/MAD ignore the extreme value that wrecks z-scores") {
    import spark.implicits._
    // values 10..14 plus one 1000: med=12, |v-med| = {2,1,0,1,2,988}, mad=1.5
    val df = Seq(10, 11, 12, 13, 14, 1000).map(("g", _)).toDF("g", "v")
    val out = Stats.robustOutliers(df, "g", "v", k = 3.0).collect().head
    assert(out.getDouble(1) == 12.5)  // interpolated median of 6 values
    assert(out.getLong(3) == 6L)
    // only 1000 deviates more than 3*mad from the median
    assert(out.getLong(4) == 1L)
    // the z-score screen on the same data: sd is so inflated by the outlier
    // that LESS deviation is flagged relative to sigma*sd at high sigma —
    // the motivating contrast, pinned loosely: robust flags exactly one
    assert(Stats.groupAnomalies(df, "g", "v", sigma = 3.0).count() <= 1L)
  }

  test("embeddingProfile: exact quantized per-dimension stats; dead dim has zero variance") {
    import spark.implicits._
    val embs = Seq(
      (1L, Seq(1.0f, 0.5f)),
      (2L, Seq(3.0f, 0.5f)),
      (3L, Seq(2.0f, 0.5f))).toDF("vec_id", "embedding")
    val out = Stats.embeddingProfile(embs, "embedding")
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // dim 1: q = {1e6, 3e6, 2e6} → mean 2.0, var E[q²]−mean² = 14/3−4 = 2/3
    assert(out(1)._1 == 3L && out(1)._2 == 2.0)
    assert(math.abs(out(1)._3 - 2.0 / 3.0) < 1e-12)
    assert(out(1)._4 == 1.0 && out(1)._5 == 3.0)
    // dim 2 constant → variance exactly 0 on the quantized grid
    assert(out(2) == ((3L, 0.5, 0.0, 0.5, 0.5)))
  }

  // -------------------------------------------------- calibrationCurve
  test("calibrationCurve: exact buckets, rates, and means on a hand case") {
    import spark.implicits._
    // scores 0.0 .. 0.9; labels: positive iff score >= 0.5
    val df = (0 until 10).map(i => (i / 10.0, i >= 5)).toDF("score", "lab")
    val out = Stats.calibrationCurve(df, "score", "lab", buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList
    // range [0, 9e8], width 9e8+1; bucket k catches scores {0.2k, 0.2k+0.1},
    // so 0.5 (positive) shares bucket 2 with 0.4 (negative)
    assert(out.map(_._1) == List(0L, 1L, 2L, 3L, 4L))
    assert(out.forall(_._2 == 2L))
    assert(out.map(_._3) == List(0L, 0L, 1L, 2L, 2L))
    assert(out.map(_._5) == List(0L, 0L, 500000L, 1000000L, 1000000L))
    // bucket 0 holds scores 0.0, 0.1 → mean 0.05 → 50000 µ
    assert(out.head._4 == 50000L)
  }

  test("calibrationCurve: NULL scores dropped; constant scores collapse to bucket 0") {
    import spark.implicits._
    val df = Seq((Some(0.7), true), (Some(0.7), false), (None, true))
      .toDF("score", "lab")
    val out = Stats.calibrationCurve(df, "score", "lab", buckets = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    assert(out.toList == List((0L, 2L, 1L, 500000L)))
  }

  test("x111 on the real corpus: partition of the joined rows, rates in range") {
    val rows = SparkEntry.queries("x111_calibration")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.map(_.getLong(1)).sum == 500L)
    assert(rows.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 9L))
    assert(rows.forall(r => r.getLong(4) >= 0L && r.getLong(4) <= 1000000L))
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)))
  }
}
