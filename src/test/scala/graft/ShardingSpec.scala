package graft

import org.apache.spark.sql.functions._
import graft.functions.Ops
import graft.ops.Sharding

/** Contracts for consistent-hash shard planning ([[graft.ops.Sharding]]):
  * ring construction invariants, an exact local replay of the full report,
  * and the wrap-around successor branch. */
class ShardingSpec extends SparkSpec {

  private def ownerOf(h: Long, rg: Seq[(Long, Int)]): Long =
    rg.find(_._1 >= h).map(_._2).getOrElse(rg.head._2).toLong

  test("ring is sorted, complete, and covers every shard") {
    val rg = Sharding.ring(8, 32)
    assert(rg.size == 256)
    assert(rg.map(_._1) == rg.map(_._1).sorted)
    assert(rg.map(_._2).distinct.sorted == (0 until 8))
    // vnode positions are distinct (no ambiguous ownership)
    assert(rg.map(_._1).distinct.size == 256)
  }

  test("rebalanceReport matches an exact local replay, wrap branch included") {
    import spark.implicits._
    val rgOld = Sharding.ring(4, 16)
    val rgNew = Sharding.ring(6, 16)
    val maxPos = math.max(rgOld.map(_._1).max, rgNew.map(_._1).max)
    // make sure at least one key lands beyond the last vnode (wrap branch)
    val keys = (0L until 400L) ++
      (0L to 200000L).find(k => Ops.splitmix64(k) > maxPos).toSeq
    assert(keys.size == 401, "expected a wrap-exercising key in range")
    val df = keys.toDF("k")

    val got = Sharding.rebalanceReport(df, "k", 4, 6, vnodesPerShard = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toList

    def pmod(h: Long, n: Int): Long = ((h % n) + n) % n
    val hs = keys.map(Ops.splitmix64)
    def leg(method: String, f: Long => (Long, Long)): (String, Long, Long, Long, Long) = {
      val asg = hs.map(f)
      val moved = asg.count { case (a, b) => a != b }.toLong
      val maxLoad = asg.groupBy(_._2).values.map(_.size).max.toLong
      (method, hs.size.toLong, moved,
        math.floor(moved.toDouble * 1000000.0 / hs.size.toDouble).toLong, maxLoad)
    }
    val expected = List(
      leg("mod", h => (pmod(h, 4), pmod(h, 6))),
      leg("ring", h => (ownerOf(h, rgOld), ownerOf(h, rgNew))))
    assert(got == expected)
  }

  test("consistent hashing moves far fewer rows than mod hashing on the real corpus") {
    val rep = SparkEntry.queries("x110_rebalance_plan")(
      spark, "/root/testdata/sf0.01")
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rep("ring") < rep("mod"))
    // mod 8→12 moves exactly the keys with h%24 ∉ {0..7} → 2/3 of rows;
    // ring moves ≈ the 4/12 of keyspace ceded to new shards — wide bands
    // around both (500 docs, 32 vnodes/shard)
    assert(rep("mod") > 550000L && rep("mod") < 800000L)
    assert(rep("ring") < 550000L)
  }
}
