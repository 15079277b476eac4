package graft

import org.apache.spark.sql.functions._
import graft.ops.{Curation, SharedViews, TextAnalysis}

/** Novelty / vocabulary-growth / char-class / language-mix operators, and
  * the session-scoped SharedViews materialization. */
class CorpusGrowthSpec extends SparkSpec {

  test("shingleNovelty: exact copy scores 0, first doc 1, partial overlap exact") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),     // shingles: abc bcd cde — all first here
      (2L, "a b c d e"),     // exact copy → nothing novel
      (3L, "a b c x y z")).toDF("doc_id", "text") // abc seen; bcx cxy xyz novel
    val out = TextAnalysis.shingleNovelty(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1.0)))
    assert(out(2L) == ((3L, 0L, 0.0)))
    assert(out(3L) == ((4L, 3L, 0.75)))
  }

  test("charClassProfile: exact class counts and Simpson index") {
    import spark.implicits._
    val docs = Seq(
      (1L, "ab 12!"),  // 2 letters, 2 digits, 1 space, 1 punct, 0 other; n=6
      (2L, ""),        // empty → NULL simpson
      (3L, "@@@@")).toDF("doc_id", "text") // 4 other → simpson 1.0
    val rows = TextAnalysis.charClassProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = rows(1L)
    assert((r1.getInt(1), r1.getInt(2), r1.getInt(3), r1.getInt(4), r1.getInt(5), r1.getInt(6)) ==
      ((6, 2, 2, 1, 1, 0)))
    assert(r1.getDouble(7) == (4.0 + 4.0 + 1.0 + 1.0 + 0.0) / 36.0)
    assert(rows(2L).isNullAt(7))
    assert(rows(3L).getDouble(7) == 1.0)
  }

  test("vocabGrowthBuckets: new types land in the first-occurrence bucket, cumulative is exact") {
    import spark.implicits._
    // maxId = 9, buckets = 10 → bucket == doc_id
    val docs = Seq(
      (0L, "a b"),  // types a,b new; shingle "a b" new
      (4L, "a c"),  // c new; shingle "a c" new
      (9L, "a b")).toDF("doc_id", "text") // nothing new
    val out = TextAnalysis.vocabGrowthBuckets(docs, "doc_id", "text", buckets = 10)
      .orderBy($"bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((0L, 2L, 1L, 2L, 1L), (4L, 1L, 1L, 3L, 2L)))
  }

  test("temperatureLangMix: sqrt weights with exact rational token counts") {
    import spark.implicits._
    val docs = Seq(
      ("en", "w w w w w w w w w"), // 9 tokens → sqrt 3
      ("fr", "w w w w")).toDF("lang", "text") // 4 tokens → sqrt 2
    val out = Curation.temperatureLangMix(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("en") == ((1L, 9L, 3.0 / 5.0)))
    assert(out("fr") == ((1L, 4L, 2.0 / 5.0)))
  }

  test("collocationLift: exact integer lift with pair-order tiebreak") {
    import spark.implicits._
    // unigrams a:3 b:2 c:1 d:2, N=8; pairs (a,b):2 (a,c):1 (d,d):1
    val docs = Seq("a b", "a b", "a c", "d d").toDF("text")
    val out = TextAnalysis.collocationLift(docs, "text", k = 10, minPairCount = 1L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(5)))
    // lift(a,b) = 2·8/(3·2) = 8/3 == lift(a,c) = 1·8/(3·1) — exact tie,
    // broken by (t1, t2); lift(d,d) = 8/4 = 2
    assert(out.toSeq == Seq(
      ("a", "b", 2L, 16.0 / 6.0),
      ("a", "c", 1L, 8.0 / 3.0),
      ("d", "d", 1L, 2.0)))
    assert(out(0)._4 == out(1)._4) // the tie is bit-exact, not approximate
  }

  test("tokenDriftTV: exact total-variation distance between corpus halves") {
    import spark.implicits._
    // maxId=3 → ids 0,1 in half A; 2,3 in half B
    val docs = Seq(
      (0L, "en", "a a b"), (2L, "en", "a b b"), // TV = ½(1/3 + 1/3) = 1/3
      (1L, "fr", "x y"), (3L, "fr", "x y")      // identical → TV = 0
    ).toDF("doc_id", "lang", "text")
    val out = TextAnalysis.tokenDriftTV(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("en") == ((3L, 3L, 6.0 / 18.0)))
    assert(out("fr") == ((2L, 2L, 0.0)))
  }

  test("charEntropy: run-fold entropy, uniform=ln(n), constant=0, empty=null") {
    import spark.implicits._
    val docs = Seq((1L, "aab"), (2L, "aaaa"), (3L, "abcd"), (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))).toMap
    // H("aab") = ln3 − (2ln2 + 1ln1)/3; fold adds a's term then b's
    assert(math.abs(out(1L)._2.get - (math.log(3.0) - 2.0 * math.log(2.0) / 3.0)) < 1e-15)
    assert(out(2L) == ((4L, Some(0.0))))                      // one run → zero entropy
    assert(math.abs(out(3L)._2.get - math.log(4.0)) < 1e-15)  // uniform → ln(n)
    assert(out(4L) == ((0L, None)))                           // empty text → NULL
  }

  test("zipfSlope: closed-form least squares over rank-ordered fold") {
    import spark.implicits._
    // freqs c=4,2,1 → ranks 1,2,3 (ties impossible); slope from the same
    // left-to-right component sums the operator promises
    val docs = Seq(("s1", "a a b c a b a")).toDF("source", "text")
    val Row2 = TextAnalysis.zipfSlope(docs, "text", "source").collect().head
    assert(Row2.getString(0) == "s1" && Row2.getLong(1) == 3L)
    val (xs, ys) = (Seq(1.0, 2.0, 3.0).map(math.log), Seq(4.0, 2.0, 1.0).map(math.log))
    val (sx, sy) = (xs.sum, ys.sum)
    val sxy = xs.zip(ys).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    val want = (3.0 * sxy - sx * sy) / (3.0 * sxx - sx * sx)
    assert(math.abs(Row2.getDouble(2) - want) < 1e-12)
  }

  test("distributionKS: exact max-ECDF-gap with integer statistics") {
    import spark.implicits._
    val rows = Seq(("A", 1L), ("A", 2L), ("B", 2L), ("B", 3L), ("C", 3L)).toDF("src", "v")
    val out = TextAnalysis.distributionKS(rows, "src", "v")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet == Set(("A", "B"), ("A", "C"), ("B", "C")))
    assert(out(("A", "B")) == ((2L, 2L, 0.5)))  // gap at v=1 (1/2 vs 0) and v=2 (1 vs 1/2)
    assert(out(("A", "C")) == ((2L, 1L, 1.0)))  // disjoint supports → full separation
    assert(out(("B", "C")) == ((2L, 1L, 0.5)))
  }

  test("vocabCoverage: exact coverage at each V, saturates past the type count") {
    import spark.implicits._
    // freqs: a×4, b×2, c×1, d×1 → ranks a,b,c,d (ties by token); N=8
    val docs = Seq("a a b c", "a a b d").toDF("text")
    val out = TextAnalysis.vocabCoverage(docs, "text", sizes = Seq(1, 2, 10))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(out(1) == ((1L, 4L, 8L, 0.5)))       // top-1 = {a} covers 4/8
    assert(out(2) == ((2L, 6L, 8L, 0.25)))      // {a,b} covers 6/8
    assert(out(10) == ((4L, 8L, 8L, 0.0)))      // all 4 types → full coverage
  }

  test("SharedViews.materialized builds once per (session, tag)") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq((1L, 2L)).toDF("a", "b") }
    val first = SharedViews.materialized(spark, "corpusgrowthspec/tag1")(build())
    val again = SharedViews.materialized(spark, "corpusgrowthspec/tag1")(build())
    val other = SharedViews.materialized(spark, "corpusgrowthspec/tag2")(build())
    assert(builds == 2) // tag1 built once, tag2 once
    assert(first eq again) // the SAME checkpointed frame, not an equal copy
    assert(first.collect().toSeq == other.collect().toSeq)
    // another session, even one on the same SparkContext, builds its own
    val fresh = SharedViews.materialized(spark.newSession(), "corpusgrowthspec/tag1")(build())
    assert(builds == 3)
    assert(!(fresh eq first))
  }
}
