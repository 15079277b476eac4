package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The helpers the stress mains share: the replicated corpus builder and
  * the Verify-layout writer `tools/selfcheck.py` reads. */
class StressHelpersSpec extends SparkSpec {

  test("replicated: n × base rows with disjoint id ranges on a gapped, non-0-based id space") {
    import spark.implicits._
    val base = Seq((5L, "a"), (9L, "b"), (40L, "c")).toDF("doc_id", "text")
    val reps = ScaleStress.replicated(base, "doc_id", 4)(ScaleStress.suffixed)
      .as[(Long, String)].collect()
    assert(reps.length == 4 * 3)
    // replica k holds exactly base ids + k·(max+1); the ranges never meet
    val stride = 41L
    assert(ScaleStress.idStride(base, "doc_id") == stride)
    val byReplica = reps.groupBy { case (_, t) => t.split(" rep").last.toInt }
    assert(byReplica.keySet == Set(0, 1, 2, 3))
    byReplica.foreach { case (k, rows) =>
      assert(rows.map(_._1).sorted.toSeq == Seq(5L, 9L, 40L).map(_ + k * stride))
    }
    assert(reps.map(_._1).distinct.length == reps.length)
    val ranges = byReplica.values.map(r => (r.map(_._1).min, r.map(_._1).max)).toSeq.sorted
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) => assert(hi < lo) }
    // one replica is the base itself: no offset, no suffix
    assert(ScaleStress.replicated(base, "doc_id", 1)(ScaleStress.suffixed)
      .as[(Long, String)].collect().toSet == Set((5L, "a"), (9L, "b"), (40L, "c")))
  }

  test("replicated: perturbed vector replicas shift every component by (k+1)·0.001") {
    import spark.implicits._
    val base = Seq((3L, Array(1.0f, -1.0f))).toDF("vec_id", "embedding")
    val reps = ScaleStress.replicated(base, "vec_id", 2)(ScaleStress.perturbed)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    assert(reps.map(_._1).toSeq == Seq(3L, 7L))
    assert(reps(0)._2.toSeq == Seq(1.0f + 0.001f, -1.0f + 0.001f))
    assert(reps(1)._2.toSeq == Seq(1.0f + 2 * 0.001f, -1.0f + 2 * 0.001f))
  }

  private def withTempDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-layout")
    try body(dir.toString)
    finally Files.walk(dir).iterator().asScala.toSeq.reverse.foreach((p: Path) => Files.delete(p))
  }
  private val json = new ObjectMapper()
  private def readJson(dir: String, file: String) =
    json.readTree(Files.readString(Paths.get(dir, file)))

  test("writeLayout: strict-JSON escaping; oracle_sql keys = manifest minus rows-only") {
    // Verify's own call over the full registry
    withTempDir { dir =>
      val all = SparkEntry.queries.keys.toSeq.sorted
      Verify.writeLayout(dir, all, SparkEntry.oracleSql,
        Seq("x01_bad" -> "line1\nline2\t\"quoted\" back\\slash \u0001ctl"))
      val manifest = readJson(dir, Verify.Manifest).elements().asScala.map(_.asText).toSeq
      val oracles = readJson(dir, "oracle_sql.json")
      val oracleKeys = oracles.fieldNames().asScala.toSet
      assert(manifest == all)
      assert(oracleKeys == all.toSet -- SparkEntry.rowsOnly)
      assert(oracleKeys.forall(k => oracles.get(k).asText == SparkEntry.oracleSql(k)))
      // control characters, quotes and backslashes survive a strict parser
      assert(readJson(dir, "errors.json").get("x01_bad").asText ==
        "line1\nline2\t\"quoted\" back\\slash \u0001ctl")
    }
    // ScaleStress's pair dumps: only the dumped names, each with its oracle
    withTempDir { dir =>
      ScaleStress.writeLayout(dir, Seq("x06_minhash_neardup"))
      assert(readJson(dir, "oracle_sql.json").get("x06_minhash_neardup").asText ==
        SparkEntry.oracleSql("x06_minhash_neardup"))
      assert(readJson(dir, Verify.Manifest).get(0).asText == "x06_minhash_neardup")
      assert(readJson(dir, "errors.json").size == 0)
    }
  }

  test("Verify and ScaleStress write the selfcheck layout only through Verify.writeLayout") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toMap
    // every sidecar file name is spelled in one place
    Seq("\"oracle_sql.json\"", "\"errors.json\"", "\"manifest.json\"").foreach { lit =>
      assert(sources.filter(_._2.contains(lit)).keySet == Set("graft/Verify.scala"), lit)
    }
    assert(sources("graft/Verify.scala").contains("writeLayout(outDir, attempted"))
    assert(sources("graft/ScaleStress.scala").contains("Verify.writeLayout("))
    val callers = sources("graft/ScaleStress.scala").split("\n")
      .count(_.trim.startsWith("writeLayout(s\"$outDir/verify"))
    assert(callers == 2, "both the verify/ and verify40/ dumps use the writer")
  }
}
