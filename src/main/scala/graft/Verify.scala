package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only these query names (local iteration)
    val only = args.drop(2).toSet
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Failures are RECORDED, not just logged: round 7 shipped six queries
    // that failed analysis, and their absence from the output dir made them
    // invisible in the correctness report (missing row ≠ red row). Anything
    // in errors.json turns into a hard selfcheck failure.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(500)
      }
    }
    // JSON string escaping lives in [[Jsons.quote]] (shared with the
    // ScaleStress sidecar writer so the rules can't drift apart).
    def q(s: String): String = Jsons.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // names this invocation attempted (an `only`-filtered local run attempts
    // a subset; selfcheck must not flag the rest as missing)
    val attempted = SparkEntry.queries.keys
      .filter(n => only.isEmpty || only(n)).toSeq.sorted
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      attempted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
