package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus the [[writeLayout]] sidecars, for the driver's DuckDB compare. */
object Verify {
  /** The sidecar that names the queries a dump attempted. */
  val Manifest = "manifest.json"

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
    // names this invocation attempted (an `only`-filtered local run attempts
    // a subset; selfcheck must not flag the rest as missing)
    val attempted = SparkEntry.queries.keys
      .filter(n => only.isEmpty || only(n)).toSeq.sorted
    writeLayout(outDir, attempted, SparkEntry.oracleSql, errors)
    spark.stop()
  }

  /** The sidecars `tools/selfcheck.py` reads beside the dumped query dirs:
    * `oracle_sql.json` (name → DuckDB SQL), [[Manifest]] (the attempted
    * names) and `errors.json` (name → failure message). The one writer of
    * this layout — Verify's and ScaleStress's dumps both go through it —
    * with every string escaped by [[Jsons.quote]]. */
  def writeLayout(outDir: String, attempted: Seq[String],
      oracles: Iterable[(String, String)],
      errors: Iterable[(String, String)] = Nil): Unit = {
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${Jsons.quote(k)}: ${Jsons.quote(v)}" }
        .mkString("{", ",", "}")
    new java.io.File(outDir).mkdirs()
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), obj(oracles))
    Files.writeString(Paths.get(outDir, "errors.json"), obj(errors))
    Files.writeString(Paths.get(outDir, Manifest),
      attempted.map(Jsons.quote).mkString("[", ",", "]"))
  }
}
