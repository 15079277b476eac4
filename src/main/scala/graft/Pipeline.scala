package graft

import java.util.concurrent.{CompletionException, Executors}

import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, GraftBridge, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.clean.Silver
import graft.gold.Gold
import graft.io.{Lake, Readers}

/** Pipeline orchestration — reference EP1/EP2/X1/X4 parity
  * (`bronze_to_silver.py:225-285`, `silver_to_gold.py:87-115`,
  * `function_app.py:38-73`).
  *
  * Layout under `base`: `layer/dataset/ingest_date=DATE/…` exactly as the
  * reference; silver/gold are parquet directories (Spark-native) rather than
  * single named files — the silver contract is the schema, not the filename.
  * `ingestDate` is explicit (no today()-default: SURVEY.md §7.3.7).
  * Returns the reference's JSON summary shapes as strings.
  *
  * There is one path to gold: EP2, from the silver parquet. EP1 writes
  * silver and then runs EP2, so both endpoints publish the same gold. The
  * three silver outputs are independent, so EP1 reads, cleans and writes
  * them at once, one thread each, and waits for all three before gold.
  * Every output's row count is observed during its write (one job per
  * output), and nothing is kept in memory across calls: each run reads the
  * files as they are now, so a rewritten bronze file under the same
  * `ingest_date` is never answered from an earlier run's frames.
  */
class Pipeline(spark: SparkSession, base: String, ingestDate: String) {

  private def p(layer: String, dataset: String): String =
    Lake.path(base, layer, dataset, ingestDate)

  // --- bronze reads (S1/S2/S3) ---------------------------------------------
  def readBronzeHousing(): DataFrame =
    Readers.csv(spark, s"${p("bronze", "housing_affordability")}/housing2019-23.csv")
  def readBronzeSchool(): DataFrame =
    Readers.xlsx(spark, s"${p("bronze", "school_performance")}/school_performance.xlsx")
  def readBronzeSpecial(): DataFrame =
    Readers.csvWithHeaderOffset(spark,
      s"${p("bronze", "special_education")}/special_education2022-23.csv", headerRow = 4)

  /** build_silver_frames parity: cleaned silver frames, in-memory. */
  def buildSilverFrames(): (DataFrame, DataFrame, DataFrame) = (
    Silver.Housing.clean(readBronzeHousing()),
    Silver.School.clean(readBronzeSchool()),
    Silver.SpecialEd.clean(readBronzeSpecial()))

  /** Write `df` to `out` and summarize it; `rows` is counted by an
    * `Observation` during the write itself, not by a second job. */
  private def write(df: DataFrame, out: String): String = {
    val rows = Observation()
    Lake.writeSingleFile(df.observe(rows, count(lit(1)).as("n")), out)
    s"""{"rows": ${rows.get("n")}, "columns": ${df.columns.length}, "output_path": "$out"}"""
  }

  /** EP1 first half — bronze → silver writes + JSON summary, keys in the
    * order housing, school, special_education.
    *
    * Each output is one unit (read, clean, write), and the three run at once
    * on a pool of three threads made for the call; the XLSX parse, which
    * runs on the driver, overlaps the two CSV writes. Each unit is submitted
    * with the caller's active session and a copy of the caller's local
    * properties ([[GraftBridge.withThreadLocalCaptured]]), so its jobs carry
    * the caller's job group, description and any key the caller set:
    * cancelling the group cancels them, and listeners attribute them to the
    * call. The call returns or throws only once all three units have ended,
    * so none of its jobs is still running after it. If units fail, the
    * first failure in output order is thrown as the unit threw it, and the
    * others are attached to it as suppressed.
    *
    * There is no setting for the thread count: the pool is as large as the
    * number of outputs, and each output is one single-task write job, so
    * fewer threads only wait longer and more have nothing to run. */
  def runBronzeToSilver(): String = {
    val outputs = Seq(
      ("housing", "housing_affordability", () => Silver.Housing.clean(readBronzeHousing())),
      ("school", "school_performance", () => Silver.School.clean(readBronzeSchool())),
      ("special_education", "special_education", () => Silver.SpecialEd.clean(readBronzeSpecial())))
    val pool = Executors.newFixedThreadPool(outputs.size)
    val ends =
      try outputs
        .map { case (_, dataset, frame) =>
          GraftBridge.withThreadLocalCaptured(spark, pool)(write(frame(), p("silver", dataset)))
        }
        .map(unit => Try(unit.join())) // join: waits for every unit, interrupted or not
      finally pool.shutdown()
    val failures = ends.collect {
      case Failure(e: CompletionException) if e.getCause != null => e.getCause
      case Failure(e) => e
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    outputs.zip(ends)
      .map { case ((name, _, _), json) => s""""$name": ${json.get}""" }
      .mkString("{", ", ", "}")
  }

  /** EP2 — silver parquet re-read → gold (the silver layer is a re-entrant
    * contract, not a byproduct: silver_to_gold.py:87-115). */
  def runSilverToGold(): String = {
    val gold = Gold.buildLeaJoinedGold(
      housing = Readers.parquet(spark, p("silver", "housing_affordability")),
      school = Readers.parquet(spark, p("silver", "school_performance")),
      special = Readers.parquet(spark, p("silver", "special_education")))
    write(gold, p("gold", "county_analysis"))
  }

  /** EP1 — full pipeline: the silver writes, then EP2 over what they wrote.
    * Gold is built from the silver parquet, not from the in-memory frames
    * the reference reuses (bronze_to_silver.py:234-254): reading the same
    * files gives both endpoints the same input partitioning and so the same
    * `avg` summation order, and EP1 and EP2 publish bit-identical gold. */
  def runBronzeToSilverAndGold(): String =
    s"""{"silver": ${runBronzeToSilver()}, "gold": {"county_joined": ${runSilverToGold()}}}"""
}

/** CLI runners (X4 parity: the reference's `__main__` blocks). */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val usage = "usage: Pipeline <bronze-to-silver|silver-to-gold|full> <base> <ingestDate>"
    require(args.length == 3, usage)
    val spark = Session.local()
    // `base` goes through the reference's storage env contract: unchanged
    // when no PIPELINE_STORAGE_MODE/ADLS_* variable is set
    Lake.applyStorageAuth(spark, sys.env)
    val pipe = new Pipeline(spark, Lake.resolveBaseFromEnv(sys.env, args(1)), args(2))
    val json = args(0) match {
      case "bronze-to-silver" => pipe.runBronzeToSilver()
      case "silver-to-gold"   => pipe.runSilverToGold()
      case "full"             => pipe.runBronzeToSilverAndGold()
      case other              => throw new IllegalArgumentException(s"$other — $usage")
    }
    println(json)
    spark.stop()
  }
}
