package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Kept as plain parquet scans so
  * Catalyst's column pruning / filter pushdown reach the file scan (the
  * reference does this "by hand" — see SURVEY.md §4; here it is free).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** One table's parquet scan. Its schema comes from the file footer
    * ([[graft.io.Readers.parquet]]), so the call launches no job and holds
    * nothing between calls: a rewritten file is read as it is now. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.io.Readers.parquet(spark, s"$sfDir/$name.parquet")

  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects outright — read as raw long nanos via the
    * legacy flag and rebuild: integer `div`, not `/`, because ns-since-epoch
    * (~1.7e18) exceeds double's 2^53 integer range) and, since round 7's
    * testdata refresh, as TIMESTAMP(isAdjustedToUTC=false, µs) which Spark 4
    * surfaces as TIMESTAMP_NTZ. Every downstream consumer (`unix_micros`,
    * `withWatermark`) needs plain TimestampType, so normalize both shapes
    * here; with the session timezone pinned to UTC the NTZ→LTZ cast is
    * epoch-preserving and matches DuckDB's naive-timestamp reading. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    normalizeTs(raw)
  }

  /** Normalize an `events`-shaped frame's `ts` column to TimestampType.
    * Shared by the batch loader above and the streaming read sites
    * (`streaming/EventStreams.scala`), so a future testdata type drift is
    * fixed in exactly one place. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _                => raw
    }
  }

  /** Register every table as a temp view named after itself, enabling the
    * `spark.sql(...)` surface (reference EP3: DuckDB view over parquet,
    * view_gold.py:26-28 → S8 in SURVEY.md §2.1). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    names.filterNot(_ == "events")
      .foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
    events(spark, sfDir).createOrReplaceTempView("events")
  }
}
