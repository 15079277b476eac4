package graft.queries

import scala.collection.MapView

import org.apache.spark.sql.{DataFrame, SparkSession}

/** EP3 parity — the reference's DuckDB console viewer
  * (`duckdb_viewer/view_gold.py:19-118`) over a gold table: schema dump,
  * row sample, and the four analytic queries, as literal SQL against a
  * registered view (the reference's exact surface, S8+S9+O2/O3/O5+W1–W3).
  */
object Viewer {

  /** The viewer's SQL by query name. */
  private val texts: Map[String, String] = Map(
    // view_gold.py:31-32 — DESCRIBE gold
    "describe" -> "DESCRIBE gold",
    // view_gold.py:35 — 10-row sample
    "sample" -> "SELECT * FROM gold LIMIT 10",
    // view_gold.py:40-48 — most affordable county
    "most_affordable" ->
      """SELECT county, district_name, total_cost_burden_30_plus_pct
        |FROM gold WHERE total_cost_burden_30_plus_pct IS NOT NULL
        |ORDER BY total_cost_burden_30_plus_pct ASC LIMIT 1""".stripMargin,
    // view_gold.py:56-66 — best CCRPI
    "best_ccrpi" ->
      """SELECT county, district_name, ccrpi_score_2023_mean
        |FROM gold WHERE ccrpi_score_2023_mean IS NOT NULL
        |ORDER BY ccrpi_score_2023_mean DESC LIMIT 1""".stripMargin,
    // view_gold.py:74-84 — most inclusive
    "most_inclusive" ->
      """SELECT county, district_name, pct_inclusive_80_plus
        |FROM gold WHERE pct_inclusive_80_plus IS NOT NULL
        |ORDER BY pct_inclusive_80_plus DESC LIMIT 1""".stripMargin,
    // view_gold.py:94-113 — rank-sum overall best county
    "overall_best" ->
      """WITH ranked AS (
        |  SELECT *,
        |    rank() OVER (ORDER BY total_cost_burden_30_plus_pct ASC NULLS LAST) AS r_affordable,
        |    rank() OVER (ORDER BY ccrpi_score_2023_mean DESC NULLS LAST) AS r_ccrpi,
        |    rank() OVER (ORDER BY pct_inclusive_80_plus DESC NULLS LAST) AS r_inclusive
        |  FROM gold)
        |SELECT county, district_name,
        |       r_affordable + r_ccrpi + r_inclusive AS overall_rank_sum
        |FROM ranked ORDER BY overall_rank_sum ASC LIMIT 1""".stripMargin)

  /** The viewer's query surface over `gold`, by name. The map is lazy: a
    * lookup parses and analyses only the query looked up, so `DESCRIBE gold`
    * runs only when "describe" is. Each lookup registers `gold` as the view
    * `gold` again, so a map answers over its own gold even after another
    * call replaced the view.
    *
    * Gold is a mart of county size written as one file, and the view is
    * that gold coalesced to one partition (no shuffle): `sample`'s `LIMIT`
    * and `overall_best`'s three un-partitioned rank windows then need no
    * exchange to one partition, and each query runs one job. */
  def queries(spark: SparkSession, gold: DataFrame): MapView[String, DataFrame] =
    texts.view.mapValues { sql =>
      gold.coalesce(1).createOrReplaceTempView("gold")
      spark.sql(sql)
    }

  /** Console runner, mirroring the reference's printed report. */
  def show(spark: SparkSession, gold: DataFrame): Unit =
    queries(spark, gold).foreach { case (name, df) =>
      println(s"== $name ==")
      df.show(20, truncate = false)
    }
}
