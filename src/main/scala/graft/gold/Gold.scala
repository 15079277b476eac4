package graft.gold

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gold build — the reference's `build_lea_joined_gold`
  * (`silver_to_gold.py:39-84`): A1 rollup + J1 left join + J2 keep-first
  * dedup + J3 inner join, with the two pandas semantic traps handled
  * explicitly (SURVEY.md §7.3 items 1–2).
  */
object Gold {

  /** LEA-level school rollup — silver_to_gold.py:63-70.
    *
    * pandas `groupby` silently drops rows whose group key is NaN; Spark
    * keeps NULL keys, so every group column is filtered non-null (the
    * reference's `dropna(subset=["lea_id"])` only covers lea_id — county
    * from the normalizer is the silent one). `county` is a function of
    * `district_name`, a group key, so it is derived after the aggregate,
    * once per LEA instead of once per school row, and the groups and their
    * values are the same. (Catalyst still pushes the not-null filter on it
    * below the aggregate, as it reads only a group key.)
    *
    * The mean sums exactly, as `DECIMAL(38,18)`, and casts back to DOUBLE, so
    * it does not depend on the order rows reach the aggregate (a double sum
    * rounds at every step: the same rows in another order, a shuffle or a
    * smaller Tungsten page, changed its last bit). The mean skips nulls, as
    * pandas does, and `try_cast` makes a NaN or infinite score null too,
    * as pandas skips NaN, so ANSI mode has no cast to fail. */
  def schoolLeaRollup(school: DataFrame): DataFrame =
    school
      .filter(col("lea_id").isNotNull && col("district_name").isNotNull)
      .groupBy(col("lea_id"), col("district_name"))
      .agg(
        avg(col("ccrpi_score_2023").try_cast("decimal(38,18)")).cast("double")
          .as("ccrpi_score_2023_mean"),
        countDistinct(col("school_id")).as("school_count"))       // nunique skips nulls, as pandas
      .withColumn("county", Normalize.normalizeCounty(col("district_name")))
      .filter(col("county").isNotNull)

  /** One housing row per county, keep-FIRST in stable file order —
    * silver_to_gold.py:81. `dropDuplicates` keeps an arbitrary row, so this
    * uses row_number over GEO_ID (unique, file-ordered for ACS exports)
    * for deterministic pandas parity. */
  def housingPerCounty(housing: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("county")).orderBy(col("GEO_ID"))
    housing
      .filter(col("county").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Full gold build. All three inputs are small marts (a row per county,
    * school or LEA), written as one file each
    * ([[graft.io.Lake.writeSingleFile]]), so each is coalesced to one
    * partition here. `coalesce(1)` adds no shuffle, and
    * a one-partition child meets every distribution the plan asks for: the
    * two aggregation stages of the rollup (`countDistinct(school_id)` groups
    * by LEA and `school_id`, then by LEA) and [[housingPerCounty]]'s window
    * by county run in the same task as the scan, with no exchange. The plan
    * runs three jobs (under AQE each broadcast is a job of its own):
    *  - two broadcast builds, the special-ed side of J1 and the housing side
    *    of J3. They stay: a shuffle join would add a stage per side;
    *  - the write.
    *
    * There are no join hints. A merge or shuffle-hash hint does not keep the
    * joins in the one partition: the second join's size estimate (a product
    * of its inputs) exceeds `spark.sql.maxSinglePartitionBytes`, so
    * `EnsureRequirements` shuffles both sides to `spark.sql.shuffle.partitions`.
 */
  def buildLeaJoinedGold(housing: DataFrame, school: DataFrame, special: DataFrame): DataFrame = {
    // normalize join keys — silver_to_gold.py:52-60
    val housingKeyed = housing.coalesce(1)
      .withColumn("county", Normalize.normalizeCounty(col("county_name")))
    val schoolKeyed = school.coalesce(1)
      .withColumn("lea_id", trim(col("lea_id").cast("string")))
    val specialKeyed = special.coalesce(1).withColumn("lea_id", trim(col("lea_id").cast("string")))

    val schoolLea = schoolLeaRollup(schoolKeyed)

    // J1: left join special-ed by LEA (fan-out on duplicate lea_id preserved
    // deliberately — silver_to_gold.py:73-77, SURVEY.md §7.3.4)
    val leaJoined = schoolLea.join(
      specialKeyed.select("lea_id", "total_swd", "pct_inclusive_80_plus", "school_year"),
      Seq("lea_id"), "left")

    // J2 + J3: housing deduped per county, inner join restricts to counties
    // present in housing — silver_to_gold.py:81-84
    val joined = leaJoined.join(housingPerCounty(housingKeyed), Seq("county"), "inner")

    // pandas merge column order: left frame's columns, then right's minus the
    // key (Spark's Seq-join puts the key first) — FIXTURES.md A4 golden schema
    joined.select(
      (Seq("lea_id", "district_name", "county", "ccrpi_score_2023_mean", "school_count",
        "total_swd", "pct_inclusive_80_plus", "school_year", "GEO_ID", "county_name",
        "occupied_housing_units") ++ graft.clean.Silver.Housing.burdenCols :+
        "total_cost_burden_30_plus_pct").map(col): _*)
  }
}
