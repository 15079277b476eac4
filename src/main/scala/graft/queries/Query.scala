package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: its name, the function that plans it over a
  * scale-factor directory, and the ANSI SQL that DuckDB runs over the same
  * parquet tables as its oracle. `oracle` is None only for a query no SQL
  * engine can express; the reason sits beside its registry entry. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
