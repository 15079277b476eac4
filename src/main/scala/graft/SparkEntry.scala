package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries.{Analytics, Breadth, Extensions, Query}

/** The engine's query contract (SURVEY.md §7): the query surface of the per-area
  * modules. Each module lists its queries once, in its `registry`; the
  * `queries`, `oracleSql` and `rowsOnly` views below are derived from the
  * joined list, so a query and its oracle cannot be registered apart.
  *   - [[graft.queries.Analytics]] — reference-parity relational operators
  *     (SURVEY.md §2.2–2.6) phrased over the star schema with DuckDB oracles.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The "gold build" shape: agg → left join → inner join → project
    * (silver_to_gold.py:39-84 parity). */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q09GoldJoin(spark, "/root/testdata/sf0.001")

  /** `qs` unchanged, or an IllegalArgumentException naming every query
    * registered more than once: a map built from the list would silently
    * keep only one of them. */
  def unique(qs: Seq[Query]): Seq[Query] = {
    val repeated = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(repeated.isEmpty,
      s"queries registered more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    qs
  }

  /** Every implemented operator from SURVEY.md §2, plus the
    * training-data-pipeline extensions (dedup / similarity / text / events). */
  val registry: Seq[Query] =
    unique(Analytics.registry ++ Extensions.registry ++ Breadth.registry)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each oracled query, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. */
  val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Queries with NO DuckDB oracle (x22 and x141), each by documented
    * necessity beside its registry entry and each carrying an exact
    * ScalaTest oracle instead. RegistrationGateSpec keeps this set small,
    * so a query can never again ship dark the way x152 did in round 8. */
  val rowsOnly: Set[String] =
    registry.filter(_.oracle.isEmpty).map(_.name).toSet
}
