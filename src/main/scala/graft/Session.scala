package graft

import org.apache.spark.sql.SparkSession

/** The one way the mains build their session. */
object Session {

  /** Local thread count: `SPARK_GRAFT_CPUS`, default 4. Also the shuffle
    * partition count, so a small-aggregate stage runs one task per core. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** `SPARK_MASTER`, else `local[cpus]`; UTC, UI off, log level WARN, and
    * nanosecond parquet timestamps read as longs (`Tables.events` converts
    * them). AQE is on by Spark's default, and its coalescing stays at its
    * defaults DELIBERATELY: both parallelismFirst=false (64m and 4m
    * advisory sizes) were measured and REJECTED — they throttle the LSH
    * pair-shuffles (x08/x11) far more than they save on small-aggregate
    * scheduling, net +15-25% on the Bench suite. Measured on an idle host,
    * not guessed. */
  def local(): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
