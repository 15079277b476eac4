package org.apache.spark.sql

import java.util.concurrent.{CompletableFuture, ExecutorService}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into the `private[sql]` Column↔Expression converters and the
  * session internals the readers need.
  *
  * Spark 4 moved Column onto ColumnNode (SPARK-46960); the supported way for
  * a library to expose a custom Catalyst `Expression` as a user-facing
  * `Column` is `classic.ExpressionUtils`, which is `private[sql]` — hence
  * this one-file shim in the org.apache.spark.sql package (the same trick
  * spark-excel / frameless use). No other file may live in this package.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan as a DataFrame (classic.Dataset.ofRows is
    * `private[sql]`). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan

  /** Idempotently install a planner strategy into a session (the
    * session-local twin of SparkSessionExtensions.injectPlannerStrategy —
    * usable on an already-built session). */
  def installStrategy(spark: SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraStrategies.contains(strategy)) {
      cs.experimental.extraStrategies = cs.experimental.extraStrategies :+ strategy
    }
  }

  /** Idempotently install an optimizer rule into a session (the
    * session-local twin of SparkSessionExtensions.injectOptimizerRule). */
  def installOptimizerRule(spark: SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    if (!cs.experimental.extraOptimizations.contains(rule)) {
      cs.experimental.extraOptimizations = cs.experimental.extraOptimizations :+ rule
    }
  }

  /** The session's SQL conf (`sessionState` is on the classic session). */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The Hadoop conf the session's file scans use: the context's, plus the
    * session's own settings. */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Run `body` on `exec` the way AQE submits its stages: with the
    * caller's active session and a copy of the caller's local properties
    * (job group, job description, scheduler pool and any caller-set key),
    * so every job `body` launches belongs to the caller's group. */
  def withThreadLocalCaptured[T](spark: SparkSession, exec: ExecutorService)(
      body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(spark.asInstanceOf[classic.SparkSession], exec)(body)

  /** The schema `spark.read.parquet(path)` infers, read from one footer on
    * the driver instead of by Spark's inference job. Spark's non-merging
    * inference (`ParquetUtils.inferSchema`) reads the footer of the first
    * listed data file by path, hidden names skipped, through a converter
    * built from the session conf (`nanosAsLong`, `binaryAsString`,
    * `int96AsTimestamp`, `inferTimestampNTZ`); so does this. `None`, and the
    * caller lets Spark infer, where the two could differ or Spark should
    * raise its own error: `mergeSchema` on, a glob, a visible subdirectory
    * (partition discovery), a `_metadata` or `_common_metadata` summary
    * file, no data file, a missing path or an unreadable footer. */
  def parquetFooterSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = sqlConf(spark)
    val root = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(root)) None
    else try {
      val fsConf = hadoopConf(spark)
      // Spark's listing rule keeps summary files and `_k=v` names among
      // the hidden ones: either kind sends the read back to Spark.
      val listed = root.getFileSystem(fsConf).listStatus(root)
        .filterNot(s => HadoopFSUtils.shouldFilterOutPathName(s.getPath.getName))
      if (listed.exists(s => s.isDirectory || s.getPath.getName.startsWith("_"))) None
      else listed.minByOption(_.getPath.toString).map { file =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, fsConf), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case NonFatal(_) => None }
  }
}
