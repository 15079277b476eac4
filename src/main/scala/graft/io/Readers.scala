package graft.io

import java.io.{BufferedReader, InputStream, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Bronze-layer sources — SURVEY.md §2.1.
  *
  * S1: plain CSV with header (spark.read.csv).
  * S2: CSV with the real header at line index `headerRow` (metadata lines
  *     above it) — no built-in option; implemented distributed-safe below.
  * S3: XLSX — no built-in and no external package in this offline build;
  *     minimal JDK-only reader in [[Xlsx]].
  * S4: parquet (spark.read.parquet).
  *
  * Calling S1, S2 or S4 launches no Spark job: a CSV header or a parquet
  * footer is read on the driver and handed to the scan as its schema,
  * instead of by the one-task inference job `spark.read` runs on every
  * call. The scan of the data stays in Spark.
  */
object Readers {

  /** S1 — CSV scan, header row 0. All-string schema unless one is given:
    * type coercion is an explicit silver-layer step (try_cast), mirroring
    * the reference's pd.to_numeric(errors="coerce") and keeping bronze raw.
    *
    * With no schema, the header of a single file is read on the driver
    * ([[csvHeaderSchema]]); for a directory, a glob, a hidden or empty file
    * or a missing path Spark infers it (one job), as before. */
  def csv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("header", "true")
    schema.orElse(csvHeaderSchema(spark, path)).fold(r.csv(path))(r.schema(_).csv(path))
  }

  /** The all-string schema Spark's header inference gives `path` when it is
    * one visible file: its first line holding a character other than a
    * space, named by [[headerSchema]]. `None` where that could differ from
    * Spark's result. */
  private def csvHeaderSchema(spark: SparkSession, path: String): Option[StructType] = {
    val name = new Path(path).getName
    if (name.startsWith("_") || name.startsWith(".")) None
    else try readLines(spark, path)(_.find(_.exists(_ != ' '))).flatMap(headerSchema(spark, _))
    catch { case NonFatal(_) => None }
  }

  /** The all-string schema Spark names the CSV header `line` with: split
    * by Spark's own tokenizer and named by Spark's `makeSafeHeader`
    * (`_c<i>` for an empty cell, the index appended to a duplicate name).
    * `None` for a line the tokenizer reads as no record. */
  private def headerSchema(spark: SparkSession, line: String): Option[StructType] = {
    val conf = GraftBridge.sqlConf(spark)
    val opts = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning,
      conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    Option(new CsvParser(opts.asParserSettings).parseLine(line))
      .map(cells => StructType(CSVUtils.makeSafeHeader(cells, conf.caseSensitiveAnalysis, opts)
        .map(StructField(_, StringType, nullable = true))))
  }

  /** Apply `f` to the lines of the one file at `path`, read on the driver
    * through the Hadoop `FileSystem` the way Spark's text scan reads them:
    * decompressed by file extension, split at `\n`, `\r` or `\r\n`, UTF-8,
    * and a byte-order mark at the start dropped. Fails on a directory, a
    * glob or a missing path. */
  private def readLines[T](spark: SparkSession, path: String)(f: Iterator[String] => T): T = {
    val conf = GraftBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    require(fs.getFileStatus(p).isFile, s"$path is not a file")
    val raw = fs.open(p)
    val codec = Option(new CompressionCodecFactory(conf).getCodec(p))
    val in = new BufferedReader(new InputStreamReader(
      codec.fold[InputStream](raw)(_.createInputStream(raw)), UTF_8))
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
      f(lines.zipWithIndex.map { case (l, i) => if (i == 0) l.stripPrefix("\uFEFF") else l })
    } finally in.close()
  }

  /** S2 — CSV whose header sits at line index `headerRow` (0-based), with
    * free-text metadata lines above it (`bronze_to_silver.py:57-58`,
    * header=4).
    *
    * Implementation: the header is line `headerRow` of the file, read on the
    * driver ([[readLines]]) and named as [[csv]] names a header
    * ([[headerSchema]]). The data is read as text and numbered with
    * `zipWithIndex` — for a single input file the partitions are ordered by
    * byte offset, so the index is the file line number and this stays
    * correct and parallel for arbitrarily large files (no single-partition
    * coalesce); `zipWithIndex` sizes the partitions with a job of its own
    * only when the file spans more than one. Data lines parse via
    * `from_csv` with that all-string schema. */
  def csvWithHeaderOffset(spark: SparkSession, path: String, headerRow: Int = 4): DataFrame = {
    import spark.implicits._
    val schema = readLines(spark, path)(_.drop(headerRow).nextOption())
      .flatMap(headerSchema(spark, _))
      .getOrElse(throw new IllegalArgumentException(
        s"$path has fewer than ${headerRow + 1} lines, or a blank one at $headerRow — no header to read"))
    val lines = spark.read.textFile(path).rdd.zipWithIndex()
    val data = lines.filter(_._2 > headerRow).map(_._1).toDF("line")
    data.select(from_csv($"line", schema, Map.empty[String, String]).as("r")).select("r.*")
  }

  /** S3 — XLSX scan (first sheet, row 0 = header), all-string columns. The
    * workbook is parsed on the driver, opened through the Hadoop
    * `FileSystem` of `path` like the other readers, so a `file:` or
    * `abfss:` base reads it too. */
  def xlsx(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val in = p.getFileSystem(GraftBridge.hadoopConf(spark)).open(p)
    val rows = try Xlsx.readSheet(in, path, Xlsx.MaxEntryBytes) finally in.close()
    if (rows.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), StructType(Nil))
    val header = rows.head.map(h => Option(h).getOrElse("").trim)
    val width = header.length
    val schema = StructType(header.map(n => StructField(n, StringType, nullable = true)))
    val data = rows.tail.map { r =>
      Row.fromSeq((0 until width).map(i => if (i < r.length) r(i) else null))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq), schema)
  }

  /** S4 — parquet scan, its schema read from one footer on the driver
    * ([[GraftBridge.parquetFooterSchema]]). Spark infers it instead (one
    * job) when `mergeSchema` is on, for a partitioned directory or one with
    * a summary file, and for a path with no data file, so those get Spark's
    * own result or error. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    GraftBridge.parquetFooterSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
}
