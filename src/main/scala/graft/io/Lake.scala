package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Lake layout + sinks — SURVEY.md §2.1 S5/S6/S7.
  *
  * The reference hand-formats `layer/dataset/ingest_date=YYYY-MM-DD/file`
  * paths (`bronze_to_silver.py:18-31`) over a local-FS/ADLS byte store
  * (`storage_io.py`). On Spark the storage abstraction is the Hadoop
  * FileSystem URI scheme (`file://`, `abfss://…`), so the only code needed
  * is the path convention itself; `ingest_date` is a real Hive partition
  * column, which buys partition pruning at scan time for free.
  *
  * `ingestDate` is always an explicit parameter — never "today" — because
  * the reference's env-default (`INGEST_DATE` or today, bronze_to_silver.py:15)
  * is a reproducibility hazard (SURVEY.md §7.3.7).
  */
object Lake {

  /** The parquet codec of every file the lake sinks write. zstd: on the
    * pipeline's silver and gold marts it writes about a third fewer bytes
    * than Spark's default snappy (gzip is larger, lz4_raw about as large
    * as snappy). One constant, not a setting: the format of a lake file
    * does not depend on the session that wrote it. Spark and DuckDB both
    * read zstd parquet. */
  private val Codec = "zstd"

  /** `base/layer/dataset/ingest_date=DATE` — the reference's path scheme.
    * Path-traversal hardened: `layer`/`dataset` must be single plain path
    * segments and `ingestDate` a literal `YYYY-MM-DD` — a value like
    * `../../etc` (or a URI-scheme smuggle) would otherwise resolve OUTSIDE
    * the lake root and turn every writer below into an arbitrary-path
    * writer. */
  def path(base: String, layer: String, dataset: String, ingestDate: String): String = {
    def segment(what: String, v: String): Unit = require(
      v.nonEmpty && !v.contains('/') && !v.contains('\\') && v != "." &&
        v != ".." && !v.contains(':'),
      s"$what must be a plain path segment, got '$v'")
    segment("layer", layer)
    segment("dataset", dataset)
    require(ingestDate.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"ingestDate must be YYYY-MM-DD, got '$ingestDate'")
    s"$base/$layer/$dataset/ingest_date=$ingestDate"
  }

  /** S5 — parquet write, overwrite, single output file. The single-file
    * coalesce matches the reference's one-file-per-dataset layout and is for
    * small silver/gold marts only; large tables use [[writePartitioned]]. */
  def writeSingleFile(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("compression", Codec).parquet(dir)

  /** S6 — Hive-partitioned parquet write; `partitionOverwriteMode=dynamic`
    * so re-running one ingest_date never clobbers sibling partitions. */
  def writePartitioned(df: DataFrame, dir: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", Codec)
      .partitionBy(partitionCols: _*)
      .parquet(dir)

  /** Bucketed+sorted table write (saveAsTable — bucket metadata lives in the
    * catalog). The 100 TB fact-table pattern: two tables bucketed the same
    * way on the join key co-locate, so the join runs with ZERO exchanges —
    * pre-shuffling once at write time instead of per query. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String, numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .option("compression", Codec)
      .saveAsTable(table)

  /** Schema-evolution read: a directory whose parquet files were written at
    * different pipeline versions (columns added over time) reads as ONE
    * relation under `mergeSchema` — the union-by-name of every footer
    * schema, with columns a file lacks surfacing as NULL for its rows.
    * The lake reality this serves: a 100 TB table is never rewritten when
    * a column is added; readers must absorb old and new footers in place.
    * (Off by default in Spark because footer-merging lists every file's
    * schema; turning it on per-read here is the explicit opt-in.) */
  def readParquetMerged(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** ORC sink — the second columnar lake format Spark ships natively.
    * Same predicate-pushdown/column-pruning/min-max-stat story as parquet
    * (ORC stripes carry their own indexes); everything downstream of
    * `spark.read` is format-agnostic, which x55 proves by running an
    * oracled aggregate THROUGH an ORC round-trip against the parquet
    * ground truth. */
  def writeOrc(df: DataFrame, dir: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(dir)

  def readOrc(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    spark.read.orc(dir)

  /** The reference's `PIPELINE_STORAGE_MODE` switch (`storage_io.py:27-36`):
    * `local` (the default) or `adls`; any other value is a config error. */
  private def storageMode(env: Map[String, String]): String =
    env.getOrElse("PIPELINE_STORAGE_MODE", "local").trim.toLowerCase match {
      case mode @ ("local" | "adls") => mode
      case other => throw new IllegalArgumentException(s"unknown storage mode: $other")
    }

  /** Account short-name from the reference's `ADLS_ACCOUNT_URL`
    * (`https://<acct>.dfs.core.windows.net`). */
  private def accountOf(accountUrl: String): String =
    accountUrl.stripPrefix("https://").stripPrefix("http://").takeWhile(_ != '.')

  /** S7 — storage-mode resolution: the reference's full env contract
    * (`storage_io.py:27-36`) mapped onto a Hadoop FileSystem base URI, so
    * everything downstream is scheme-agnostic. Local mode reuses
    * `ADLS_BASE_PATH` as a local prefix exactly like `read_bytes` does
    * (`storage_io.py:80-93`); adls mode needs the account
    * (`ADLS_ACCOUNT_URL`) and container (`ADLS_FILE_SYSTEM`). With none of
    * the variables set, `localBase` comes back unchanged. */
  def resolveBaseFromEnv(env: Map[String, String], localBase: String): String = {
    val basePath = env.getOrElse("ADLS_BASE_PATH", "").strip.stripPrefix("/").stripSuffix("/")
    val suffix = if (basePath.isEmpty) "" else s"/$basePath"
    storageMode(env) match {
      case "local" => localBase + suffix
      case _ =>
        val account = accountOf(env.getOrElse("ADLS_ACCOUNT_URL", ""))
        val container = env.getOrElse("ADLS_FILE_SYSTEM", "")
        require(account.nonEmpty && container.nonEmpty, "adls mode needs account+container")
        s"abfss://$container@$account.dfs.core.windows.net$suffix"
    }
  }

  /** Auth mapping for adls mode — the reference's credential selection
    * (`storage_io.py:42-58`: connection string if present, else
    * DefaultAzureCredential ≈ managed identity) re-expressed as the PUBLIC
    * hadoop-azure ABFS configuration keys (per-account-qualified so two
    * accounts with different auth coexist in one session):
    *  - `AZURE_STORAGE_CONNECTION_STRING` set → SharedKey: parse
    *    `AccountName`/`AccountKey` out of the connection string and set
    *    `fs.azure.account.key.<acct>.dfs.core.windows.net`.
    *  - else → OAuth via `MsiTokenProvider` (managed identity, the Azure
    *    deployment path of DefaultAzureCredential), honouring the
    *    reference's optional `AZURE_CLIENT_ID` for user-assigned identity.
    * Returns the key→value map (unit-testable without an account); apply
    * with [[applyStorageAuth]]. Local mode returns empty. */
  def adlsHadoopConf(env: Map[String, String]): Map[String, String] =
    if (storageMode(env) != "adls") Map.empty
    else env.get("AZURE_STORAGE_CONNECTION_STRING").filter(_.nonEmpty) match {
      case Some(cs) =>
        val kv = cs.split(";").iterator.filter(_.contains("="))
          .map { p => val i = p.indexOf('='); p.take(i) -> p.drop(i + 1) }.toMap
        val acct = kv.getOrElse("AccountName",
          accountOf(env.getOrElse("ADLS_ACCOUNT_URL", "")))
        require(acct.nonEmpty, "connection string or ADLS_ACCOUNT_URL must name the account")
        val host = s"$acct.dfs.core.windows.net"
        Map(
          s"fs.azure.account.auth.type.$host" -> "SharedKey",
          s"fs.azure.account.key.$host" -> kv.getOrElse("AccountKey", ""))
      case None =>
        val url = env.getOrElse("ADLS_ACCOUNT_URL", "")
        require(url.nonEmpty, "ADLS_ACCOUNT_URL is required when PIPELINE_STORAGE_MODE=adls")
        val host = s"${accountOf(url)}.dfs.core.windows.net"
        Map(
          s"fs.azure.account.auth.type.$host" -> "OAuth",
          s"fs.azure.account.oauth.provider.type.$host" ->
            "org.apache.hadoop.fs.azurebfs.oauth2.MsiTokenProvider") ++
          env.get("AZURE_CLIENT_ID").filter(_.nonEmpty)
            .map(id => s"fs.azure.account.oauth2.msi.client.id.$host" -> id)
    }

  /** Push the resolved auth keys into the live Hadoop configuration. */
  def applyStorageAuth(spark: org.apache.spark.sql.SparkSession,
      env: Map[String, String]): Unit =
    adlsHadoopConf(env).foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }

  /** Snapshot upsert (MERGE keep-latest): overlay `updates` onto `base`,
    * keeping per key the row with the highest `versionCol` (updates win
    * version ties — the overlay is the newer snapshot by definition).
    * Plain-parquet lakes have no transactional MERGE; this is the
    * deterministic read-side equivalent, and writing its result back via
    * [[writePartitioned]] completes the compaction.
    *
    * Scale shape: one shuffle on the key for the window. The union is
    * by-name, so both sides may arrive with any column order; when the
    * base table is bucketed by the key ([[writeBucketed]]) only the
    * (always far smaller) update side shuffles. */
  def upsertKeepLatest(base: DataFrame, updates: DataFrame, keyCol: String,
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tagged = base.withColumn("__pri", lit(0))
      .unionByName(updates.withColumn("__pri", lit(1)))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(versionCol).desc, col("__pri").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__pri")
  }

  /** Deletion-vector read: the merge-on-read DELETE pattern without a
    * table format. Deleting rows from an immutable 100 TB parquet table by
    * rewrite costs a full-table write; instead, deletes append to a tiny
    * TOMBSTONE table (key + deletion version) and every read applies them
    * — here by broadcast anti-join, the read-side half of what Delta/
    * Iceberg deletion vectors do in metadata. A tombstone only masks
    * versions up to its own (`versionCol` ≤ tombstone version): a row
    * re-inserted LATER with a higher version survives its old tombstone,
    * which is the resurrect semantics an upsert stream needs. Compaction
    * ([[upsertKeepLatest]] + rewrite) folds tombstones in and empties the
    * table on a schedule.
    *
    * Scale shape: tombstones are deletes — orders of magnitude smaller
    * than the base — so the join broadcasts and the base table never
    * shuffles; a plain key-only tombstone table (no versions) degenerates
    * to the same anti-join with the version clause dropped. */
  def applyTombstones(base: DataFrame, tombstones: DataFrame, keyCol: String,
      versionCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = tombstones.select(col(keyCol).as("__t_key"),
      col(versionCol).as("__t_ver"))
    base.join(broadcast(t),
      col(keyCol) === col("__t_key") && col(versionCol) <= col("__t_ver"),
      "left_anti")
  }

  /** Snapshot diff — the read-side CDC primitive: compare two keyed
    * snapshots and emit every row that was `inserted`, `deleted`, or
    * `changed` (any compare column differs, null-safe), tagged with the
    * change kind. Unchanged rows are suppressed — at 100 TB the diff is
    * interesting precisely because it is small. One full-outer shuffle
    * join on the key; with both snapshots bucketed by the key
    * ([[writeBucketed]]) even that exchange disappears.
    *
    * Output: key, change ('inserted'|'deleted'|'changed'), and the old/new
    * value of each compare column (`<col>_old` / `<col>_new`). */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keyCol: String,
      compareCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(compareCols.nonEmpty, "snapshotDiff needs at least one compare column")
    val o = oldSnap.select((keyCol +: compareCols).map(col): _*)
      .toDF(("__k_old" +: compareCols.map(c => s"${c}_old")): _*)
    val n = newSnap.select((keyCol +: compareCols).map(col): _*)
      .toDF(("__k_new" +: compareCols.map(c => s"${c}_new")): _*)
    val anyChanged = compareCols
      .map(c => !(col(s"${c}_old") <=> col(s"${c}_new")))
      .reduce(_ || _)
    o.join(n, col("__k_old") === col("__k_new"), "full_outer")
      .withColumn("change",
        when(col("__k_old").isNull, lit("inserted"))
          .when(col("__k_new").isNull, lit("deleted"))
          .when(anyChanged, lit("changed")))
      .filter(col("change").isNotNull)
      .select(coalesce(col("__k_old"), col("__k_new")).as(keyCol) +:
        col("change") +:
        compareCols.flatMap(c => Seq(col(s"${c}_old"), col(s"${c}_new"))): _*)
  }

  /** Bit-spread for 16-bit Morton interleaving: the classic mask-shift
    * ladder (public knowledge — Morton 1966 and every bit-twiddling text)
    * that moves bit i of a 16-bit value to bit 2i. Pure integer ops ⟹
    * identical on any engine, which is what lets x44 oracle the codes. */
  private def spread16(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val a = (v.bitwiseOR(shiftleft(v, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    (c.bitwiseOR(shiftleft(c, 1))).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) code over two integer dimensions, each SATURATED into
    * [0, 65535] (values below clamp to 0, above to 65535) — saturation, not
    * `& 0xFFFF` wrapping, so the code stays monotone on wide-range columns:
    * wrapping would give 0 and 65536 identical codes, silently co-locating
    * distant values and widening per-file min/max to the full range.
    * Interleaved bits make lexicographic order on the code a space-filling
    * curve over (a, b) — rows close in BOTH dimensions land close in the
    * code. Columns wider than 16 bits should be pre-bucketed (divide or
    * ntile into 65536 buckets) to keep resolution past the clamp point. */
  def mortonCode(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val x = least(greatest(a.cast("long"), lit(0L)), lit(65535L))
    val y = least(greatest(b.cast("long"), lit(0L)), lit(65535L))
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))
  }

  /** Z-order clustered write — multi-dimensional data skipping for plain
    * parquet. Rows are range-partitioned and sorted by their Morton code,
    * so each output file covers a compact rectangle of (colA, colB) space
    * and carries tight parquet min/max stats on BOTH columns: a reader
    * filtering on either dimension (or both) prunes most files, the same
    * effect Delta/Iceberg's OPTIMIZE ZORDER BY buys, without a table
    * format. One range-exchange (sampled bounds) + per-partition sort —
    * the write-once cost that every subsequent selective scan repays. */
  def zorderWrite(df: DataFrame, dir: String, colA: String, colB: String,
      numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", mortonCode(col(colA), col(colB)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).option("compression", Codec).parquet(dir)
  }

  /** Small-file compaction: rewrite a directory into ⌈bytes/target⌉ files.
    * The lake-maintenance chore that keeps scan task counts sane — 100k
    * streaming micro-batch files become a handful of scan-sized ones.
    * Destination is a NEW directory (rewriting a parquet dir while reading
    * it is undefined); callers swap paths or re-point the view after.
    *
    * With `sortCols` empty the rewrite is round-robin `repartition(n)`,
    * which DESTROYS any existing intra-file ordering — compacting a
    * [[zorderWrite]] output this way loses its min/max skipping. Pass the
    * clustering columns (e.g. the z-order dimensions, or the original sort
    * key) to compact via range-partition + within-partition sort instead,
    * preserving tight per-file stats through the rewrite. */
  def compact(spark: org.apache.spark.sql.SparkSession, srcDir: String,
      dstDir: String, targetFileBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    // Path.getFileSystem handles plain local paths (spaces, relative) that
    // would break a raw java.net.URI round-trip, and schemes uniformly.
    val srcPath = new org.apache.hadoop.fs.Path(srcDir)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(srcPath).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val src = spark.read.parquet(srcDir)
    val repartitioned =
      if (sortCols.isEmpty) src.repartition(nFiles)
      else src.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    repartitioned.write.mode(SaveMode.Overwrite).option("compression", Codec).parquet(dstDir)
  }

  /** PLAN compaction over file metadata without touching data: pack
    * date-ordered files into contiguous target-size output bins by
    * prefix-sum offset (`bin = start_offset DIV target` — linear packing:
    * order-preserving, so each output file stays a contiguous date range
    * and min/max data-skipping survives the rewrite). [[compact]] executes
    * a plan; this op is the metadata-only dry run an operator reviews
    * first, and at 100 TB it runs over the file LISTING (catalog-sized),
    * not the data. All-integer — bin assignment, per-bin file counts,
    * bytes, and date spans reproduce exactly in the oracle. */
  def compactionPlan(files: DataFrame, dateCol: String, bytesCol: String,
      targetBytes: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(dateCol)) // file listings are catalog-sized
    files
      .select(col(dateCol).as("d"), col(bytesCol).cast("long").as("bytes"))
      .withColumn("start_off",
        coalesce(sum(col("bytes")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("bin", expr(s"start_off DIV $targetBytes"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"),
        min(col("d")).as("first_date"), max(col("d")).as("last_date"))
      .orderBy(col("bin"))
  }

  /** DuckDB respell of [[compactionPlan]] — `filesSql` must emit (d, bytes)
    * as the Spark side derived them. */
  def compactionPlanSql(filesSql: String, targetBytes: Long): String =
    s"""WITH f AS ($filesSql),
       |o AS (
       |  SELECT d, CAST(bytes AS BIGINT) AS bytes,
       |    CAST(coalesce(sum(bytes) OVER (ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM f)
       |SELECT start_off // $targetBytes AS bin,
       |  CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
       |  min(d) AS first_date, max(d) AS last_date
       |FROM o GROUP BY 1 ORDER BY bin""".stripMargin
}
