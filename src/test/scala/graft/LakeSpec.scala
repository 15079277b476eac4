package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.io.Lake

/** Lake sinks: Hive-partition pruning (S6), bucketed co-located joins, and
  * storage-mode base resolution (S7). */
class LakeSpec extends SparkSpec {

  test("S6: partitioned write + filter → partition pruning in the scan") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake").toString + "/events_by_date"
    val df = Seq(
      (1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0),
      (3L, "2024-01-02", 30.0), (4L, "2024-01-03", 40.0))
      .toDF("id", "ingest_date", "value")
    Lake.writePartitioned(df, dir, Seq("ingest_date"))
    val pruned = spark.read.parquet(dir).filter($"ingest_date" === "2024-01-02")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(3L))
    // the partition filter must reach the file index, not a post-scan Filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("ingest_date"), s"no partition pruning in:\n$plan")
    // dynamic overwrite of ONE partition leaves the others intact
    Lake.writePartitioned(
      Seq((9L, "2024-01-02", 99.0)).toDF("id", "ingest_date", "value"), dir, Seq("ingest_date"))
    val after = spark.read.parquet(dir)
    assert(after.count() == 4)
    assert(after.filter($"ingest_date" === "2024-01-02").collect().head.getLong(0) == 9L)
  }

  test("writePartitioned writes zstd parquet") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lake").toString + "/by_date"
    Lake.writePartitioned(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "ingest_date"), dir, Seq("ingest_date"))
    val codecs = LakeSpec.columnChunkCodecs(spark, dir)
    assert(codecs.map(_._1).distinct.length == 2, codecs)
    assert(codecs.forall(_._2 == "ZSTD"), codecs)
  }

  test("bucketed tables: same-bucket join plans with zero shuffle exchanges") {
    import spark.implicits._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1L to 1000L).map(i => (i, i % 7, s"f$i")).toDF("k", "grp", "payload")
      val dims = (1L to 1000L).map(i => (i, s"d$i")).toDF("k", "name")
      Lake.writeBucketed(facts, "graft_facts_b", "k", 4)
      Lake.writeBucketed(dims, "graft_dims_b", "k", 4)
      val joined = spark.table("graft_facts_b").join(spark.table("graft_dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }

  test("mergeSchema read unifies v1/v2 footers; v1 rows read added column as NULL") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evo").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("overwrite").parquet(dir)
    Seq((3L, "c", 30.0), (4L, "d", 40.0)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val merged = Lake.readParquetMerged(spark, dir)
    assert(merged.columns.toSet == Set("id", "name", "score"))
    val rows = merged.orderBy($"id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(rows.toSeq == Seq(
      (1L, None), (2L, None), (3L, Some(30.0)), (4L, Some(40.0))))
    // the plain read (no mergeSchema) picks ONE footer — the capability under
    // test is exactly that readParquetMerged sees the union
    val plain = spark.read.parquet(dir)
    assert(plain.columns.length <= merged.columns.length)
  }

  test("S7: storage-mode base resolution (local vs abfss URI)") {
    def adls(container: String, basePath: String = "") = Map(
      "PIPELINE_STORAGE_MODE" -> "adls",
      "ADLS_ACCOUNT_URL" -> "https://acct.dfs.core.windows.net",
      "ADLS_FILE_SYSTEM" -> container, "ADLS_BASE_PATH" -> basePath)
    assert(Lake.resolveBaseFromEnv(Map("PIPELINE_STORAGE_MODE" -> "local"), "/data/lake")
      == "/data/lake")
    assert(Lake.resolveBaseFromEnv(adls("cont", "edu"), "") ==
      "abfss://cont@acct.dfs.core.windows.net/edu")
    assert(Lake.resolveBaseFromEnv(adls("cont"), "") ==
      "abfss://cont@acct.dfs.core.windows.net")
    intercept[IllegalArgumentException](
      Lake.resolveBaseFromEnv(Map("PIPELINE_STORAGE_MODE" -> "s3"), "/x"))
    intercept[IllegalArgumentException](
      Lake.resolveBaseFromEnv(Map("PIPELINE_STORAGE_MODE" -> "adls"), ""))
    assert(Lake.path(Lake.resolveBaseFromEnv(Map.empty, "/base"), "silver", "housing",
      "2024-01-01") == "/base/silver/housing/ingest_date=2024-01-01")
  }

  test("S7: env contract resolution mirrors storage_io.load_storage_config") {
    assert(Lake.resolveBaseFromEnv(Map.empty, "/data") == "/data")
    // local mode reuses ADLS_BASE_PATH as a root prefix (storage_io.py:80-86)
    assert(Lake.resolveBaseFromEnv(
      Map("ADLS_BASE_PATH" -> "/edu/"), "/data") == "/data/edu")
    assert(Lake.resolveBaseFromEnv(Map(
      "PIPELINE_STORAGE_MODE" -> "adls",
      "ADLS_ACCOUNT_URL" -> "https://myacct.dfs.core.windows.net",
      "ADLS_FILE_SYSTEM" -> "lake",
      "ADLS_BASE_PATH" -> "edu"), "/data")
      == "abfss://lake@myacct.dfs.core.windows.net/edu")
    intercept[IllegalArgumentException](
      Lake.resolveBaseFromEnv(Map("PIPELINE_STORAGE_MODE" -> "s3"), "/data"))
  }

  test("S7: adls auth env → per-account hadoop-azure conf keys") {
    // local mode: nothing to configure
    assert(Lake.adlsHadoopConf(Map.empty).isEmpty)
    // connection string → SharedKey on the account it names (storage_io.py:45-46)
    val shared = Lake.adlsHadoopConf(Map(
      "PIPELINE_STORAGE_MODE" -> "adls",
      "AZURE_STORAGE_CONNECTION_STRING" ->
        "DefaultEndpointsProtocol=https;AccountName=myacct;AccountKey=c2VjcmV0;EndpointSuffix=core.windows.net"))
    assert(shared("fs.azure.account.auth.type.myacct.dfs.core.windows.net") == "SharedKey")
    assert(shared("fs.azure.account.key.myacct.dfs.core.windows.net") == "c2VjcmV0")
    // no connection string → OAuth managed identity (DefaultAzureCredential
    // in Azure, storage_io.py:52-58), honouring AZURE_CLIENT_ID
    val msi = Lake.adlsHadoopConf(Map(
      "PIPELINE_STORAGE_MODE" -> "adls",
      "ADLS_ACCOUNT_URL" -> "https://myacct.dfs.core.windows.net",
      "AZURE_CLIENT_ID" -> "uami-123"))
    assert(msi("fs.azure.account.auth.type.myacct.dfs.core.windows.net") == "OAuth")
    assert(msi("fs.azure.account.oauth.provider.type.myacct.dfs.core.windows.net")
      .endsWith("MsiTokenProvider"))
    assert(msi("fs.azure.account.oauth2.msi.client.id.myacct.dfs.core.windows.net") == "uami-123")
    // adls with neither credential source is a config error
    intercept[IllegalArgumentException](
      Lake.adlsHadoopConf(Map("PIPELINE_STORAGE_MODE" -> "adls")))
    // applyStorageAuth pushes into the live hadoop conf
    Lake.applyStorageAuth(spark, Map(
      "PIPELINE_STORAGE_MODE" -> "adls",
      "ADLS_ACCOUNT_URL" -> "https://confacct.dfs.core.windows.net"))
    assert(spark.sparkContext.hadoopConfiguration
      .get("fs.azure.account.auth.type.confacct.dfs.core.windows.net") == "OAuth")
  }

  test("upsertKeepLatest: updates win by version, ties go to updates, inserts append") {
    import spark.implicits._
    val base = Seq((1L, "a", 1L), (2L, "b", 5L), (3L, "c", 1L)).toDF("k", "v", "version")
    val updates = Seq(
      (1L, "a2", 2L), // newer version → replaces
      (2L, "b2", 5L), // SAME version → update still wins (overlay is newer)
      (4L, "d", 1L)   // new key → inserted
    ).toDF("k", "v", "version")
    val rows = graft.io.Lake.upsertKeepLatest(base, updates, "k", "version")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rows == Map(
      1L -> (("a2", 2L)), 2L -> (("b2", 5L)), 3L -> (("c", 1L)), 4L -> (("d", 1L))))
  }

  test("zorderWrite: files cover disjoint code ranges; both dims get tight stats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-zorder").toString + "/pts"
    // a 64×64 grid: every (a, b) combination, so clustering is measurable
    val grid = for { a <- 0 until 64; b <- 0 until 64 } yield (a.toLong, b.toLong)
    Lake.zorderWrite(grid.toDF("a", "b"), dir, "a", "b", numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == 64L * 64L)
    // per-file Morton ranges must be disjoint (range partition + sort)
    val ranges = back
      .withColumn("f", input_file_name())
      .withColumn("z", Lake.mortonCode($"a", $"b"))
      .groupBy("f").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1)
    assert(ranges.sliding(2).forall { case Array(x, y) => x._2 < y._1 })
    // data-skipping proxy: a box query on BOTH dims should touch few files.
    // With z-order, each file's (a, b) bounding box is compact; count files
    // whose box intersects a 8×8 query box at the origin.
    val boxes = back.withColumn("f", input_file_name())
      .groupBy("f").agg(min("a").as("a0"), max("a").as("a1"),
        min("b").as("b0"), max("b").as("b1"))
      .collect()
    val touched = boxes.count(r =>
      r.getLong(1) <= 7 && r.getLong(2) >= 0 && r.getLong(3) <= 7 && r.getLong(4) >= 0)
    assert(touched < boxes.length,
      s"z-order should let a box query skip files: touched $touched of ${boxes.length}")
  }

  test("compact: many small files rewritten to the targeted count, rows intact") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-compact").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    (1L to 10000L).toDF("id").repartition(64).write.parquet(src)
    val srcFiles = new java.io.File(src).listFiles().count(_.getName.endsWith(".parquet"))
    assert(srcFiles == 64)
    val totalBytes = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    // target ≈ a quarter of the data per file → ~4 output files
    Lake.compact(spark, src, dst, targetFileBytes = totalBytes / 4)
    val dstFiles = new java.io.File(dst).listFiles().count(_.getName.endsWith(".parquet"))
    assert(dstFiles <= 6, s"expected ~4-5 compacted files, got $dstFiles")
    assert(spark.read.parquet(dst).count() == 10000L)
    assert(spark.read.parquet(dst).agg(sum($"id")).as[Long].head ==
      10000L * 10001L / 2)
  }

  test("compact with sortCols: clustering survives the rewrite") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-compact-sorted").toString
    val src = s"$base/src"; val dst = s"$base/dst"
    // clustered source: sorted ids spread over many small files
    (1L to 10000L).toDF("id").repartitionByRange(64, $"id")
      .sortWithinPartitions($"id").write.parquet(src)
    val totalBytes = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    Lake.compact(spark, src, dst, targetFileBytes = totalBytes / 4, sortCols = Seq("id"))
    // per-file id ranges must still be disjoint after compaction
    val ranges = spark.read.parquet(dst)
      .withColumn("f", input_file_name())
      .groupBy("f").agg(min("id").as("lo"), max("id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1 && ranges.length <= 6)
    assert(ranges.sliding(2).forall { case Array(x, y) => x._2 < y._1 },
      s"compacted files must keep disjoint id ranges: ${ranges.mkString(",")}")
    assert(spark.read.parquet(dst).count() == 10000L)
  }

  test("ORC write/read round-trips schema and values losslessly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-orc").toString + "/t"
    val df = Seq(
      (1L, "a", 1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, null.asInstanceOf[String], -0.25, java.sql.Timestamp.valueOf("2024-06-15 12:34:56"))
    ).toDF("id", "s", "v", "ts")
    Lake.writeOrc(df, dir)
    val back = Lake.readOrc(spark, dir)
    // nullability widens through any file format; names+types must hold
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
    // predicate pushdown reaches the ORC scan like parquet
    val plan = back.filter($"id" === 1L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
  }

  test("mortonCode saturates out-of-range dims instead of wrapping") {
    import spark.implicits._
    val codes = Seq(
      (0L, 0L), (65536L, 0L), (70000L, 0L), (-5L, 0L), (65535L, 0L))
      .toDF("a", "b")
      .select(Lake.mortonCode($"a", $"b").as("z")).as[Long].collect()
    // 65536 and 70000 clamp to 65535's code (monotone ceiling), NOT to 0's
    assert(codes(1) == codes(4) && codes(2) == codes(4))
    assert(codes(1) != codes(0), "wrapping would alias 65536 onto 0")
    // negatives clamp to the floor code
    assert(codes(3) == codes(0))
  }

  test("applyTombstones: masks up to the tombstone version, resurrect survives, broadcast plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = Seq(
      (1L, 1L, "a"),   // tombstoned at v2 → masked
      (1L, 3L, "a2"),  // re-inserted AFTER the tombstone → survives
      (2L, 1L, "b"),   // no tombstone → survives
      (3L, 2L, "c")    // tombstoned at exactly v2 → masked (≤ is inclusive)
    ).toDF("id", "version", "v")
    val tombs = Seq((1L, 2L), (3L, 2L)).toDF("id", "version")
    val out = Lake.applyTombstones(base, tombs, "id", "version")
    assert(out.select($"id", $"version").as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 3L), (2L, 1L)))
    // the read stays a broadcast anti-join: the base never shuffles
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    // empty tombstone table: identity
    val none = Seq.empty[(Long, Long)].toDF("id", "version")
    assert(Lake.applyTombstones(base, none, "id", "version").count() == 4)
  }

  test("compactionPlan: contiguous date-ordered bins, bytes conserved, target respected") {
    import spark.implicits._
    val files = Seq(("2024-01-01", 60L), ("2024-01-02", 60L), ("2024-01-03", 60L),
      ("2024-01-04", 250L), ("2024-01-05", 10L)).toDF("d", "bytes")
    val plan = Lake.compactionPlan(files, "d", "bytes", targetBytes = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))
    // offsets 0,60,120,180,430 → bins 0,0,1,1,4
    assert(plan.toSeq == Seq(
      (0L, 2L, 120L, "2024-01-01", "2024-01-02"),
      (1L, 2L, 310L, "2024-01-03", "2024-01-04"),
      (4L, 1L, 10L, "2024-01-05", "2024-01-05")))
    assert(plan.map(_._3).sum == 440L) // bytes conserved
    // contiguity: date ranges never interleave across bins
    val spans = plan.sortBy(_._1).map(p => (p._4, p._5))
    assert(spans.sliding(2).forall { case Array((_, hi), (lo, _)) => hi < lo; case _ => true })
  }
}

object LakeSpec {

  /** (file, codec) for every column chunk of every parquet file under
    * `dir`, read from the footers. */
  def columnChunkCodecs(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getFooter.getBlocks.asScala.toSeq
        .flatMap(_.getColumns.asScala.map(f.getPath.getName -> _.getCodec.name))
      finally reader.close()
    }
  }
}
