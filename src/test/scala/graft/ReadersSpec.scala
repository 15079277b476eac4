package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.JobCounter
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType}

import graft.io.{Readers, Xlsx}

/** Source operators S1–S4 (SURVEY.md §2.1). */
class ReadersSpec extends SparkSpec {

  /** A read's schema, or its error's class and message. */
  private def outcome(read: => StructType): Either[(Class[_], String), StructType] =
    Try(read).toEither.left.map(e => (e.getClass, e.getMessage))

  /** Asserts `Readers.parquet` gives `spark.read.parquet`'s schema, or its
    * error; returns the number of jobs the `Readers` call launched. */
  private def parquetParity(path: String): Int = {
    val (ours, jobs) =
      JobCounter.count(spark.sparkContext)(outcome(Readers.parquet(spark, path).schema))
    assert(ours == outcome(spark.read.parquet(path).schema), path)
    jobs
  }

  /** Asserts `Readers.csv` gives Spark's header-inferred schema and the
    * same rows; returns the number of jobs the `Readers` call launched. */
  private def csvParity(path: String): Int = {
    val (ours, jobs) = JobCounter.count(spark.sparkContext)(Readers.csv(spark, path))
    val theirs = spark.read.option("header", "true").csv(path)
    assert(ours.schema == theirs.schema, path)
    assert(ours.collect().toSeq == theirs.collect().toSeq, path)
    jobs
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def tempCsv(content: String): String = {
    val f = Files.createTempFile("graft", ".csv")
    Files.write(f, content.getBytes(UTF_8))
    f.toString
  }

  test("S2: csvWithHeaderOffset skips 4 metadata lines, header at row 4") {
    val path = resourcePath(
      "bronze/special_education/ingest_date=2024-01-15/special_education2022-23.csv")
    val df = Readers.csvWithHeaderOffset(spark, path, headerRow = 4)
    assert(df.columns.toSeq == Seq("State LEA ID", "LEA Name",
      "School Age All Educational Environments",
      "School Age Inside regular class 80% or more of the day", "School Year", "Unused Col"))
    assert(df.count() == 7)
    val first = df.orderBy(df("State LEA ID")).collect().head
    assert(first.getString(0) == "601" && first.getString(1) == "Fulton County")
  }

  test("S2: header offset on a file with too few lines fails cleanly") {
    val f = Files.createTempFile("short", ".csv")
    Files.writeString(f, "only,one,line\n")
    val e = intercept[IllegalArgumentException] {
      Readers.csvWithHeaderOffset(spark, f.toString, headerRow = 4)
    }
    assert(e.getMessage.contains("fewer than 5 lines"))
  }

  test("S2: a header at line 4 gets the names S1 gives it at line 0") {
    for ((header, names) <- Seq(
        "A,B,A," -> Seq("A0", "B", "A2", "_c3"),
        "a,,c,d" -> Seq("a", "_c1", "c", "d"),
        "\"q,1\",\"\"\"r\"\"\",s,t" -> Seq("q,1", "\"\"\"r\"\"\"", "s", "t"))) { // escape is a backslash
      val s1 = Readers.csv(spark, tempCsv(s"$header\n1,2,3,4\n"))
      val s2 = Readers.csvWithHeaderOffset(
        spark, tempCsv(s"m0\nm1\nm2\nm3\n$header\n1,2,3,4\n"), headerRow = 4)
      assert(s1.columns.toSeq == names, header)
      assert(s2.schema == s1.schema, header)
      assert(s2.collect().toSeq == s1.collect().toSeq, header)
    }
  }

  test("S3: minimal XLSX reader — shared strings, inline strings, numbers, gaps") {
    val f = File.createTempFile("graft", ".xlsx")
    TestXlsx.write(f, Seq(
      Seq("colA", "colB", "colC"),
      Seq("shared text", 42, 3.5),
      Seq("#inline text", null, "#  padded  "),
      Seq("shared text", "#", 7)))
    val rows = TestXlsx.read(f)
    assert(rows.length == 4)
    assert(rows.head.toSeq == Seq("colA", "colB", "colC"))
    assert(rows(1).toSeq == Seq("shared text", "42", "3.5"))
    assert(rows(2).toSeq == Seq("inline text", null, "  padded  "))
    assert(rows(3).toSeq == Seq("shared text", "", "7"))

    val df = Readers.xlsx(spark, f.getPath)
    assert(df.columns.toSeq == Seq("colA", "colB", "colC"))
    assert(df.count() == 3)
  }

  test("S3: XLSX through a file: URI reads what a plain path reads") {
    val f = File.createTempFile("graft", ".xlsx")
    TestXlsx.writeSchoolFixture(f)
    val plain = Readers.xlsx(spark, f.getPath)
    for (uri <- Seq(f.toURI.toString, s"file://${f.getPath}")) {
      val df = Readers.xlsx(spark, uri)
      assert(df.schema == plain.schema, uri)
      assert(df.collect().toSeq == plain.collect().toSeq, uri)
    }
    assert(plain.count() == 8)
  }

  test("S3: A1 column-reference decoding") {
    assert(Xlsx.colIndex("A1") == 0)
    assert(Xlsx.colIndex("Z3") == 25)
    assert(Xlsx.colIndex("AA10") == 26)
    assert(Xlsx.colIndex("AB1") == 27)
  }

  test("S1: csv reads header and keeps raw strings") {
    val path = resourcePath(
      "bronze/housing_affordability/ingest_date=2024-01-15/housing2019-23.csv")
    val df = Readers.csv(spark, path)
    assert(df.columns.contains("S2503_C01_001E"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("S1: csv with an explicit schema projects and types at the scan") {
    import org.apache.spark.sql.types._
    val path = resourcePath(
      "bronze/housing_affordability/ingest_date=2024-01-15/housing2019-23.csv")
    val schema = StructType(Seq(
      StructField("GEO_ID", StringType), StructField("NAME", StringType)))
    val df = Readers.csv(spark, path, Some(schema))
    assert(df.schema == schema)
    assert(df.count() == 8) // 7 data rows + the label row (filtered in silver)
  }

  // Testdata-schema drift guard: the round-7 refresh silently changed
  // events.ts from long-nanos to TIMESTAMP_NTZ and six queries went dark
  // (VERDICT r7 #1). Pin the NORMALIZED contract every consumer relies on,
  // across every SF dir the driver ships, so the next drift fails here at
  // commit time instead of in the round's correctness run.
  test("S4: Tables.events yields TimestampType ts at every SF") {
    import org.apache.spark.sql.types._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val df = Tables.events(spark, s"/root/testdata/$sf")
      assert(df.schema("ts").dataType == TimestampType,
        s"$sf: events.ts must normalize to TIMESTAMP, got ${df.schema("ts").dataType}")
      // unix_micros is the downstream idiom that broke — prove it analyzes
      df.selectExpr("unix_micros(ts)").queryExecution.analyzed
    }
  }

  test("S4: normalizeTs handles NTZ, long-nanos, and already-normalized input") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val ntz = spark.sql("SELECT CAST('2024-01-02 03:04:05.123456' AS TIMESTAMP_NTZ) AS ts")
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val fromNtz = Tables.normalizeTs(ntz)
    assert(fromNtz.schema("ts").dataType == TimestampType)
    // UTC session tz → the cast is epoch-preserving
    assert(fromNtz.selectExpr("unix_micros(ts)").as[Long].head ==
      spark.sql("SELECT unix_micros(CAST('2024-01-02 03:04:05.123456' AS TIMESTAMP))")
        .as[Long].head)
    val nanos = Seq(1704164645123456789L).toDF("ts")
    val fromNanos = Tables.normalizeTs(nanos)
    assert(fromNanos.schema("ts").dataType == TimestampType)
    assert(fromNanos.selectExpr("unix_micros(ts)").as[Long].head == 1704164645123456L)
    val already = Tables.normalizeTs(fromNtz)
    assert(already.schema("ts").dataType == TimestampType)
  }

  test("S4: documents and embeddings keep their pinned schemas at every SF") {
    import org.apache.spark.sql.types._
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = Tables.load(spark, s"/root/testdata/$sf", "documents")
      assert(docs.schema("doc_id").dataType == LongType)
      assert(docs.schema("text").dataType == StringType)
      assert(docs.schema("lang").dataType == StringType)
      assert(docs.schema("source").dataType == StringType)
      // x05's DuckDB oracle rebuilds the FNV-1a byte fold from unicode code
      // points, which only equals the kernel's byte-level fold while the
      // corpus stays pure ASCII — fail HERE if the testdata ever drifts.
      assert(docs.filter(
        org.apache.spark.sql.functions.expr("octet_length(text) <> length(text)"))
        .limit(1).count() == 0L,
        s"$sf: non-ASCII text would break x05's byte-level oracle")
      val emb = Tables.load(spark, s"/root/testdata/$sf", "embeddings")
      assert(emb.schema("vec_id").dataType == LongType)
      assert(emb.schema("embedding").dataType == ArrayType(FloatType, containsNull = true))
      assert(emb.schema("label").dataType == IntegerType)
    }
  }

  test("S1: driver-read CSV header matches Spark's inference") {
    assert(csvParity(resourcePath(
      "bronze/housing_affordability/ingest_date=2024-01-15/housing2019-23.csv")) == 0)
    assert(csvParity(tempCsv("a,,c\n1,2,3\n")) == 0)             // empty cell: _c1
    assert(csvParity(tempCsv("a,b,A,a\n1,2,3,4\n")) == 0)        // duplicates, any case
    assert(csvParity(tempCsv("\uFEFFid,name\n1,x\n")) == 0)      // UTF-8 byte-order mark
    assert(csvParity(tempCsv("\n   \n\"q,1\",\"\"\"r\"\"\"\r\n1,2\r\n")) == 0) // blank lines, quotes, CRLF
    csvParity(tempCsv(""))                                        // zero bytes: Spark infers
    assert(Readers.csv(spark, tempCsv("a,,c\n")).columns.toSeq == Seq("a", "_c1", "c"))
    assert(Readers.csv(spark, tempCsv("a,b,A\n")).columns.toSeq == Seq("a0", "b", "A2"))
    assert(Readers.csv(spark, tempCsv("\uFEFFid\n")).columns.toSeq == Seq("id"))
    assert(Readers.csv(spark, tempCsv("")).schema == new StructType())
  }

  test("S4: footer schema matches Spark's inference on silver, gold and sf0.01") {
    val base = PipelineSpec.stageLake()
    new Pipeline(spark, base, PipelineSpec.date).runBronzeToSilverAndGold()
    for (layer <- Seq("silver", "gold"); dataset <- new File(s"$base/$layer").list())
      assert(parquetParity(graft.io.Lake.path(base, layer, dataset, PipelineSpec.date)) == 0)
    val sf = "/root/testdata/sf0.01"
    for (name <- Tables.names) assert(parquetParity(s"$sf/$name.parquet") == 0)
    for (nanosAsLong <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong) {
        assert(parquetParity(s"$sf/events.parquet") == 0)
      }
  }

  test("S4: footer schema follows nanosAsLong and binaryAsString as Spark does") {
    // written without Spark's schema metadata, so the session conf decides
    val dir = Files.createTempDirectory("graft-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required binary raw; }")
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1704164645123456789L).append("raw", Binary.fromString("x")))
    finally writer.close()
    for (nanosAsLong <- Seq("true", "false"); binaryAsString <- Seq("true", "false"))
      withConf("spark.sql.legacy.parquet.nanosAsLong" -> nanosAsLong,
          "spark.sql.parquet.binaryAsString" -> binaryAsString) {
        val jobs = parquetParity(dir.toString)
        if (nanosAsLong == "true") {
          assert(jobs == 0)
          val fields = Readers.parquet(spark, dir.toString).schema
          assert(fields("ts").dataType == LongType)
          assert(fields("raw").dataType == (if (binaryAsString == "true") StringType else BinaryType))
        }
      }
    // off, both reads refuse TIMESTAMP(NANOS) with Spark's error
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(outcome(Readers.parquet(spark, dir.toString).schema).isLeft)
    }
  }

  test("S4: mergeSchema, partitions, summary files and empty dirs get Spark's answer") {
    import spark.implicits._
    def tmp(): String = Files.createTempDirectory("graft-pq").toString
    // two files with different columns in one directory
    val mixed = tmp()
    Seq(1L).toDF("a").write.mode("overwrite").parquet(mixed)
    Seq("x").toDF("b").write.mode("append").parquet(mixed)
    assert(parquetParity(mixed) == 0) // the first file by path, as Spark picks
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(parquetParity(mixed) == 1)
      assert(Readers.parquet(spark, mixed).columns.sorted.toSeq == Seq("a", "b"))
    }
    // partition discovery adds the partition column
    val parted = tmp()
    Seq((1L, "p"), (2L, "q")).toDF("v", "k").write.mode("overwrite").partitionBy("k").parquet(parted)
    assert(parquetParity(parted) == 1)
    assert(Readers.parquet(spark, parted).columns.toSeq == Seq("v", "k"))
    // a summary file wins over the data files in Spark's inference
    val summarized = tmp()
    Seq(1L).toDF("a").write.mode("overwrite").parquet(summarized)
    val other = tmp()
    Seq(("x", 2.0)).toDF("s", "d").coalesce(1).write.mode("overwrite").parquet(other)
    val otherFile = new File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(otherFile.toPath, Paths.get(s"$summarized/_common_metadata"))
    assert(parquetParity(summarized) == 1)
    assert(Readers.parquet(spark, summarized).columns.toSeq == Seq("s", "d"))
    // no data file, and no path at all: Spark's own errors
    val empty = tmp()
    parquetParity(empty)
    assert(outcome(Readers.parquet(spark, empty).schema).isLeft)
    parquetParity(s"$empty/missing")
  }
}
