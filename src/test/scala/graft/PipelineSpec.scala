package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.Checkpoints

import org.apache.spark.JobCounter

import graft.io.Readers

/** End-to-end bronze→silver→gold pipeline parity on the FIXTURES.md A-family
  * fixtures, asserting the §7.3 semantic traps. */
class PipelineSpec extends SparkSpec with Checkpoints {

  import PipelineSpec.{bronze, date, stageLake}

  private lazy val base: String = stageLake()

  private lazy val pipe = new Pipeline(spark, base, date)

  private val mapper = new ObjectMapper()

  test("silver housing: label-row filter, coerce, fillna+rowsum, guarded division") {
    val (housing, _, _) = pipe.buildSilverFrames()
    val rows = housing.collect().map(r => r.getString(0) -> r).toMap
    assert(!rows.contains("Geography"), "ACS label row must be filtered (P1)")
    assert(rows.size == 7)
    // P4: "(X)" coerces to null
    val bad = rows("0500000US13998")
    assert(bad.isNullAt(bad.fieldIndex("occupied_housing_units")))
    assert(bad.isNullAt(bad.fieldIndex("total_cost_burden_30_plus_pct")))
    // P7: zero denominator → NULL pct
    val gwinnett = rows("0500000US13135")
    assert(gwinnett.isNullAt(gwinnett.fieldIndex("total_cost_burden_30_plus_pct")))
    // P5+P6: null tier treated as 0 in the row sum
    val empty = rows("0500000US13999")
    val pct = empty.getDouble(empty.fieldIndex("total_cost_burden_30_plus_pct"))
    assert(math.abs(pct - (4000 + 0 + 2500 + 1800 + 900).toDouble / 50000 * 100.0) < 1e-9)
    // plain case
    val fulton = rows("0500000US13121")
    val fpct = fulton.getDouble(fulton.fieldIndex("total_cost_burden_30_plus_pct"))
    assert(math.abs(fpct - 120180.0 / 433661.0 * 100.0) < 1e-9)
  }

  test("silver school + special: renames, coercion, guarded pct") {
    val (_, school, special) = pipe.buildSilverFrames()
    assert(school.columns.toSeq ==
      Seq("school_id", "school_name", "lea_id", "district_name", "ccrpi_score_2023"))
    assert(special.columns.toSeq ==
      Seq("lea_id", "district_name", "total_swd", "pct_inclusive_80_plus", "school_year"))
    val sp = special.collect().map(r => r.getString(0) -> r).toMap
    // zero total_swd → NULL pct (bronze_to_silver.py:157)
    val zero = sp("604")
    assert(zero.isNullAt(zero.fieldIndex("pct_inclusive_80_plus")))
    val fulton = sp("601")
    assert(math.abs(fulton.getDouble(fulton.fieldIndex("pct_inclusive_80_plus"))
      - 6800.0 / 9500.0 * 100.0) < 1e-9)
  }

  test("gold build: rollup, null-county drop, fan-out, keep-first, inner join") {
    val (housing, school, special) = pipe.buildSilverFrames()
    val gold = graft.gold.Gold.buildLeaJoinedGold(housing, school, special)
    val rows = gold.collect()
    // LEAs surviving: 601 fulton, 602 dekalb, 603 cobb, 605 dekalb ×2 (fan-out)
    val byLea = rows.groupBy(_.getString(rows.head.fieldIndex("lea_id")))
    assert(byLea.keySet == Set("601", "602", "603", "605"))
    assert(byLea("605").length == 2, "duplicate special-ed lea_id must fan out (J1)")
    // null-county district (", Georgia") and county-not-in-housing (604) dropped
    assert(!byLea.contains("606") && !byLea.contains("604"))
    val fulton = byLea("601").head
    def d(r: org.apache.spark.sql.Row, c: String): Double = r.getDouble(r.fieldIndex(c))
    // mean skips the null score; nunique dedupes school_id 1002
    assert(math.abs(d(fulton, "ccrpi_score_2023_mean") - 82.0) < 1e-9)
    assert(fulton.getLong(fulton.fieldIndex("school_count")) == 2L)
    // keep-FIRST housing row for the duplicated county (GEO_ID 13121, not 13997)
    assert(fulton.getString(fulton.fieldIndex("GEO_ID")) == "0500000US13121")
    // lea 603 came in with whitespace (" 603 ") — P9 trim made the join work
    assert(byLea("603").head.getString(rows.head.fieldIndex("county")) == "cobb")
    // golden schema (FIXTURES.md A4)
    assert(gold.columns.toSeq == Seq(
      "lea_id", "district_name", "county", "ccrpi_score_2023_mean", "school_count",
      "total_swd", "pct_inclusive_80_plus", "school_year", "GEO_ID", "county_name",
      "occupied_housing_units", "inc_lt_20k_cost_burden_30_plus",
      "inc_20k_34_999_cost_burden_30_plus", "inc_35k_49_999_cost_burden_30_plus",
      "inc_50k_74_999_cost_burden_30_plus", "inc_75k_plus_cost_burden_30_plus",
      "total_cost_burden_30_plus_pct"))
  }

  test("gold is the same at any shuffle partition count") {
    // many schools per LEA, scores that are not binary fractions: a sum
    // whose order followed a shuffle's hash partitioning would differ
    val rnd = new scala.util.Random(8)
    val districts = Seq("Fulton County", "DeKalb County", "Cobb County", "Gwinnett County")
    val schools = for {
      lea <- 1 to 12
      school <- 1 to 150
    } yield (s"$lea-$school", s"School $school", s"7$lea", districts(lea % districts.size),
      BigDecimal(40 + 60 * rnd.nextDouble()).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val dir = Files.createTempDirectory("graft-gold-det").toString
    graft.io.Lake.writeSingleFile(spark.createDataFrame(schools).toDF(
      "school_id", "school_name", "lea_id", "district_name", "ccrpi_score_2023"), dir)
    val (housing, _, special) = pipe.buildSilverFrames()
    val school = Readers.parquet(spark, dir)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val golds =
      try Seq(1, 2, 4, 8).map { n =>
        spark.conf.set(key, n.toLong)
        val gold = graft.gold.Gold.buildLeaJoinedGold(housing, school, special)
        n -> spark.createDataFrame(gold.collectAsList(), gold.schema)
      }
      finally spark.conf.set(key, before)
    val (_, first) = golds.head
    assert(first.count() == 12)
    for ((n, gold) <- golds.tail)
      assert(first.exceptAll(gold).isEmpty && gold.exceptAll(first).isEmpty,
        s"gold at $n shuffle partitions differs from gold at 1")
  }

  test("gold does not depend on the order school rows arrive in") {
    // the same rows in file order and shuffled: a mean summed as doubles
    // rounds differently in another order
    val rnd = new scala.util.Random(9)
    val districts = Seq("Fulton County", "DeKalb County", "Cobb County", "Gwinnett County")
    val schools = for {
      lea <- 1 to 12
      school <- 1 to 500
    } yield (s"$lea-$school", s"School $school", s"7$lea", districts(lea % districts.size),
      100 * rnd.nextDouble())
    val dir = Files.createTempDirectory("graft-gold-order").toString
    graft.io.Lake.writeSingleFile(spark.createDataFrame(schools).toDF(
      "school_id", "school_name", "lea_id", "district_name", "ccrpi_score_2023"), dir)
    val (housing, _, special) = pipe.buildSilverFrames()
    val school = Readers.parquet(spark, dir)
    val golds = Seq(school, school.orderBy(org.apache.spark.sql.functions.rand(3))).map { rows =>
      val gold = graft.gold.Gold.buildLeaJoinedGold(housing, rows, special)
      spark.createDataFrame(gold.collectAsList(), gold.schema)
    }
    val Seq(inOrder, shuffled) = golds
    assert(inOrder.count() == 12)
    assert(inOrder.exceptAll(shuffled).isEmpty && shuffled.exceptAll(inOrder).isEmpty)
  }

  /** Assert that a `{"rows", "columns", "output_path"}` summary describes
    * the parquet it names. */
  private def assertSummary(summary: JsonNode): Unit = {
    val written = Readers.parquet(spark, summary.get("output_path").asText)
    assert(summary.get("rows").asLong == written.count(), summary.toString)
    assert(summary.get("columns").asInt == written.columns.length, summary.toString)
  }

  test("EP1 full run writes silver+gold parquet and returns the JSON summary shape") {
    val json = mapper.readTree(pipe.runBronzeToSilverAndGold())
    assert(json.fieldNames.asScala.toSeq == Seq("silver", "gold"))
    val silver = json.get("silver")
    assert(silver.fieldNames.asScala.toSeq == Seq("housing", "school", "special_education"))
    assert(json.get("gold").fieldNames.asScala.toSeq == Seq("county_joined"))
    val goldSummary = json.get("gold").get("county_joined")
    (silver.elements.asScala.toSeq :+ goldSummary).foreach(assertSummary)
    val goldPath = s"$base/gold/county_analysis/ingest_date=$date"
    assert(goldSummary.get("output_path").asText == goldPath)
    val ep1Written = Readers.parquet(spark, goldPath)
    assert(ep1Written.count() == 5)
    // held in memory: EP2 overwrites the same path
    val ep1Gold = spark.createDataFrame(ep1Written.collectAsList(), ep1Written.schema)
    // EP2: rebuild gold from the silver parquet contract — same result
    val json2 = mapper.readTree(pipe.runSilverToGold())
    assert(json2.get("rows").asLong == 5)
    assertSummary(json2)
    val ep2Gold = Readers.parquet(spark, goldPath)
    assert(ep2Gold.schema == ep1Gold.schema)
    assert(ep1Gold.exceptAll(ep2Gold).isEmpty && ep2Gold.exceptAll(ep1Gold).isEmpty)
  }

  test("EP1 and EP2 write every output as zstd parquet") {
    val fresh = new Pipeline(spark, stageLake(), date)
    val ep1 = mapper.readTree(fresh.runBronzeToSilverAndGold()).findValues("output_path").asScala
    val ep2 = mapper.readTree(fresh.runSilverToGold()).get("output_path")
    assert(ep1.length == 4)
    for (out <- (ep1 :+ ep2).map(_.asText)) {
      val codecs = LakeSpec.columnChunkCodecs(spark, out)
      assert(codecs.nonEmpty, out)
      assert(codecs.forall(_._2 == "ZSTD"), s"$out: $codecs")
    }
  }

  test("EP1 runs exactly 6 jobs, EP2 exactly 3, and the readers launch none") {
    val fresh = new Pipeline(spark, stageLake(), date)
    def jobs[T](body: => T): (T, Int) = JobCounter.count(spark.sparkContext)(body)
    val pins = new Checkpoint // every pin is reported, not just the first to fail
    // EP1: one write per silver output, then EP2; no schema or header job.
    // The silver writes run on worker threads: a thread that dropped the
    // caller's job group would leave them out of this count
    val (summary, ep1) = jobs(fresh.runBronzeToSilverAndGold())
    pins { assert(ep1 == 6, s"EP1 ran $ep1 jobs") }
    // EP2: two broadcasts and the write (see Gold.buildLeaJoinedGold)
    val (_, ep2) = jobs(fresh.runSilverToGold())
    pins { assert(ep2 == 3, s"EP2 ran $ep2 jobs") }
    // Readers.csv and Readers.csvWithHeaderOffset (bronze), Readers.parquet
    // (each silver output and gold)
    pins { assert(jobs(fresh.readBronzeHousing())._2 == 0, "Readers.csv") }
    pins { assert(jobs(fresh.readBronzeSpecial())._2 == 0, "Readers.csvWithHeaderOffset") }
    for (out <- mapper.readTree(summary).findValues("output_path").asScala)
      pins { assert(jobs(Readers.parquet(spark, out.asText))._2 == 0, out.asText) }
    pins.reportAll()
  }

  test("every EP1 job carries the caller's local properties") {
    val sc = spark.sparkContext
    val fresh = new Pipeline(spark, stageLake(), date)
    val key = "graft.test.caller"
    sc.setLocalProperty(key, "ep1")
    val (_, jobs) =
      try JobCounter.jobs(sc)(fresh.runBronzeToSilverAndGold())
      finally sc.setLocalProperty(key, null)
    assert(jobs.size == 6)
    val lost = jobs.filter(_.properties.getProperty(key) != "ep1").map(_.id)
    assert(lost.isEmpty, s"jobs $lost ran without the caller's '$key'")
  }

  test("EP1 over a file:// base reads the XLSX and writes what a plain path writes") {
    val plain = mapper.readTree(new Pipeline(spark, stageLake(), date).runBronzeToSilverAndGold())
    val uriBase = s"file://${stageLake()}"
    val uri = mapper.readTree(new Pipeline(spark, uriBase, date).runBronzeToSilverAndGold())
    val school = uri.get("silver").get("school")
    assert(school.get("output_path").asText.startsWith(s"$uriBase/silver/school_performance/"))
    for (out <- Seq("housing", "school", "special_education"))
      assert(uri.get("silver").get(out).get("rows") == plain.get("silver").get(out).get("rows"), out)
    def gold(json: JsonNode) =
      Readers.parquet(spark, json.get("gold").get("county_joined").get("output_path").asText)
    assert(gold(uri).schema == gold(plain).schema)
    assert(gold(uri).exceptAll(gold(plain)).isEmpty && gold(plain).exceptAll(gold(uri)).isEmpty)
  }

  test("EP1 with a missing bronze file: the other outputs are written, then it throws") {
    val lake = stageLake()
    val special = bronze(lake, "special_education", "special_education2022-23.csv")
    Files.delete(special)
    val (e, jobs) = JobCounter.jobs(spark.sparkContext)(
      intercept[FileNotFoundException](new Pipeline(spark, lake, date).runBronzeToSilverAndGold()))
    assert(e.getMessage == s"File $special does not exist")
    assert(e.getSuppressed.isEmpty)
    for (out <- Seq("housing_affordability", "school_performance"))
      assert(Files.exists(Paths.get(s"$lake/silver/$out/ingest_date=$date/_SUCCESS")), out)
    assert(!Files.exists(Paths.get(s"$lake/silver/special_education")))
    assert(jobs.size == 2, "one write job per output written")
    assert(JobCounter.running(spark.sparkContext, jobs).isEmpty, "EP1 returned with jobs running")
  }

  test("EP1 with two missing bronze files throws the first in output order") {
    val lake = stageLake()
    val school = bronze(lake, "school_performance", "school_performance.xlsx")
    val special = bronze(lake, "special_education", "special_education2022-23.csv")
    Files.delete(school)
    Files.delete(special)
    val e = intercept[FileNotFoundException](new Pipeline(spark, lake, date).runBronzeToSilver())
    assert(e.getMessage.contains(school.toString), e.getMessage)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq(s"File $special does not exist"))
  }

  test("EP1 re-reads bronze on every call and leaves nothing persisted") {
    val lake = stageLake()
    val fresh = new Pipeline(spark, lake, date)
    val csv = Paths.get(s"$lake/bronze/housing_affordability/ingest_date=$date/housing2019-23.csv")
    def housing(json: String): JsonNode = mapper.readTree(json).get("silver").get("housing")
    def persisted: Int = spark.sparkContext.getPersistentRDDs.size
    val before = persisted
    assert(housing(fresh.runBronzeToSilverAndGold()).get("rows").asLong == 7)
    val after = persisted
    assert(after == before, "EP1 must not leave persisted RDDs behind")

    // same ingest_date, fewer rows: header + label row + the first 3 counties
    val lines = Files.readAllLines(csv)
    Files.write(csv, lines.subList(0, 5))
    val rerun = housing(fresh.runBronzeToSilverAndGold())
    assert(rerun.get("rows").asLong == 3, "EP1 must report the rewritten bronze file")
    val silverHousing = Readers.parquet(spark, s"$lake/silver/housing_affordability/ingest_date=$date")
    assert(silverHousing.count() == 3, "EP1 must write the rewritten bronze file")
    val afterRerun = persisted
    assert(afterRerun == before)
  }
}

object PipelineSpec {
  val date = "2024-01-15"

  /** The bronze file `name` of `dataset` in the lake at `base`. */
  def bronze(base: String, dataset: String, name: String): Path =
    Paths.get(s"$base/bronze/$dataset/ingest_date=$date/$name")

  /** A fresh bronze lake in a temp dir: the CSVs come from test resources,
    * the XLSX is generated. */
  def stageLake(): String = {
    val dir = Files.createTempDirectory("graft-pipe").toString
    def copy(rel: String): Unit = {
      val src = Paths.get(getClass.getClassLoader.getResource(rel).toURI)
      val dst = Paths.get(s"$dir/$rel")
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    copy(s"bronze/housing_affordability/ingest_date=$date/housing2019-23.csv")
    copy(s"bronze/special_education/ingest_date=$date/special_education2022-23.csv")
    TestXlsx.writeSchoolFixture(new java.io.File(
      s"$dir/bronze/school_performance/ingest_date=$date/school_performance.xlsx"))
    dir
  }
}
