package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.JobCounter

import graft.io.{Lake, Readers}
import graft.queries.Viewer

/** EP3 viewer surface over the fixture-built gold table. */
class ViewerSpec extends SparkSpec {

  private lazy val gold = {
    val dir = Files.createTempDirectory("graft-viewer").toString
    val date = "2024-01-15"
    def copy(rel: String): Unit = {
      val src = Paths.get(resourcePath(rel))
      val dst = Paths.get(s"$dir/$rel")
      Files.createDirectories(dst.getParent)
      Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }
    copy(s"bronze/housing_affordability/ingest_date=$date/housing2019-23.csv")
    copy(s"bronze/special_education/ingest_date=$date/special_education2022-23.csv")
    TestXlsx.writeSchoolFixture(new java.io.File(
      s"$dir/bronze/school_performance/ingest_date=$date/school_performance.xlsx"))
    val pipe = new Pipeline(spark, dir, date)
    val (h, s, sp) = pipe.buildSilverFrames()
    graft.gold.Gold.buildLeaJoinedGold(h, s, sp)
  }

  test("viewer queries: schema dump, sample, three top-1s, rank-sum best") {
    val qs = Viewer.queries(spark, gold)
    assert(qs.keySet == Set("describe", "sample", "most_affordable",
      "best_ccrpi", "most_inclusive", "overall_best"))
    assert(qs("describe").collect().map(_.getString(0)).contains("ccrpi_score_2023_mean"))
    assert(qs("sample").count() == 5) // all 5 gold rows (< LIMIT 10)
    // most affordable: lowest non-null cost-burden pct among gold counties
    val aff = qs("most_affordable").collect().head
    assert(aff.getString(0) == "cobb") // cobb has the lowest burden pct in the fixture
    val best = qs("best_ccrpi").collect().head
    assert(best.getString(0) == "dekalb" && best.getDouble(2) == 90.25)
    val overall = qs("overall_best").collect().head
    assert(overall.getInt(2) >= 3) // sum of three ranks, each ≥ 1
  }

  test("each timed viewer query over a written one-file gold runs one job") {
    val dir = Files.createTempDirectory("graft-viewer-gold").toString
    Lake.writeSingleFile(gold, dir)
    val written = Readers.parquet(spark, dir)
    val counts = Seq("sample", "most_affordable", "best_ccrpi", "most_inclusive", "overall_best")
      .map { q =>
        val df = Viewer.queries(spark, written)(q)
        q -> JobCounter.count(spark.sparkContext)(
          df.write.format("noop").mode("overwrite").save())._2
      }
    assert(counts.forall(_._2 == 1), counts)
  }

  test("a lookup analyses only its own query, over its own gold") {
    val noInclusive = gold.drop("pct_inclusive_80_plus")
    val qs = Viewer.queries(spark, noInclusive)
    assert(!qs("sample").columns.contains("pct_inclusive_80_plus"))
    assert(qs("best_ccrpi").count() == 1)
    intercept[org.apache.spark.sql.AnalysisException](qs("most_inclusive"))
    // a later call replaces the view; the first map still answers over its gold
    Viewer.queries(spark, gold.limit(1))("sample").count()
    assert(qs("sample").count() == 5)
  }
}
