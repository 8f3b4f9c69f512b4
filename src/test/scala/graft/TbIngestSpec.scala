package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.{Models, TbIngest, TbPipeline}

class TbIngestSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("CASE A: wide-by-indicator CSV melts on indicator columns") {
    val wide = Seq(
      ("Cambodia", "KHM", "WPR", "2018", 100.0, 10.0),
      ("Cambodia", "KHM", "WPR", "2019", 110.0, 11.0),
      ("Cambodia", "KHM", "WPR", "2035", 120.0, 12.0)) // out of range
      .toDF("country", "iso3", "g_whoregion", "year", "e_inc_num", "e_mort_num")
    val long = TbIngest.normalizeWide(wide)
    assert(long.count() == 4) // 2 in-range years x 2 indicators
    assert(long.columns.toSeq ==
      Seq("country", "iso3", "g_whoregion", "year", "indicator", "value"))
    assert(long.select("indicator").distinct().count() == 2)
  }

  test("CASE A prefix fallback when no whitelisted indicator present") {
    val wide = Seq(("Cambodia", "KHM", "WPR", "2018", 5.0))
      .toDF("country", "iso3", "g_whoregion", "year", "e_inc_tbhiv_100k")
    val long = TbIngest.normalizeWide(wide)
    assert(long.count() == 1)
    assert(long.select("indicator").first().getString(0) == "e_inc_tbhiv_100k")
  }

  test("CASE B: wide-by-year CSV melts on digit columns, keeps indicator id") {
    val wide = Seq(
      ("Cambodia", "KHM", "e_inc_num", 100.0, 110.0, 999.0))
      .toDF("country", "iso3", "indicator", "2018", "2019", "2035")
    // note: no g_whoregion column -> backfilled; 2035 out of range -> dropped
    val long = TbIngest.normalizeWide(wide)
    assert(long.count() == 2)
    assert(long.select("g_whoregion").distinct().first().getString(0) == "SEA")
    assert(long.filter($"year" === "2035").count() == 0)
  }

  test("iso3 target filter applies before melting") {
    val wide = Seq(
      ("Cambodia", "KHM", "WPR", "2018", 1.0),
      ("France", "FRA", "EUR", "2018", 2.0))
      .toDF("country", "iso3", "g_whoregion", "year", "e_inc_num")
    val long = TbIngest.normalizeWide(wide, targetIso3 = Seq("KHM"))
    assert(long.select("iso3").distinct().count() == 1)
  }

  test("normalized output flows into the pipeline and typed models") {
    val wide = Seq(
      ("Cambodia", "KHM", "WPR", "2018", 100.0, 10.0),
      ("Cambodia", "KHM", "WPR", "2019", 110.0, 11.0))
      .toDF("country", "iso3", "g_whoregion", "year", "e_inc_num", "e_mort_num")
    // reorder to the canonical tb schema column order used by cleanTb
    val long = TbIngest.normalizeWide(wide)
      .select("country", "iso3", "g_whoregion", "year", "indicator", "value")
    val clean = TbPipeline.cleanTb(long)
    val typed = Models.observations(clean)
    assert(typed.collect().forall(o => o.year == 2018 || o.year == 2019))
    val pivoted = TbPipeline.pivotIndicators(clean)
    assert(pivoted.columns.contains("total_cases"))
    assert(pivoted.count() == 2)
  }

  test("typed country trends expose decimal rates with schema checked at compile time") {
    // fixture (FIXTURES.md §D2): IDN 2023 = 1200 cases over 2,000,000
    val p = TbPipeline.run(spark, TbFixture.tbCsv, TbFixture.popCsv)
    val typed = Models.countryTrends(p.countryTrends)
    val idn2023 = typed.filter(t => t.iso3 == "IDN" && t.year == 2023).collect()(0)
    assert(idn2023.total_cases == 1200.0)
    assert(idn2023.total_cases_per_100k.toString == "60.00")
  }
}
