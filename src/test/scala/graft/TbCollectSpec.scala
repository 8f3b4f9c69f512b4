package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.{TbCollect, TbPipeline}

/** The collect-phase fallback chain (tb_data_collection.py:53-182,
  * 320-350): primary WHO CSV → GHO API JSONL → synthetic, first leg
  * that lands usable rows wins.
  */
class TbCollectSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("primary snapshot present: who_csv leg wins and output equals the direct read") {
    val (leg, df) = TbCollect.collectTb(spark, Some(TbFixture.tbCsv), None)
    assert(leg == TbCollect.WhoCsv)
    // every snapshot row inside the default 2018-2023 collect window
    // survives unchanged; the fixture's one out-of-window row (2035) is
    // the only row the leg drops
    val direct = TbPipeline.readTbCsv(spark, TbFixture.tbCsv)
    val inWindow = direct.filter(col("year").cast("int").between(2018, 2023))
    def sorted(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toString).sorted.toSeq
    assert(direct.count() == 18 && inWindow.count() == 17)
    assert(sorted(df) == sorted(inWindow), "chain must not drop snapshot rows")
    assert(df.columns.toSeq == direct.columns.toSeq)
  }

  test("wide primary snapshot normalizes through the dual-shape ingest") {
    val dir = Files.createTempDirectory("graft_collect_wide").toString
    val wide = "country,iso3,g_whoregion,year,e_inc_num,e_mort_num\n" +
      "Cambodia,KHM,WPR,2018,100.0,10.0\n" +
      "Cambodia,KHM,WPR,2019,110.0,11.0\n"
    Files.writeString(java.nio.file.Paths.get(dir, "wide.csv"), wide)
    val (leg, df) = TbCollect.collectTb(spark, Some(s"$dir/wide.csv"), None)
    assert(leg == TbCollect.WhoCsv)
    assert(df.count() == 4) // 2 years x 2 indicator columns melted
    assert(df.columns.toSeq ==
      Seq("country", "iso3", "g_whoregion", "year", "indicator", "value"))
  }

  test("primary missing: GHO JSONL leg lands, TB_ prefix stripped, cleanTb keeps rows") {
    val dir = Files.createTempDirectory("graft_collect_gho").toString
    val jsonl = Seq(
      """{"indicator":"TB_c_newinc","SpatialDim":"IDN","TimeDim":2021,"NumericValue":350000.0}""",
      """{"indicator":"TB_e_inc_100k","SpatialDim":"LAO","TimeDim":2020,"NumericValue":185.0}""",
      """{"indicator":"TB_e_inc_100k","SpatialDim":"USA","TimeDim":2020,"NumericValue":3.0}""",
      """{"indicator":"TB_e_inc_100k","SpatialDim":"IDN","TimeDim":1999,"NumericValue":1.0}""",
      """{"indicator":"TB_e_mort_100k","SpatialDim":"PHL","TimeDim":2022,"NumericValue":null}"""
    ).mkString("\n")
    Files.writeString(java.nio.file.Paths.get(dir, "gho.jsonl"), jsonl)
    val (leg, df) = TbCollect.collectTb(
      spark, Some(s"$dir/does_not_exist.csv"), Some(s"$dir/gho.jsonl"))
    assert(leg == TbCollect.GhoApi)
    // USA (not a target), 1999 (out of range), and the null value drop
    val rows = df.orderBy("iso3").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getString(4)).toSet == Set("c_newinc", "e_inc_100k"),
      "GHO indicator codes must lose their TB_ prefix")
    assert(rows.map(_.getString(2)).toSet == Set("SEA"))
    // the reference's name map applies (LAO gets the long-form name)
    assert(rows.find(_.getString(1) == "LAO").get.getString(0) ==
      "Lao People's Democratic Republic")
    // and the downstream whitelist actually keeps the normalized rows —
    // the property the reference's un-stripped codes silently violate
    assert(TbPipeline.cleanTb(df).count() == 2)
  }

  test("no source lands: synthetic leg always produces data") {
    val (leg, df) = TbCollect.collectTb(
      spark, Some("/nonexistent/a.csv"), Some("/nonexistent/b.jsonl"),
      synthCountries = 5)
    assert(leg == TbCollect.Synthetic)
    assert(df.count() == 5L * 6 * 4) // countries x years x indicators
    // the synthetic frame flows through the full pipeline
    val products = TbPipeline.runFrames(df,
      graft.ops.tb.TbSynth.population(spark, 5))
    assert(products.countrySummary.count() == 5)
  }

  test("empty-but-readable primary advances the chain instead of winning") {
    val dir = Files.createTempDirectory("graft_collect_empty").toString
    Files.writeString(java.nio.file.Paths.get(dir, "empty.csv"),
      "country,iso3,g_whoregion,year,indicator,value\n")
    val (leg, _) = TbCollect.collectTb(spark, Some(s"$dir/empty.csv"), None)
    assert(leg == TbCollect.Synthetic)
  }
}
