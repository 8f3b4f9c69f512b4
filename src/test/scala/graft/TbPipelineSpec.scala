package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.{TbPipeline, TbServing}

/** Golden-file parity against the reference's committed outputs
  * (CSVs under /root/reference/data/processed — the de-facto golden files,
  * SURVEY §5). Values are compared numerically: strings exactly,
  * numbers to 1e-6 relative (the goldens carry pandas float formatting
  * noise like `265.948` vs `10.165000`). Checks that only need
  * TB-shaped input run on the in-repo fixture ([[TbFixture]], expected
  * values in FIXTURES.md §D3).
  */
class TbPipelineSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val refRaw = "/root/reference/data/raw"
  private val refOut = "/root/reference/data/processed"
  private val tbCsv = s"$refRaw/who_tb_data_20250923_041355.csv"
  private val popCsv = s"$refRaw/worldbank_population_20250923_041355.csv"

  private lazy val products = TbPipeline.run(spark, tbCsv, popCsv)
  private lazy val fixtureProducts =
    TbPipeline.run(spark, TbFixture.tbCsv, TbFixture.popCsv)

  private def goldenRows(path: String): Seq[Map[String, String]] = {
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    val header = lines.head.split(",", -1)
    lines.tail.map(l => header.zip(l.split(",", -1)).toMap)
  }

  /** Compare DataFrame rows against golden CSV rows by column name. */
  private def assertMatchesGolden(df: DataFrame, goldenPath: String,
                                  keyCols: Seq[String]): Unit = {
    val golden = goldenRows(goldenPath)
    val cols = df.columns
    val actual = df.collect().map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        c -> (if (r.isNullAt(i)) "" else r.get(i).toString)
      }.toMap
    }
    assert(actual.length == golden.length,
      s"row count ${actual.length} != golden ${golden.length}")
    val aByKey = actual.map(m => keyCols.map(m(_)).mkString("|") -> m).toMap
    golden.foreach { g =>
      val key = keyCols.map(k => g(k)).mkString("|")
      val a = aByKey.getOrElse(key, fail(s"missing row for key $key"))
      g.foreach { case (c, gv) =>
        val av = a(c)
        val ok = (gv == av) || {
          (gv.toDoubleOption, av.toDoubleOption) match {
            case (Some(gd), Some(ad)) =>
              math.abs(gd - ad) <= 1e-6 * math.max(1.0, math.abs(gd))
            case _ => false
          }
        }
        assert(ok, s"key=$key col=$c golden='$gv' actual='$av'")
      }
    }
  }

  test("pivot precondition: (country,iso3,year,indicator) unique post-cleaning") {
    val clean = TbPipeline.cleanTb(TbPipeline.readTbCsv(spark, TbFixture.tbCsv))
    val dupes = clean.groupBy("country", "iso3", "year", "indicator")
      .count().filter(col("count") > 1).count()
    assert(dupes == 0)
  }

  test("country_summary matches the reference golden byte-for-value") {
    assertMatchesGolden(products.countrySummary, s"$refOut/country_summary.csv",
      Seq("iso3", "year"))
  }

  test("yearly_trends matches the reference golden (incl. unweighted-avg trap)") {
    assertMatchesGolden(products.yearlyTrends, s"$refOut/yearly_trends.csv",
      Seq("year"))
  }

  test("country_trends matches the reference golden") {
    assertMatchesGolden(products.countryTrends, s"$refOut/country_trends.csv",
      Seq("iso3", "year"))
  }

  test("quality report folds A3-A6 into one job with expected values") {
    val r = fixtureProducts.qualityReport.collect()(0)
    assert(r.getAs[Long]("total_records") == 7)  // IDN/KHM/LAO × 2 years + BRN 2023
    assert(r.getAs[Long]("countries_count") == 4)
    assert(r.getAs[Int]("year_min") == 2022)
    assert(r.getAs[Int]("year_max") == 2023)
    assert(r.getAs[Long]("zero_population_records") == 0)
  }

  test("swap-repair heuristic fixes year/indicator transposition") {
    import spark.implicits._
    val swapped = Seq(
      ("Cambodia", "KHM", "WPR", "e_inc_num", "2018", 100.0),
      ("Cambodia", "KHM", "WPR", "e_mort_num", "2018", 10.0))
      .toDF("country", "iso3", "g_whoregion", "year", "indicator", "value")
    val fixed = TbPipeline.cleanTb(swapped)
    assert(fixed.count() == 2)
    assert(fixed.select("year").distinct().collect()(0).getInt(0) == 2018)
  }

  test("melt round-trips a wide shape into the long schema") {
    import spark.implicits._
    val wide = Seq(("Cambodia", "KHM", "2018", 100.0, 10.0))
      .toDF("country", "iso3", "year", "e_inc_num", "e_mort_num")
    val long = TbPipeline.meltWide(wide,
      Seq("country", "iso3", "year"), Seq("e_inc_num", "e_mort_num"))
    assert(long.count() == 2)
    assert(long.columns.toSet ==
      Set("country", "iso3", "year", "indicator", "value"))
  }

  test("population join is planned as a broadcast hash join") {
    val pivoted = TbPipeline.pivotIndicators(
      TbPipeline.cleanTb(TbPipeline.readTbCsv(spark, TbFixture.tbCsv)))
    val pop = TbPipeline.cleanPopulation(
      TbPipeline.readPopulationCsv(spark, TbFixture.popCsv))
    val plan = TbPipeline.joinPopulation(pivoted, pop)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
  }

  test("serving queries: map-data, trends lookup, stats") {
    val coords = TbServing.countryCoords(spark)
    val map = TbServing.mapData(products.countrySummary, coords, None)
    assert(map.count() == 10)
    assert(map.filter(col("lat").isNull).count() == 0)

    val vnm = TbServing.countryTrendsFor(products.countryTrends, "vnm",
      Some(2019), Some(2021))
    assert(vnm.count() == 3)

    val st = TbServing.stats(products.countrySummary).collect()(0)
    assert(st.getAs[Long]("total_records") == 10)
    assert(st.getAs[Long]("n_countries") == 10)
  }

  test("rank view: Indonesia ranks 1 by cases in latest year") {
    val stats = TbPipeline.latestCountryStats(fixtureProducts.countrySummary)
    val idn = stats.filter(col("iso3") === "IDN").collect()(0)
    assert(idn.getAs[Int]("cases_rank") == 1)
  }

  test("a second run over rewritten CSVs at the same paths reads the new values") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_tb_rerun")
    val tb = Files.copy(Paths.get(TbFixture.tbCsv), dir.resolve("tb.csv"))
    val pop = Files.copy(Paths.get(TbFixture.popCsv), dir.resolve("population.csv"))
    def idnCases(): Double = TbPipeline.run(spark, tb.toString, pop.toString)
      .countrySummary.filter(col("iso3") === "IDN").collect()(0).getAs[Double]("total_cases")
    assert(idnCases() === 1200.0)
    val fact = "Indonesia,IDN,SEA,2023,e_inc_num,1200.0"
    val csv = Files.readString(tb)
    assert(csv.contains(fact))
    Files.writeString(tb, csv.replace(fact, "Indonesia,IDN,SEA,2023,e_inc_num,1300.0"))
    assert(idnCases() === 1300.0)
  }

  test("csv/parquet sink round-trip preserves the summary") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
    TbPipeline.write(fixtureProducts.countrySummary, s"$tmp/summary_pq", "parquet")
    TbPipeline.write(fixtureProducts.countrySummary, s"$tmp/summary_csv", "csv")
    val back = spark.read.parquet(s"$tmp/summary_pq")
    assert(back.count() == 4)
    val csv = spark.read.option("header", "true").csv(s"$tmp/summary_csv")
    assert(csv.count() == 4)
  }
}
