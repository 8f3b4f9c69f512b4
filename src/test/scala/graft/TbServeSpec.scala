package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkInternals
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.TbPipeline

/** The hand-authored TB fixture under `src/test/resources/tb/`
  * (FIXTURES.md §D): 3 coords countries × 2 years, one ISO3 outside
  * the coords table, one dirty row of each kind. */
object TbFixture {
  private def resource(name: String): String =
    Paths.get(getClass.getResource(s"/tb/$name").toURI).toString
  lazy val tbCsv: String = resource("tb.csv")
  lazy val popCsv: String = resource("population.csv")
}

/** [[TbServe.writePayloads]] on the fixture: every payload byte-exact
  * against the bodies derived by hand in FIXTURES.md §D, plus the
  * Spark-job budget of one refresh's payloads. */
class TbServeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import TbFixture._

  /** Spark jobs `writePayloads` may start on the fixture: measured at
    * 12 over a one-partition rated frame (7 collects; `countries.json`'s
    * starts none, the 6 others 12 jobs); 37 over a partitioned one, 62
    * with a `toJSON` per payload. */
  private val MaxPayloadJobs = 12

  /** Spark jobs one refresh may start on the fixture (`TbPipeline.run`,
    * the three product writes, the quality report and the payloads):
    * measured at 25; 58 over a partitioned rated frame. */
  private val MaxRefreshJobs = 25

  private lazy val payloads: Map[String, String] = TbServe.writePayloads(
    spark, TbPipeline.run(spark, tbCsv, popCsv),
    Files.createTempDirectory("graft_tbserve").toString)

  private val empty = Seq("MMR", "MYS", "PHL", "SGP", "THA", "TLS", "VNM")

  private def trend(country: String, iso: String, year: Int, cases: String,
                    deaths: String, cases100k: String, deaths100k: String) =
    s"""{"country":"$country","iso3":"$iso","year":$year,"total_cases":$cases,""" +
      s""""new_cases":0.0,"deaths":$deaths,"total_cases_per_100k":$cases100k,""" +
      s""""new_cases_per_100k":0.00,"deaths_per_100k":$deaths100k}"""

  private val laoName = "Lao People's Democratic Republic"

  test("payload set: 5 endpoints + one trends body per coords ISO3") {
    assert(payloads.keySet === Set("map_data.json", "comparison.json",
      "yearly_trends.json", "countries.json", "stats.json") ++
      (Seq("IDN", "KHM", "LAO") ++ empty).map(i => s"trends/$i.json"))
  }

  test("trends: per-country series by year; coords ISO3s without rows are empty") {
    assert(payloads("trends/IDN.json") === """{"iso3":"IDN","trends":[""" +
      trend("Indonesia", "IDN", 2022, "1000.0", "100.0", "50.00", "5.00") + "," +
      trend("Indonesia", "IDN", 2023, "1200.0", "90.0", "60.00", "4.50") + "]}")
    assert(payloads("trends/KHM.json") === """{"iso3":"KHM","trends":[""" +
      trend("Cambodia", "KHM", 2022, "300.0", "30.0", "30.00", "3.00") + "," +
      trend("Cambodia", "KHM", 2023, "400.0", "20.0", "40.00", "2.00") + "]}")
    assert(payloads("trends/LAO.json") === """{"iso3":"LAO","trends":[""" +
      trend(laoName, "LAO", 2022, "150.0", "9.0", "30.00", "1.80") + "," +
      trend(laoName, "LAO", 2023, "250.0", "10.0", "50.00", "2.00") + "]}")
    empty.foreach { iso =>
      assert(payloads(s"trends/$iso.json") === s"""{"iso3":"$iso","trends":[]}""")
    }
    assert(!payloads.contains("trends/BRN.json"), "BRN is not a coords country")
  }

  test("comparison: latest year, total_cases descending") {
    def row(country: String, iso: String, cases: String, deaths: String, pop: Long,
            cases100k: String, deaths100k: String, cfr: String) =
      s"""{"country":"$country","iso3":"$iso","year":2023,"total_cases":$cases,""" +
        s""""new_cases":0.0,"deaths":$deaths,"population":$pop,""" +
        s""""total_cases_per_100k":$cases100k,"deaths_per_100k":$deaths100k,""" +
        s""""case_fatality_rate":$cfr}"""
    assert(payloads("comparison.json") === """{"year":2023,"countries":[""" + Seq(
      row("Indonesia", "IDN", "1200.0", "90.0", 2000000L, "60.00", "4.50", "7.50"),
      row("Cambodia", "KHM", "400.0", "20.0", 1000000L, "40.00", "2.00", "5.00"),
      row(laoName, "LAO", "250.0", "10.0", 500000L, "50.00", "2.00", "4.00"),
      row("Brunei Darussalam", "BRN", "30.0", "1.0", 400000L, "7.50", "0.25", "3.33")
    ).mkString(",") + "]}")
  }

  test("map-data: features as a set, regional_stats over the latest year") {
    def feature(iso: String, country: String, coords: String, cases: String,
                deaths: String, pop: Long, cases100k: String, deaths100k: String,
                cfr: String) =
      s"""{"iso3":"$iso","country":"$country","coordinates":$coords,"data":""" +
        s"""{"year":2023,"total_cases":$cases,"new_cases":0.0,"deaths":$deaths,""" +
        s""""population":$pop,"total_cases_per_100k":$cases100k,""" +
        s""""new_cases_per_100k":0.00,"deaths_per_100k":$deaths100k,""" +
        s""""case_fatality_rate":$cfr}}"""
    val features = Set(
      feature("IDN", "Indonesia", "[-0.7893,113.9213]", "1200.0", "90.0", 2000000L,
        "60.00", "4.50", "7.50"),
      feature("KHM", "Cambodia", "[12.5657,104.991]", "400.0", "20.0", 1000000L,
        "40.00", "2.00", "5.00"),
      feature("LAO", laoName, "[19.8563,102.4955]", "250.0", "10.0", 500000L,
        "50.00", "2.00", "4.00"),
      // the left join keeps a summary row the coords table lacks
      feature("BRN", "Brunei Darussalam", "[null,null]", "30.0", "1.0", 400000L,
        "7.50", "0.25", "3.33"))
    val body = payloads("map_data.json")
    val head = """{"year":2023,"features":["""
    val tail = """],"regional_stats":{"total_cases":1880.0,"total_deaths":121.0,""" +
      """"avg_cases_per_100k":39.38,"countries_count":4},"data_source":"graft"}"""
    assert(body.startsWith(head) && body.endsWith(tail), body)
    val inner = body.stripPrefix(head).stripSuffix(tail)
    // features hold no nested arrays of objects: split between objects
    val served = inner.split("""(?<=\}\}),(?=\{)""").toSeq
    assert(served.size === 4 && served.toSet === features, inner)
  }

  test("yearly trends, countries and stats") {
    assert(payloads("yearly_trends.json") === """{"yearly_trends":[""" +
      """{"year":2022,"total_cases_region":1450.0,"new_cases_region":0.0,""" +
      """"deaths_region":139.0,"total_population":3500000,""" +
      """"avg_cases_per_100k":36.666667,"avg_case_fatality_rate":8.666667},""" +
      """{"year":2023,"total_cases_region":1880.0,"new_cases_region":0.0,""" +
      """"deaths_region":121.0,"total_population":3900000,""" +
      """"avg_cases_per_100k":39.375000,"avg_case_fatality_rate":4.957500}]}""")
    assert(payloads("countries.json") === """{"countries":[""" + Seq(
      """{"iso3":"IDN","name":"Indonesia","lat":-0.7893,"lon":113.9213}""",
      """{"iso3":"KHM","name":"Cambodia","lat":12.5657,"lon":104.991}""",
      """{"iso3":"LAO","name":"Laos","lat":19.8563,"lon":102.4955}""",
      """{"iso3":"MMR","name":"Myanmar","lat":21.9162,"lon":95.956}""",
      """{"iso3":"MYS","name":"Malaysia","lat":4.2105,"lon":101.9758}""",
      """{"iso3":"PHL","name":"Philippines","lat":12.8797,"lon":121.774}""",
      """{"iso3":"SGP","name":"Singapore","lat":1.3521,"lon":103.8198}""",
      """{"iso3":"THA","name":"Thailand","lat":15.87,"lon":100.9925}""",
      """{"iso3":"TLS","name":"Timor-Leste","lat":-8.8742,"lon":125.7275}""",
      """{"iso3":"VNM","name":"Viet Nam","lat":14.0583,"lon":108.2772}"""
    ).mkString(",") + "]}")
    assert(payloads("stats.json") === """{"total_records":4,"year_range":"2023-2023",""" +
      """"countries_count":4,"data_source":"graft"}""")
  }

  test("writePayloads stays within its Spark-job budget and leaves the cache as found") {
    val products = TbPipeline.run(spark, tbCsv, popCsv)
    val sc = spark.sparkContext
    def cacheState = (SparkInternals.cachedPlans(spark), sc.getPersistentRDDs.keySet)
    products.countrySummary.count() // materialize the pipeline's own cache first
    val before = cacheState
    val jobs = SparkInternals.jobsStarted(sc, "tbserve-spec-payload-jobs") {
      TbServe.writePayloads(spark, products,
        Files.createTempDirectory("graft_tbserve_jobs").toString)
    }
    assert(jobs > 0 && jobs <= MaxPayloadJobs, s"$jobs jobs")
    assert(cacheState === before)
  }

  test("one refresh stays within its Spark-job budget") {
    val out = Files.createTempDirectory("graft_tbserve_refresh").toString
    val jobs = SparkInternals.jobsStarted(spark.sparkContext, "tbserve-spec-refresh-jobs") {
      val p = TbPipeline.run(spark, tbCsv, popCsv)
      TbPipeline.write(p.countrySummary, s"$out/country_summary")
      TbPipeline.write(p.yearlyTrends, s"$out/yearly_trends")
      TbPipeline.write(p.countryTrends, s"$out/country_trends", partitionBy = Seq("year"))
      p.qualityReport.collect()
      TbServe.writePayloads(spark, p, s"$out/api")
    }
    assert(jobs > 0 && jobs <= MaxRefreshJobs, s"$jobs jobs")
  }
}
