package graft.ops.tb

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's five serving query shapes (flask_api_server.py
  * endpoints, SURVEY §3.2–3.3) restated as engine-side DataFrame
  * functions over the materialized products. Each is a point/filtered/
  * sorted query that pushes its predicate into the product scan.
  */
object TbServing {

  /** Static iso3 → (name, lat, lon) geo dimension
    * (flask_api_server.py:306-317) as a broadcast-able literal table. */
  def countryCoords(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("IDN", "Indonesia", -0.7893, 113.9213),
      ("KHM", "Cambodia", 12.5657, 104.9910),
      ("LAO", "Laos", 19.8563, 102.4955),
      ("MMR", "Myanmar", 21.9162, 95.9560),
      ("MYS", "Malaysia", 4.2105, 101.9758),
      ("PHL", "Philippines", 12.8797, 121.7740),
      ("SGP", "Singapore", 1.3521, 103.8198),
      ("THA", "Thailand", 15.8700, 100.9925),
      ("TLS", "Timor-Leste", -8.8742, 125.7275),
      ("VNM", "Viet Nam", 14.0583, 108.2772)
    ).toDF("iso3", "name", "lat", "lon")
  }

  /** GET /api/map-data?year=Y — year point filter + coords enrichment
    * (J2 broadcast) + regional re-aggregation (flask_api_server.py:539-597).
    * `year = None` filters nothing: the endpoint's default is the latest
    * year, which is all a `countrySummary` holds.
    * Returns the feature rows; regional stats via [[regionalStats]]. */
  def mapData(summary: DataFrame, coords: DataFrame, year: Option[Int]): DataFrame =
    year.map(v => summary.filter(col("year") === v)).getOrElse(summary)
      .join(broadcast(coords), Seq("iso3"), "left")

  /** Regional stats envelope: sum cases/deaths, mean per-100k rounded
    * (flask_api_server.py:582-590). */
  def regionalStats(mapRows: DataFrame): DataFrame =
    mapRows.agg(
      sum("total_cases").as("region_cases"),
      sum("deaths").as("region_deaths"),
      round(avg("total_cases_per_100k"), 2).as("avg_rate"))

  /** GET /api/trends/<iso3>?start_year&end_year — point lookup + year
    * range + sort (flask_api_server.py:599-624; P12, P13, O4). */
  def countryTrendsFor(trends: DataFrame, iso3: String,
                       startYear: Option[Int] = None,
                       endYear: Option[Int] = None): DataFrame = {
    val base = trends.filter(col("iso3") === upper(lit(iso3)))
    val lo = startYear.map(s => base.filter(col("year") >= s)).getOrElse(base)
    val hi = endYear.map(e => lo.filter(col("year") <= e)).getOrElse(lo)
    hi.orderBy("year")
  }

  /** GET /api/comparison?year=Y — year filter + 10-col projection
    * (flask_api_server.py:626-640). */
  def comparison(summary: DataFrame, year: Int): DataFrame =
    summary.filter(col("year") === year)
      .select("country", "iso3", "year", "total_cases", "new_cases",
        "deaths", "population", "total_cases_per_100k", "deaths_per_100k",
        "case_fatality_rate")

  /** GET /api/yearly-trends — full product scan, sorted (flask_api_server.py:643-662). */
  def yearlyTrendsAll(yearly: DataFrame): DataFrame = yearly.orderBy("year")

  /** GET /api/stats — the 4 SQL aggregates (flask_api_server.py:765-783). */
  def stats(summary: DataFrame): DataFrame =
    summary.agg(
      count(lit(1)).as("total_records"),
      min("year").as("min_year"),
      max("year").as("max_year"),
      countDistinct("iso3").as("n_countries"))
}
