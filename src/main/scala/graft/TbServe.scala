package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.tb.{TbPipeline, TbServing}

/** Executable serving demo: materializes the reference API's endpoint
  * payloads (flask_api_server.py:539-783) as JSON files from the
  * pipeline products via [[TbServing]] — the engine-side proof that a
  * reference user could serve the same responses from this library
  * (the HTTP layer itself is out of engine scope; these files ARE the
  * response bodies).
  *
  * One collect per product: each payload's rows are rendered to JSON
  * inside Spark with `to_json(struct(...))` — the Jackson encoder
  * `toJSON` uses, so decimal rates and double counts format exactly as
  * before — and collected once; the 15 bodies are then assembled on the
  * driver. `country_trends` is collected once and split by ISO3 (a
  * coords ISO3 without rows gets `[]`), the coords table once for both
  * the ISO3 list and `countries.json`, and the map-data rows once for
  * the features, the year and the country count. At endpoint sizes
  * (≤ tens of rows per payload) a refresh is bound by the fixed cost
  * per Spark job, not by data, so the job count is the cost: 7 collects
  * (37 Spark jobs) instead of the 19 actions (62 jobs) of a `toJSON`
  * per payload and a lookup per trends ISO3.
  *
  * Row order: every array keeps its query's order — trends by year,
  * comparison by `total_cases` descending (the summary's own sort),
  * yearly trends by year, countries by ISO3 — except map-data
  * `features`, which is the `mapData` join's output order and so
  * unspecified. Pinning it to `total_cases DESC` would change the
  * payload bytes; that is left for the maintainers to decide.
  *
  * Usage: TbServe <tbCsv> <popCsv> <outDir>
  * Writes: map_data.json, trends/<ISO3>.json ×10, comparison.json,
  *         yearly_trends.json, countries.json, stats.json
  */
object TbServe {

  /** `fields` as one JSON object per row, by Spark's JSON encoder. */
  private def json(fields: Column*): Column = to_json(struct(fields: _*))

  /** Every column of `df` as one JSON object. */
  private def rowJson(df: DataFrame): Column = json(df.columns.toSeq.map(col): _*)

  private def jsonArray(rows: Array[String]): String = rows.mkString("[", ",", "]")

  /** JSON array of `df`'s rows, in `df`'s order. */
  private def collectJsonArray(df: DataFrame): String =
    jsonArray(df.select(rowJson(df)).collect().map(_.getString(0)))

  /** Materialize every endpoint payload under `outDir`. Returns the
    * (path → payload) map for spec inspection. */
  def writePayloads(spark: SparkSession, products: ops.tb.TbProducts,
                    outDir: String): Map[String, String] = {
    val coords = TbServing.countryCoords(spark)
    val summary = products.countrySummary

    // GET /api/countries (flask:746-754); its rows also give the ISO3
    // list the trends payloads are keyed by
    val coordRows = coords.orderBy("iso3")
      .select(col("iso3"), rowJson(coords)).collect()
    val countries = s"""{"countries":${jsonArray(coordRows.map(_.getString(1)))}}"""

    // GET /api/map-data (flask_api_server.py:539-597): features carry
    // coordinates + a nested data struct; envelope adds regional sums.
    val mapRows = TbServing.mapData(summary, coords, year = None)
    val featureRows = mapRows.select(col("year"), json(
      col("iso3"), col("country"), array(col("lat"), col("lon")).as("coordinates"),
      struct(
        col("year"), col("total_cases"), col("new_cases"), col("deaths"),
        col("population"), col("total_cases_per_100k"),
        col("new_cases_per_100k"), col("deaths_per_100k"),
        col("case_fatality_rate")).as("data"))).collect()
    val year = featureRows.map(_.getInt(0)).max
    val regional = TbServing.regionalStats(mapRows)
      .select(json(
        col("region_cases").as("total_cases"),
        col("region_deaths").as("total_deaths"),
        col("avg_rate").as("avg_cases_per_100k"),
        lit(featureRows.length.toLong).as("countries_count")))
      .first().getString(0)
    val mapPayload =
      s"""{"year":$year,"features":${jsonArray(featureRows.map(_.getString(1)))},""" +
        s""""regional_stats":$regional,"data_source":"graft"}"""

    // GET /api/trends/<iso3> (flask:599-624), one payload per country:
    // the product is sorted by (iso3, year), so each group is by year
    val trendsByIso = products.countryTrends
      .select(col("iso3"), rowJson(products.countryTrends)).collect()
      .groupMap(_.getString(0))(_.getString(1))
    val trendPayloads = coordRows.map(_.getString(0)).map { iso =>
      val t = jsonArray(trendsByIso.getOrElse(iso, Array.empty[String]))
      s"trends/$iso.json" -> s"""{"iso3":"$iso","trends":$t}"""
    }.toMap

    // GET /api/comparison (flask:626-640) — from the summary's own
    // ordered plan: the mapData join above does not keep its sort
    val comparison =
      s"""{"year":$year,"countries":${collectJsonArray(TbServing.comparison(summary, year))}}"""

    // GET /api/yearly-trends (flask:643-662)
    val yearly =
      s"""{"yearly_trends":${collectJsonArray(TbServing.yearlyTrendsAll(products.yearlyTrends))}}"""

    // GET /api/stats (flask:765-783) — deterministic fields only (no
    // wall-clock last_updated; a byte diff of two runs would flake on
    // it). Its own aggregate: fused with the regional sums, the distinct
    // count changes the plan and with it the double sums' rounding.
    val stats = TbServing.stats(summary)
      .select(json(
        col("total_records"),
        concat(col("min_year"), lit("-"), col("max_year")).as("year_range"),
        col("n_countries").as("countries_count"),
        lit("graft").as("data_source")))
      .first().getString(0)

    val payloads = Map(
      "map_data.json" -> mapPayload,
      "comparison.json" -> comparison,
      "yearly_trends.json" -> yearly,
      "countries.json" -> countries,
      "stats.json" -> stats) ++ trendPayloads
    payloads.foreach { case (rel, body) =>
      val p = Paths.get(outDir, rel)
      Option(p.getParent).foreach(Files.createDirectories(_))
      Files.writeString(p, body)
    }
    payloads
  }

  def main(args: Array[String]): Unit = {
    val tbCsv = args.lift(0).getOrElse(
      "/root/reference/data/raw/who_tb_data_20250923_041355.csv")
    val popCsv = args.lift(1).getOrElse(
      "/root/reference/data/raw/worldbank_population_20250923_041355.csv")
    val outDir = args.lift(2).getOrElse("/tmp/tb_serve")
    val spark = GraftSession.create(appName = "graft-tb-serve",
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    val written = writePayloads(spark, TbPipeline.run(spark, tbCsv, popCsv), outDir)
    println(s"[serve] wrote ${written.size} endpoint payloads to $outDir")
    spark.stop()
  }
}
