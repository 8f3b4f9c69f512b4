package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.TbPipeline

class BucketingSqlSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  test("bucketed tables co-locate the join: no exchange between scans and join") {
    import spark.implicits._
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    Tables.customer(spark, sf).write.mode("overwrite")
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")

    // disable broadcast so the join would otherwise need a shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b")
        .join(spark.table("customer_b"), $"o_custkey" === $"c_custkey")
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("the reference's SQL views run verbatim-shaped through spark.sql") {
    // latest_country_stats (init_db.sql:96-106): rank by cases and by
    // per-100k over the latest year, via the SQL API on registered views.
    // Expected values: FIXTURES.md §D3.
    val p = TbPipeline.run(spark, TbFixture.tbCsv, TbFixture.popCsv)
    p.countrySummary.createOrReplaceTempView("country_summary")
    p.countryTrends.createOrReplaceTempView("country_trends")
    def rows(df: DataFrame) = df.collect().map(_.toSeq).toSet

    val stats = spark.sql(
      """SELECT country, iso3, total_cases, total_cases_per_100k,
        |  RANK() OVER (ORDER BY total_cases DESC) AS cases_rank,
        |  RANK() OVER (ORDER BY total_cases_per_100k DESC) AS rate_rank
        |FROM country_summary
        |WHERE year = (SELECT MAX(year) FROM country_summary)""".stripMargin)
    val ranks = stats.select("iso3", "cases_rank", "rate_rank").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(ranks == Map("IDN" -> (1, 1), "KHM" -> (2, 3),
      "LAO" -> (3, 2), "BRN" -> (4, 4)))
    assert(rows(stats) == rows(TbPipeline.latestCountryStats(p.countrySummary)
      .select(stats.columns.map(col).toIndexedSeq: _*)))

    // regional yearly median (init_db.sql:109-122)
    val med = spark.sql(
      """SELECT year,
        |  SUM(total_cases) AS region_cases,
        |  AVG(total_cases_per_100k) AS avg_rate,
        |  MEDIAN(CAST(total_cases_per_100k AS DOUBLE)) AS median_rate,
        |  COUNT(DISTINCT iso3) AS n_countries
        |FROM country_trends GROUP BY year ORDER BY year""".stripMargin)
    assert(med.select("year", "median_rate", "n_countries").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).toSeq ==
      Seq((2022, 30.0, 3L), (2023, 45.0, 4L)))
    assert(med.collect().toSeq ==
      TbPipeline.regionalYearlyMedian(p.countryTrends).collect().toSeq)
  }

  test("spark.sql and DataFrame API produce identical plans for the same query") {
    import spark.implicits._
    Tables.lineitem(spark, sf).createOrReplaceTempView("lineitem_v")
    val sqlRes = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem_v
        |GROUP BY l_returnflag""".stripMargin)
      .collect().map(_.toSeq).toSet
    val dfRes = Tables.lineitem(spark, sf)
      .groupBy($"l_returnflag").agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(sqlRes == dfRes)
  }
}
