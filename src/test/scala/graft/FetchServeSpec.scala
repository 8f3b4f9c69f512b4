package graft

import java.nio.file.{Files, Paths}
import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.TbPipeline
import graft.sources.{Fetch, Sources}

/** Collect-phase (Fetch: snapshot landing + 30-day staleness protocol),
  * serve-phase (TbServe endpoint payloads vs the reference's golden
  * summary), and S12 scheme transparency (file:// URI through the one
  * writer/reader surface).
  */
class FetchServeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val refRaw = "/root/reference/data/raw"
  private val tbCsv = s"$refRaw/who_tb_data_20250923_041355.csv"
  private val popCsv = s"$refRaw/worldbank_population_20250923_041355.csv"

  test("fetchToFile lands a local snapshot (plain path and file:// URI)") {
    // fetching only copies a file, so the in-repo fixture serves
    val src = TbFixture.tbCsv
    val dir = Files.createTempDirectory("graft_fetch")
    val a = Fetch.fetchToFile(src, dir.resolve("plain.csv"))
    val b = Fetch.fetchToFile(s"file://$src", dir.resolve("uri.csv"))
    assert(Files.size(a) == Files.size(Paths.get(src)))
    assert(Files.mismatch(a, b) == -1L, "both scheme branches must land identical bytes")
  }

  test("staleness protocol: missing/old/garbage marker -> update; fresh -> skip") {
    val dir = Files.createTempDirectory("graft_stale")
    val marker = dir.resolve("last_update.txt")
    val now = Instant.parse("2026-08-12T00:00:00Z")
    assert(Fetch.shouldUpdate(marker, 30, now), "missing marker must trigger update")
    Files.writeString(marker, now.minus(31, ChronoUnit.DAYS).toString)
    assert(Fetch.shouldUpdate(marker, 30, now), "31-day-old marker must trigger update")
    Files.writeString(marker, now.minus(5, ChronoUnit.DAYS).toString)
    assert(!Fetch.shouldUpdate(marker, 30, now), "5-day-old marker must skip")
    Files.writeString(marker, "not-a-timestamp")
    assert(Fetch.shouldUpdate(marker, 30, now), "unreadable marker must trigger update")
  }

  test("fetchIfStale lands once, stamps the marker, then skips until stale") {
    val src = TbFixture.tbCsv
    val dir = Files.createTempDirectory("graft_fis")
    val dest = dir.resolve("raw.csv")
    val marker = dir.resolve("last_update.txt")
    val t0 = Instant.parse("2026-08-12T00:00:00Z")
    assert(Fetch.fetchIfStale(src, dest, marker, 30, t0), "first call must fetch")
    assert(Files.exists(dest) && Files.readString(marker).trim == t0.toString)
    assert(!Fetch.fetchIfStale(src, dest, marker, 30, t0.plus(1, ChronoUnit.DAYS)),
      "fresh marker must skip the fetch")
    assert(Fetch.fetchIfStale(src, dest, marker, 30, t0.plus(31, ChronoUnit.DAYS)),
      "31 days later the fetch must re-run")
  }

  test("serving payloads: /api/stats numbers match the golden summary") {
    val out = Files.createTempDirectory("graft_serve").toString
    val payloads = TbServe.writePayloads(
      spark, TbPipeline.run(spark, tbCsv, popCsv), out)
    // the golden country_summary.csv is the reference's materialized
    // serving table; its shape determines the stats endpoint numbers
    val golden = scala.io.Source.fromFile(
      "/root/reference/data/processed/country_summary.csv").getLines().toSeq
    val header = golden.head.split(",", -1).toSeq
    val rows = golden.tail.filter(_.nonEmpty)
    val yearIdx = header.indexOf("year")
    val isoIdx = header.indexOf("iso3")
    val years = rows.map(_.split(",", -1)(yearIdx).toInt)
    val stats = spark.read.json(s"$out/stats.json").first()
    assert(stats.getAs[Long]("total_records") == rows.size)
    assert(stats.getAs[String]("year_range") == s"${years.min}-${years.max}")
    assert(stats.getAs[Long]("countries_count") ==
      rows.map(_.split(",", -1)(isoIdx)).distinct.size)
    // every endpoint file exists and parses as one JSON object
    (Seq("map_data.json", "comparison.json", "yearly_trends.json",
      "countries.json", "stats.json") ++ payloads.keys.filter(_.startsWith("trends/")))
      .foreach { f =>
        assert(Files.exists(Paths.get(out, f)), s"missing payload $f")
        assert(spark.read.json(s"$out/$f").count() == 1, s"$f must be one JSON object")
      }
    // map-data features carry all 10 countries with coordinates
    val map = spark.read.json(s"$out/map_data.json")
    assert(map.select(explode(col("features")).as("f"))
      .filter(col("f.coordinates").isNotNull).count() == 10)
  }

  test("serving payloads: per-country trends match the golden country_trends") {
    val out = Files.createTempDirectory("graft_serve2").toString
    TbServe.writePayloads(spark, TbPipeline.run(spark, tbCsv, popCsv), out)
    val golden = scala.io.Source.fromFile(
      "/root/reference/data/processed/country_trends.csv").getLines().toSeq
    val header = golden.head.split(",", -1).toSeq
    val iso = header.indexOf("iso3")
    val yr = header.indexOf("year")
    val tc = header.indexOf("total_cases")
    val goldenIdn = golden.tail.filter(_.split(",", -1)(iso) == "IDN")
      .map { l => val f = l.split(",", -1)
        (f(yr).toLong, f(tc).toDouble.round) }.toSet
    val served = spark.read.json(s"$out/trends/IDN.json")
      .select(explode(col("trends")).as("t"))
      .select(col("t.year").cast("long"), col("t.total_cases").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1).round)).toSet
    assert(served == goldenIdn, s"served $served != golden $goldenIdn")
  }

  test("S12: writer/reader resolve filesystem URIs via scheme (file:// round-trip)") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val dir = Files.createTempDirectory("graft_scheme").toString
    // Hadoop FileSystem dispatches on the URI scheme: the same writer
    // call serves file://, hdfs://, s3a://... — pinning file:// proves
    // the path-through (no local-path assumptions anywhere in the API).
    Sources.writeFile(df, s"file://$dir/t", "parquet")
    val back = Sources.parquet(spark, s"file://$dir/t")
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("writer caps output file size via maxRecordsPerFile") {
    val docs = Tables.documents(spark, SparkTestSession.sf).coalesce(1)
    val n = docs.count()
    val dir = Files.createTempDirectory("graft_maxrec").toString
    Sources.writeFile(docs, s"$dir/capped", "parquet",
      maxRecordsPerFile = Some(100L))
    val files = new java.io.File(s"$dir/capped").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= (n / 100).toInt,
      s"one coalesced task must still split output: got ${files.length} files for $n rows")
    assert(Sources.parquet(spark, s"$dir/capped").count() == n)
  }
}
