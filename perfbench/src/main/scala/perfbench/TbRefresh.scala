package perfbench

import java.math.{BigDecimal => JBig, RoundingMode}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.{TbHttpServe, TbServe}
import graft.ops.tb.TbPipeline

/** The paper's own traffic: refresh cycles of the TB pipeline over
  * reference-shaped long CSVs, then a closed-loop GET sweep over every
  * route of the HTTP server. */
object TbRefresh {

  val countries: Seq[(String, String)] = Seq(
    "IDN" -> "Indonesia", "KHM" -> "Cambodia",
    "LAO" -> "Lao People's Democratic Republic", "MMR" -> "Myanmar",
    "MYS" -> "Malaysia", "PHL" -> "Philippines", "SGP" -> "Singapore",
    "THA" -> "Thailand", "TLS" -> "Timor-Leste", "VNM" -> "Viet Nam")
  val years: Seq[Int] = 2018 to 2023
  /** Dirty rows added on top of the 240 facts: 6 of each kind. */
  val dirtyPerKind = 6

  /** One clean (country, year) cell of the generated snapshot. */
  final case class Cell(iso3: String, country: String, year: Int,
                        cases: Long, deaths: Long, population: Long) {
    private def rate(n: Long, d: Long, scale: Double, digits: Int): JBig =
      if (d <= 0) JBig.ZERO.setScale(digits)
      else new JBig(java.lang.Double.toString(n.toDouble * scale / d.toDouble))
        .setScale(digits, RoundingMode.HALF_UP)
    def casesPer100k: JBig = rate(cases, population, 100000, 2)
    def deathsPer100k: JBig = rate(deaths, population, 100000, 2)
    def fatalityRate: JBig = rate(deaths, cases, 100, 2)
  }

  /** Writes tb.csv and population.csv under `dir`; returns the clean cells. */
  def writeInputs(seed: Long, dir: String): Seq[Cell] = {
    val rnd = new SplittableRandom(seed ^ 0x7b7b7b7bL)
    val usedCases = scala.collection.mutable.Set.empty[Long]
    val cells = for ((iso, name) <- countries; y <- years) yield {
      var cases = 0L
      while (cases == 0L || usedCases(cases)) cases = 1000L + rnd.nextLong(999000L)
      usedCases += cases
      Cell(iso, name, y, cases, cases / 50 + rnd.nextLong(cases / 5),
        500000L + rnd.nextLong(280000000L))
    }
    def q(s: String) = "\"" + s + "\""
    val facts = cells.flatMap { c =>
      Seq("e_inc_num" -> c.cases.toDouble, "e_inc_100k" -> (1 + rnd.nextInt(600)).toDouble,
        "e_mort_num" -> c.deaths.toDouble, "e_mort_100k" -> (1 + rnd.nextInt(60)).toDouble)
        .map { case (ind, v) =>
          s"${q(c.country)},${c.iso3},SEA,${c.year},$ind,$v" }
    }
    def anyCell = cells(rnd.nextInt(cells.size))
    val dirty = (1 to dirtyPerKind).flatMap { _ =>
      val (a, b, c, d) = (anyCell, anyCell, anyCell, anyCell)
      Seq(
        s"${q(a.country)},${a.iso3},SEA,${a.year},e_mort_num,",
        s"${q(b.country)},${b.iso3},SEA,${b.year},e_inc_num,-${1 + rnd.nextInt(1000)}.0",
        s"${q(c.country)},${c.iso3},SEA,${if (rnd.nextBoolean()) 1995 else 2035},e_inc_num,12.0",
        s"${q(d.country)},${d.iso3},SEA,${d.year},e_tbhiv_prct,${rnd.nextInt(100)}.0")
    }
    val tbRows = shuffle(facts ++ dirty, rnd)
    val popRows = shuffle(cells.map(c =>
      s"${q(c.country)},${c.iso3},${c.year},${c.population}.0") ++
      (1 to dirtyPerKind).map { i =>
        val c = anyCell
        s"${q(c.country)},${c.iso3},${c.year},${if (i % 2 == 0) "" else "-1.0"}"
      }, rnd)
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "tb.csv"),
      ("country,iso3,g_whoregion,year,indicator,value" +: tbRows).asJava)
    Files.write(Paths.get(dir, "population.csv"),
      ("country,iso3,year,population" +: popRows).asJava)
    cells
  }

  private def shuffle[A](xs: Seq[A], rnd: SplittableRandom): Seq[A] = {
    val a = xs.toBuffer
    for (i <- a.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val tr = r.tracer
    val in = r.dir("tb-input")
    val cells = writeInputs(r.seed, in)
    val out = r.dir("tb-out")

    /** One refresh: pipeline, the three product writes, the quality
      * report and the endpoint payloads. */
    def refresh(): Map[String, String] = tr.span("tb.refresh") {
      val p = tr.span("tb.run")(
        TbPipeline.run(spark, s"$in/tb.csv", s"$in/population.csv"))
      tr.span("tb.write.country_summary")(
        TbPipeline.write(p.countrySummary, s"$out/country_summary"))
      tr.span("tb.write.yearly_trends")(
        TbPipeline.write(p.yearlyTrends, s"$out/yearly_trends"))
      tr.span("tb.write.country_trends")(
        TbPipeline.write(p.countryTrends, s"$out/country_trends",
          partitionBy = Seq("year")))
      tr.span("tb.quality")(p.qualityReport.collect())
      tr.span("tb.payloads")(TbServe.writePayloads(spark, p, s"$out/api"))
    }

    r.log("inputs written")
    def attempt() = try r.attempt("tb.refresh")(refresh()) finally {
      // runFrames caches its rated frame; a later cycle would read
      // that cache instead of the CSVs
      spark.catalog.clearCache()
    }
    val first = attempt()
    val warm = (1 to r.steadyOps(perOpS = 5.0, min = 2)).flatMap(_ => attempt())
    val payloads = warm.lastOption.orElse(first).map(_._1).getOrElse(Map.empty[String, String])

    r.log("refresh cycles done")
    val http = HttpSweep.run(payloads, clients = math.min(r.cpus, 4), rounds = 1)
    r.count(http.requests, http.unexpected)

    val checks = Seq(
      "tb.payloads_repeat" -> warm.forall(w => first.exists(_._1 == w._1)),
      "tb.http_bodies" -> (http.unexpected == 0)) ++
      checkProducts(r, out, cells)

    r.log("http sweep and checks done")
    val tracedLayers = if (!tr.enabled) Map.empty[String, Double] else {
      tr.drain()
      val refreshes = tr.named("tb.refresh").drop(1)
      val n = refreshes.size
      def meanS(name: String) = {
        val s = tr.named(name).drop(1)
        if (s.isEmpty) 0.0 else s.map(_.seconds).sum / s.size
      }
      SparkLayer.perOp(refreshes.map(tr.counters).foldLeft(new Counters)(_ add _), n) ++
        Map(
          "tb.run_s" -> meanS("tb.run"),
          "tb.write.country_summary_s" -> meanS("tb.write.country_summary"),
          "tb.write.yearly_trends_s" -> meanS("tb.write.yearly_trends"),
          "tb.write.country_trends_s" -> meanS("tb.write.country_trends"),
          "tb.quality_s" -> meanS("tb.quality"),
          "jvm.cpu_per_op_s" -> Stats.mean(r.cpuSamples("tb.refresh").drop(1)),
          "jvm.jit_per_op_s" -> Stats.mean(r.jitSamples("tb.refresh").drop(1)),
          "tb.payloads_s" -> meanS("tb.payloads"),
          "tb.jobs_per_refresh" -> refreshes.map(tr.counters(_).jobs).sum.toDouble / math.max(n, 1),
          "tb.payloads_jobs" -> tr.named("tb.payloads").drop(1)
            .map(tr.counters(_).jobs).sum.toDouble / math.max(n, 1))
    }
    val layers = tracedLayers ++ Map(
      "http.p50_ms" -> http.p50Ms, "http.p90_ms" -> http.p90Ms,
      "http.requests" -> http.requests.toDouble,
      "http.unexpected_status" -> http.unexpected.toDouble)

    val firstS = first.map(_._2).toSeq
    val warmS = warm.map(_._2)
    val cpuS = r.cpuSamples("tb.refresh")
    val workS = r.workCpuSamples("tb.refresh")
    Outcome(checks,
      first = Metric("first_s", "s", firstS),
      op = Metric("op_s", "s", warmS),
      firstCpu = Metric("first_cpu_nojit_s", "s", workS.take(firstS.size)),
      opCpu = Metric("op_cpu_nojit_s", "s", workS.drop(firstS.size), mean = true),
      named = Seq(Metric("tb_first_refresh_s", "s", firstS),
        Metric("tb_refresh_s", "s", warmS),
        Metric("http_request_ms", "ms", http.latenciesMs),
        Metric("first_cpu_s", "s", cpuS.take(firstS.size)),
        Metric("op_cpu_s", "s", cpuS.drop(firstS.size), mean = true)),
      layers = layers)
  }

  /** Products on disk equal values computed from the generated cells. */
  private def checkProducts(r: Run, out: String, cells: Seq[Cell]): Seq[(String, Boolean)] = {
    val spark = r.spark
    def rows(name: String): Seq[Row] = spark.read.parquet(s"$out/$name").collect().toSeq
    def dec(row: Row, f: String): JBig = row.getAs[JBig](f)
    def eq(a: JBig, b: JBig) = a.compareTo(b) == 0
    def cellOk(row: Row, c: Cell): Boolean =
      row.getAs[String]("country") == c.country &&
        row.getAs[Double]("total_cases") == c.cases.toDouble &&
        row.getAs[Double]("new_cases") == 0.0 &&
        row.getAs[Double]("deaths") == c.deaths.toDouble &&
        eq(dec(row, "total_cases_per_100k"), c.casesPer100k) &&
        eq(dec(row, "new_cases_per_100k"), JBig.ZERO) &&
        eq(dec(row, "deaths_per_100k"), c.deathsPer100k)
    val byKey = cells.map(c => (c.iso3, c.year) -> c).toMap
    val latest = cells.map(_.year).max

    def summaryOk = {
      val summary = rows("country_summary")
      summary.size == countries.size && summary.forall { row =>
      byKey.get((row.getAs[String]("iso3"), row.getAs[Int]("year"))).exists { c =>
        c.year == latest && cellOk(row, c) &&
          row.getAs[Long]("population") == c.population &&
          eq(dec(row, "case_fatality_rate"), c.fatalityRate) &&
          eq(dec(row, "new_case_rate"), JBig.ZERO)
        }
      }
    }
    def trendsOk = {
      val trends = rows("country_trends")
      trends.size == cells.size &&
        trends.map(row => (row.getAs[String]("iso3"), row.getAs[Int]("year"))).toSet == byKey.keySet &&
        trends.forall(row => cellOk(row, byKey((row.getAs[String]("iso3"), row.getAs[Int]("year")))))
    }
    def yearlyOk = {
      val yearly = rows("yearly_trends")
      yearly.size == years.size && yearly.forall { row =>
      val cs = cells.filter(_.year == row.getAs[Int]("year"))
      def mean(xs: Seq[JBig]) =
        xs.reduce(_ add _).divide(JBig.valueOf(xs.size.toLong), 6, RoundingMode.HALF_UP)
      cs.nonEmpty &&
        row.getAs[Double]("total_cases_region") == cs.map(_.cases).sum.toDouble &&
        row.getAs[Double]("deaths_region") == cs.map(_.deaths).sum.toDouble &&
        row.getAs[Long]("total_population") == cs.map(_.population).sum &&
        eq(dec(row, "avg_cases_per_100k"), mean(cs.map(_.casesPer100k))) &&
        eq(dec(row, "avg_case_fatality_rate"), mean(cs.map(_.fatalityRate)))
      }
    }
    Seq(r.check("tb.country_summary")(summaryOk), r.check("tb.country_trends")(trendsOk),
      r.check("tb.yearly_trends")(yearlyOk))
  }
}

/** Closed-loop GET sweep: each client sends its next request when the
  * previous reply has arrived, over every route of the server. */
object HttpSweep {
  final case class Result(requests: Long, unexpected: Long, latenciesMs: Seq[Double]) {
    def p50Ms: Double = if (latenciesMs.isEmpty) 0.0 else Stats.percentile(latenciesMs, 50)
    def p90Ms: Double = if (latenciesMs.isEmpty) 0.0 else Stats.percentile(latenciesMs, 90)
  }

  private val health = """{"status":"healthy","service":"graft TB Data API"}"""
  private val notFound = """{"error":"Endpoint not found"}"""

  /** (path, expected status, expected body) for every route. */
  def routes(payloads: Map[String, String]): Seq[(String, Int, String)] = {
    val named = Seq("/api/map-data" -> "map_data.json",
      "/api/comparison" -> "comparison.json",
      "/api/yearly-trends" -> "yearly_trends.json",
      "/api/countries" -> "countries.json", "/api/stats" -> "stats.json") ++
      TbRefresh.countries.map { case (iso, _) => s"/api/trends/$iso" -> s"trends/$iso.json" } :+
      ("/api/trends/lao" -> "trends/LAO.json")
    named.map { case (path, file) => (path, 200, payloads.getOrElse(file, "")) } ++ Seq(
      ("/api/health", 200, health),
      ("/api/trends/XYZ", 404, notFound),
      ("/api/unknown", 404, notFound))
  }

  def run(payloads: Map[String, String], clients: Int, rounds: Int): Result = {
    val server = TbHttpServe.start(payloads, 0)
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val table = routes(payloads)
    val pool = Executors.newFixedThreadPool(clients)
    try {
      val tasks = (0 until clients).map { _ =>
        new Callable[(Long, Seq[Double])] {
          def call(): (Long, Seq[Double]) = {
            val client = HttpClient.newBuilder()
              .version(HttpClient.Version.HTTP_1_1).build()
            var bad = 0L
            val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
            for (_ <- 1 to rounds; (path, status, body) <- table) {
              val req = HttpRequest.newBuilder(URI.create(base + path)).GET().build()
              val t0 = System.nanoTime()
              val ok = try {
                val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
                resp.statusCode() == status && resp.body() == body
              } catch { case _: java.io.IOException => false }
              lat += (System.nanoTime() - t0) / 1e6
              if (!ok) bad += 1
            }
            (bad, lat.toSeq)
          }
        }
      }
      val results = pool.invokeAll(tasks.asJava).asScala.map(_.get())
      val lat = results.flatMap(_._2).toSeq
      Result(lat.size.toLong, results.map(_._1).sum, lat)
    } finally {
      pool.shutdown()
      server.stop(0)
    }
  }
}
