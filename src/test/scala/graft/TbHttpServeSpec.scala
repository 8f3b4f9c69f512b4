package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.tb.TbPipeline

/** Integration spec for [[TbHttpServe]]: the server on an ephemeral
  * port must return, byte-for-byte, the payload files
  * [[TbServe.writePayloads]] materializes from the TB fixture — the
  * bodies TbServeSpec pins ARE the HTTP responses (the reference's
  * flask route table, `flask_api_server.py:710-783`). */
class TbHttpServeSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import TbFixture._

  test("every endpoint serves the writePayloads bytes; 404/health per reference") {
    val out = Files.createTempDirectory("graft_http").toString
    val payloads = TbServe.writePayloads(
      spark, TbPipeline.run(spark, tbCsv, popCsv), out)
    val server = TbHttpServe.start(payloads, port = 0)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
          HttpResponse.BodyHandlers.ofString())

      // the five cached endpoints + every per-country trends route:
      // response body == the file writePayloads wrote, byte-for-byte
      val routes = Map(
        "/api/map-data" -> "map_data.json",
        "/api/comparison" -> "comparison.json",
        "/api/yearly-trends" -> "yearly_trends.json",
        "/api/countries" -> "countries.json",
        "/api/stats" -> "stats.json") ++
        payloads.keys.filter(_.startsWith("trends/")).map { f =>
          s"/api/trends/${f.stripPrefix("trends/").stripSuffix(".json")}" -> f
        }
      routes.foreach { case (path, file) =>
        val r = get(path)
        assert(r.statusCode() === 200, s"$path status")
        assert(r.headers().firstValue("Content-Type").orElse("") ===
          "application/json", s"$path content type")
        assert(r.body() === Files.readString(Paths.get(out, file)),
          s"$path body != $file bytes")
      }

      // case-insensitive iso3 (the reference upper-cases the segment)
      val lower = routes.keys.find(_.startsWith("/api/trends/")).get
      assert(get(lower.toLowerCase).body() === get(lower).body())

      // health: 200 and well-formed; unknown routes: flask's 404 body
      assert(get("/api/health").statusCode() === 200)
      assert(get("/api/health").body().contains("\"healthy\""))
      Seq("/api/nope", "/api/trends/XXXX", "/api/trends/ZZ", "/").foreach { p =>
        val r = get(p)
        assert(r.statusCode() === 404, s"$p status")
        assert(r.body() === """{"error":"Endpoint not found"}""", s"$p body")
      }
      // unknown-but-shaped iso3 is a 404 too (no payload to serve)
      assert(get("/api/trends/QQQ").statusCode() === 404)
    } finally server.stop(0)
  }
}
