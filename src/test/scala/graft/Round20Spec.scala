package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-20 hardening pins: the XML-scoped reference decoder, CDATA
  * verbatim-ness, crawl-delay overflow fail-open closure, and RFC
  * 9309 octet-length precedence. */
class Round20Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------ xml_unescape tier

  /** [[graft.functions.HtmlUnescapeCore.xmlUnescape]]: the five
    * predefined entities + numeric character references decode;
    * HTML-only named entities and the HTML5 legacy no-semicolon
    * tier do NOT (XML defines neither). Malformed references pass
    * through untouched — crawl input is untrusted. */
  test("xml_unescape: numeric refs + five predefined only; no HTML tiers") {
    graft.functions.XmlUnescape.register(spark)
    def u(s: String): String =
      Seq(s).toDF("t").selectExpr("xml_unescape(t)").collect()(0).getString(0)
    // the five + both NCR spellings
    assert(u("a&amp;b&lt;c&gt;d&quot;e&apos;f") === "a&b<c>d\"e'f")
    assert(u("x&#38;y&#x26;z") === "x&y&z")
    assert(u("&#x2F;&#47;") === "//")
    // single pass: &amp;lt; is the literal &lt;, never <
    assert(u("&amp;lt;") === "&lt;")
    // HTML named entities beyond the five stay literal in XML
    assert(u("&copy;&nbsp;&eacute;") === "&copy;&nbsp;&eacute;")
    // the HTML5 legacy no-semicolon tier is OFF (html_unescape
    // decodes `&copy 2020`; XML references require the `;`)
    assert(u("&copy 2020 &amp x") === "&copy 2020 &amp x")
    // malformed/overflow numeric refs pass through
    assert(u("&#;&#x;&#xD800;&#1114112;&#junk;") ===
      "&#;&#x;&#xD800;&#1114112;&#junk;")
  }

  // --------------------------------------- sitemap CDATA + NCR decode

  /** The r19 ADVICE double-decode arm, pinned closed: CDATA content
    * is verbatim by XML rules — an entity-shaped `&amp;` inside it
    * must survive as five literal characters — while the non-CDATA
    * branch decodes entities AND numeric character references. */
  test("sitemapParse: CDATA is verbatim (no decode); NCRs decode outside") {
    import graft.operators.Domains
    val xml = "<urlset>" +
      "<url><loc><![CDATA[https://a.org/p?x=1&amp;y=2]]></loc></url>" +
      "<url><loc>https://a.org/q?n=1&#38;m=2&#x26;o=3</loc></url>" +
      "<url><loc>https://a.org/r&copy;</loc></url>" +
      "</urlset>"
    val locs = Domains.sitemapParse(
        Seq(("a.org", xml)).toDF("host", "sitemap_xml"))
      .collect().map(_.getString(2)).toSet
    assert(locs === Set(
      "https://a.org/p?x=1&amp;y=2", // verbatim: CDATA never decodes
      "https://a.org/q?n=1&m=2&o=3", // both NCR spellings decode
      "https://a.org/r&copy;"))      // HTML-only name stays literal
  }

  // ------------------------------------- crawl-delay overflow closure

  /** The r19 ADVICE fail-open edge, pinned closed: a numeric value
    * overflowing decimal(12,3) (≥ 10 integer digits) DROPS like a
    * non-numeric one — it must neither null-poison the min into a
    * (host, null) row (which a coalesce(ms, 0) scheduler reads as
    * "no delay") nor fail the job under ANSI. A host whose only
    * delay overflows emits NO row; one with a sane competing delay
    * keeps it. */
  test("robotsCrawlDelay: overflow values drop, never null rows or ANSI errors") {
    import graft.operators.Domains
    val only = Seq(("x.org",
      "User-agent: *\nCrawl-delay: 9999999999\nAllow: /"))
      .toDF("host", "robots_txt")
    assert(Domains.robotsCrawlDelay(only).count() === 0)
    // leading zeros are VALUE overflow checks, not digit counts: the
    // try_cast parses 0000000000.5 fine, so it survives
    val mixed = Seq(("y.org", Seq(
      "User-agent: *",
      "Crawl-delay: 123456789012345",
      "Crawl-delay: 0000000000.5",
      "Crawl-delay: 2").mkString("\n"))).toDF("host", "robots_txt")
    val got = Domains.robotsCrawlDelay(mixed).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("y.org" -> 500L))
  }

  // ------------------------------------- REP octet-length precedence

  /** RFC 9309 §2.2.2 precedence counts OCTETS of the rule text (r19
    * VERDICT item 6, implemented rather than disclosed). The
    * discriminating case: `Disallow: /café` (5 chars, 6 octets — é
    * is two UTF-8 bytes) vs `Allow: /caf*` (5 chars, 5 octets), both
    * matching the same URL. Character counting TIES them at 5 — and
    * allow wins REP ties — while octet counting picks the disallow
    * outright, so the assertion fails on the pre-r20 matcher. */
  test("robotsDecision: precedence counts octets, not characters") {
    import graft.operators.Domains
    // /café: disallow rule is 5 chars / 6 octets; a same-char-count
    // 5-octet allow rule also matching the URL would WIN under
    // character counting (tie → allow) and LOSE under octet counting
    val rules = Domains.robotsParse(Seq(("x.org", Seq(
      "User-agent: *",
      "Disallow: /café",   // 6 octets, 5 chars
      "Allow: /caf*").mkString("\n"))) // 5 octets, 5 chars, matches too
      .toDF("host", "robots_txt"))
    val out = Domains.robotsDecision(
        Seq("http://x.org/café/menu").toDF("url"), rules)
      .collect()(0)
    assert(out.getAs[Boolean]("allowed") === false,
      "6-octet disallow must outrank the 5-octet allow that would " +
        "tie it on characters")
    assert(out.getAs[String]("matched_prefix") === "/café")
  }

  /** [[graft.operators.Domains.recrawlDecision]]'s scaladoc claims
    * stream-compatibility — a streaming frontier against a STATIC
    * last-fetch table is one stream-static left join + per-row date
    * work, so the same function runs under append mode and emits
    * exactly the batch rows (the sitemapParse/robotsDecision
    * convention, extended to the freshness edge). */
  test("recrawlDecision: streaming frontier vs static state == batch") {
    import graft.operators.Domains
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val lf = Seq(("https://s.org/a", "2026-02-10"),
      ("https://s.org/b", "2026-02-10")).toDF("url", "last_fetch")
    val rows = Seq(
      ("https://s.org/a", "2026-03-01"), // modified
      ("https://s.org/b", "2026-01-01"), // fresh
      ("https://s.org/c", "2026-03-01")) // new
    val ms = MemoryStream[(String, String)]
    val q = Domains.recrawlDecision(
        ms.toDF().toDF("url", "lastmod"), lf)
      .writeStream.format("memory").queryName("recrawl_stream")
      .outputMode("append").start()
    try {
      ms.addData(rows.take(2): _*); q.processAllAvailable()
      ms.addData(rows.drop(2): _*); q.processAllAvailable()
      def key(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getAs[String]("url"), r.getAs[String]("reason"),
          r.getAs[Boolean]("should_fetch"))).toSet
      val streamed = key(spark.table("recrawl_stream").collect())
      val batch = key(Domains.recrawlDecision(
        rows.toDF("url", "lastmod"), lf).collect())
      assert(streamed === batch)
      assert(streamed === Set(
        ("https://s.org/a", "modified", true),
        ("https://s.org/b", "fresh", false),
        ("https://s.org/c", "new", true)))
    } finally q.stop()
  }

  // ------------------------------------------ integer vector kernels

  /** [[graft.functions.IntL2Sq]]/[[graft.functions.IntDot]] ==
    * the `aggregate(zip_with(...))` HOF formulation they replace in
    * the SimilarityInt hot paths (the q43 762-vs-224 cs gap was pure
    * lambda interpretation): fuzz over random bigint vectors incl.
    * negatives and zeros, plus the null-on-length-mismatch contract
    * (zip_with's null-pad behavior) and null inputs. */
  test("int_l2sq / int_dot == HOF aggregate(zip_with) semantics") {
    graft.functions.IntL2Sq.register(spark)
    graft.functions.IntDot.register(spark)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, Array.fill(n)(rnd.nextLong() % 20000L),
        Array.fill(n)(rnd.nextLong() % 20000L))
    }
    val df = rows.toDF("id", "a", "b").selectExpr(
      "id",
      "int_l2sq(a, b) AS n_l2", "int_dot(a, b) AS n_dot",
      "aggregate(zip_with(a, b, (p, q) -> (p - q) * (p - q)), 0L, (x, y) -> x + y) AS h_l2",
      "aggregate(zip_with(a, b, (p, q) -> p * q), 0L, (x, y) -> x + y) AS h_dot")
    df.collect().foreach { r =>
      assert(r.getLong(1) === r.getLong(3), s"l2sq mismatch at id ${r.getLong(0)}")
      assert(r.getLong(2) === r.getLong(4), s"dot mismatch at id ${r.getLong(0)}")
    }
    val edge = Seq((Array(1L, 2L), Array(1L, 2L, 3L)))
      .toDF("a", "b")
      .selectExpr("int_l2sq(a, b) AS l2", "int_dot(a, b) AS d",
        "int_dot(a, cast(null as array<bigint>)) AS nd")
      .collect()(0)
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2),
      "length mismatch and null inputs must yield null")
  }

  // ------------------------------------- rolling sketch active users

  /** [[graft.ops.EventQueries.q209RollingActiveSketch]] vs the exact
    * [[graft.ops.EventQueries.q94RollingActive]]: the routed rolling
    * estimates track the exact DAU/WAU within KMV's error band. The
    * routing is the point — this fixture's ~150-active days sit in
    * HLL's raw small-range hole where the unrouted register estimate
    * read ~10× low (measured r20); the q195 rule sends them to KMV
    * (max 14.3%/10.4% observed at sf0.01, bound set at 25%). */
  test("q209 rolling sketch tracks exact q94 within the routed error band") {
    import graft.ops.EventQueries
    val dir = "/root/testdata/sf0.001"
    val exact = EventQueries.q94RollingActive(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val est = EventQueries.q209RollingActiveSketch(spark, dir).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getString(4))).toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (d, (dau, wau)) =>
      val (de, _, we, _) = est(d)
      assert(math.abs(de - dau).toDouble / dau <= 0.25,
        s"day $d dau: est $de vs exact $dau")
      assert(math.abs(we - wau).toDouble / wau <= 0.25,
        s"day $d wau: est $we vs exact $wau")
    }
  }

  // --------------------------------------------- two-pass profiler

  /** The q83 two-pass-profiler hypothesis, measured and REFUTED
    * (r20): Spark 4's single-distinct rewrite fuses count/min/max
    * into the per-column distinct pre-aggregate, so each of the 11
    * legs already serves ALL its stats from one scan with no Expand
    * — a separate min/max/counts pass could only add a 12th open.
    * This pin makes the refutation load-bearing: if a planner change
    * ever puts an Expand (or a second scan per leg) back into the
    * profiler, the question re-opens loudly instead of silently. */
  test("q83Profile plan: stats fuse into each distinct leg — no Expand, one scan per column") {
    import graft.ops.Relational
    val legs = Relational.q83Profile(spark, "/root/testdata/sf0.001")
    legs.collect() // finalize the AQE plan before reading it
    val finalPlan = legs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!finalPlan.contains("Expand"),
      "the profiler legs must stay Expand-free")
    val scans = "Scan parquet".r.findAllIn(finalPlan).size
    assert(scans === 11,
      s"expected one fused scan per column (11), saw $scans — " +
        "the two-pass variant trade-off needs re-measuring")
  }

  // ----------------------------------------- incremental recrawl gate

  /** [[graft.operators.Domains.recrawlDecision]]'s freshness arms at
    * the edges the q208 oracle fixture can't reach: GARBAGE lastmod
    * degrades to the conservative refetch (never a throw), a
    * datetime-suffixed W3C lastmod compares on its date prefix, and
    * an EQUAL date is fresh (strictly-newer fetches). */
  test("recrawlDecision: garbage lastmod, datetime prefix, equal-date edges") {
    import graft.operators.Domains
    val frontier = Seq(
      ("https://x.org/new", "2026-05-06"),
      ("https://x.org/fresh", "2026-05-05"),
      ("https://x.org/garbage", "not a date"),
      ("https://x.org/datetime", "2026-05-06T08:30:00+00:00"),
      ("https://x.org/absent", null.asInstanceOf[String])
    ).toDF("url", "lastmod")
    val lf = Seq(
      ("https://x.org/fresh", "2026-05-05"),
      ("https://x.org/garbage", "2026-05-05"),
      ("https://x.org/datetime", "2026-05-05"),
      ("https://x.org/absent", "2026-05-05")
    ).toDF("url", "last_fetch")
    val got = Domains.recrawlDecision(frontier, lf).collect()
      .map(r => r.getAs[String]("url").split("/").last ->
        (r.getAs[String]("reason"), r.getAs[Boolean]("should_fetch")))
      .toMap
    assert(got === Map(
      "new" -> ("new", true),
      "fresh" -> ("fresh", false),          // equal date = fresh
      "garbage" -> ("no_lastmod", true),    // unparseable degrades, fetches
      "datetime" -> ("modified", true),     // date prefix of the W3C form
      "absent" -> ("no_lastmod", true)))
  }

  // --------------------------------------- integer-exact ANN family

  import graft.operators.SimilarityInt

  private def vecs(n: Int, dim: Int) = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong, Array.fill(dim)(rnd.nextFloat() - 0.5f)))
      .toDF("vec_id", "embedding")
  }

  /** z coding: ‖z‖² ≈ Scale² for every non-zero vector (the property
    * that makes integer L2² rank like cosine), and zero vectors code
    * to zero instead of dividing by zero. */
  test("SimilarityInt.zCodes: unit-scale norms; zero vectors safe") {
    val z = SimilarityInt.zCodes(vecs(50, 16))
      .withColumn("ss", expr("aggregate(z, 0L, (a, v) -> a + v * v)"))
      .collect()
    val s2 = SimilarityInt.Scale.toLong * SimilarityInt.Scale
    z.foreach { r =>
      val ss = r.getAs[Long]("ss")
      assert(math.abs(ss - s2) < s2 / 100,
        s"norm² $ss should be within 1% of $s2")
    }
    val zero = SimilarityInt.zCodes(
      Seq((0L, Array.fill(8)(0.0f))).toDF("vec_id", "embedding"))
      .collect()(0).getSeq[Long](1)
    assert(zero.forall(_ === 0L))
  }

  /** The Round11 lossless closed form, integer edition: with corpus
    * ≤ ksub and iters=0 every vector IS a codeword, ADC distances
    * are exact, and PQ top-k equals the exact integer-dot ranking. */
  test("pqTopKInt: corpus <= ksub is lossless; equals exact z-dot ranking") {
    val v = vecs(16, 8)
    val z = SimilarityInt.zCodes(v)
    val cb = SimilarityInt.pqTrainInt(z, m = 2, ksub = 16, iters = 0,
      seed = 42L, memoKey = "r20spec:pq_lossless")
    val qz = z.filter(col("vid") < 3)
    val got = SimilarityInt.pqTopKInt(
      SimilarityInt.pqEncodeInt(z, cb), cb, z, qz, k = 5, rerank = 15)
    // exact ranking by integer dot, same tiebreak
    assert(ZDotBaseline.triples(got) ===
      ZDotBaseline.triples(ZDotBaseline.topK(qz, z, 5)))
  }

  /** Partitioning determinism — the property the whole family exists
    * for: identical output at 1, 3, and 8 input partitions (integer
    * arithmetic is associative; seeded draws are value-ordered). */
  test("ivfPqTopKInt and ivfTopKInt: bit-identical across partitionings") {
    val v = vecs(120, 16)
    def run(parts: Int): (Set[(Long, Long, Long)], Set[(Long, Long, Long)]) = {
      val z = SimilarityInt.zCodes(v.repartition(parts))
      val qz = z.filter(col("vid") < 4)
      val pq = SimilarityInt.ivfPqBuildInt(z, nlist = 8, m = 4, ksub = 8,
        iters = 2, seed = 42L, memoKey = s"r20spec:ivfpq:$parts")
      val a = SimilarityInt.ivfPqTopKInt(pq, qz, z, k = 5, nprobe = 4,
        rerank = 15).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val ivf = SimilarityInt.ivfBuildInt(z, nlist = 8, iters = 2,
        seed = 42L, memoKey = s"r20spec:ivf:$parts")
      val b = SimilarityInt.ivfTopKInt(ivf, qz, z, k = 5, nprobe = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      (a, b)
    }
    val (a1, b1) = run(1)
    val (a3, b3) = run(3)
    val (a8, b8) = run(8)
    assert(a1 === a3 && a3 === a8)
    assert(b1 === b3 && b3 === b8)
    assert(a1.nonEmpty && b1.nonEmpty)
  }
}
