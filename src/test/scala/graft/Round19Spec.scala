package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-19 hardening pins. */
class Round19Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------ robots wildcards

  private def decide(robotsTxt: String, urls: Seq[String],
                     host: String = "x.org"): Map[String, (Boolean, Option[String])] = {
    import graft.operators.Domains
    val rules = Domains.robotsParse(
      Seq((host, robotsTxt)).toDF("host", "robots_txt"))
    Domains.robotsDecision(
        urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
          .toDF("doc_id", "url"), rules)
      .collect()
      .map(r => r.getString(r.fieldIndex("url")) ->
        ((r.getBoolean(r.fieldIndex("allowed")),
          Option(r.getString(r.fieldIndex("matched_prefix"))))))
      .toMap
  }

  /** RFC 9309 §2.2.3 pattern grammar, the published examples (the
    * same battery Google documents for its open-source matcher):
    * a trailing `*` is equivalent to the bare prefix, a trailing `$`
    * anchors at the end of path+query, and an interior wildcard
    * crosses path segments. Decisions must come out per the
    * most-specific-match precedence on RAW pattern length. */
  test("robotsDecision: RFC 9309 wildcard examples") {
    val txt = Seq(
      "User-agent: *",
      "Disallow: /fish*",   // == prefix /fish
      "Disallow: /bass$",   // exactly /bass
      "Disallow: /*.php"    // any path containing .php
    ).mkString("\n")
    val out = decide(txt, Seq(
      "http://x.org/fish", "http://x.org/fishheads/yummy.html",
      "http://x.org/Fish.asp", // case-sensitive: no match
      "http://x.org/bass", "http://x.org/bass.html",
      "http://x.org/index.php", "http://x.org/folder/any.php.file",
      "http://x.org/php-home" // ".php" absent: no match
    ))
    assert(out("http://x.org/fish") === ((false, Some("/fish*"))))
    assert(out("http://x.org/fishheads/yummy.html") === ((false, Some("/fish*"))))
    assert(out("http://x.org/Fish.asp") === ((true, None)))
    assert(out("http://x.org/bass") === ((false, Some("/bass$"))))
    assert(out("http://x.org/bass.html") === ((true, None)))
    assert(out("http://x.org/index.php") === ((false, Some("/*.php"))))
    assert(out("http://x.org/folder/any.php.file") === ((false, Some("/*.php"))))
    assert(out("http://x.org/php-home") === ((true, None)))
  }

  /** Precedence: raw pattern length (wildcard bytes counted), allow
    * winning exact ties — so a 7-byte anchored wildcard beats a
    * 4-byte prefix in BOTH directions, and a longer wildcard wins
    * back. A `$` anywhere but last is a literal octet. */
  test("robotsDecision: wildcard-vs-prefix precedence and mid-$ literal") {
    val txt = Seq(
      "User-agent: *",
      "Allow: /p/1",        // len 4
      "Disallow: /p/*9$",   // len 7: beats /p/1 for /p/19
      "Allow: /p/*99$",     // len 8: wins back for /p/199
      "Disallow: /$x"       // mid-$: literal path /$x... prefix
    ).mkString("\n")
    val out = decide(txt, Seq(
      "http://x.org/p/1", "http://x.org/p/19", "http://x.org/p/199",
      "http://x.org/$x/sub", "http://x.org/dollar$x"))
    assert(out("http://x.org/p/1") === ((true, Some("/p/1"))))
    assert(out("http://x.org/p/19") === ((false, Some("/p/*9$"))))
    assert(out("http://x.org/p/199") === ((true, Some("/p/*99$"))))
    assert(out("http://x.org/$x/sub") === ((false, Some("/$x"))))
    assert(out("http://x.org/dollar$x") === ((true, None)))
  }

  /** LIKE-metacharacter escaping: `%`, `_`, and `\` in a rule are
    * DATA. An unescaped `_` would match any octet and an unescaped
    * `%` any run — both must match only themselves, in wildcard
    * rules (the LIKE path) as in plain ones (the startsWith path). */
  test("robotsDecision: literal %, _ and backslash never act as wildcards") {
    val txt = Seq(
      "User-agent: *",
      "Disallow: /a_b*",     // _ literal inside a wildcard rule
      "Disallow: /p%25*",    // % literal (an encoded-% path)
      "Disallow: /w\\d*"     // backslash literal
    ).mkString("\n")
    val out = decide(txt, Seq(
      "http://x.org/a_b/c",  // matches: literal _
      "http://x.org/axb/c",  // must NOT match (_ is not any-octet)
      "http://x.org/p%25q",  // matches: literal %
      "http://x.org/pXq",    // must NOT match (% is not any-run)
      "http://x.org/w\\d9",  // matches: literal backslash
      "http://x.org/wd9"     // must NOT match
    ))
    assert(out("http://x.org/a_b/c") === ((false, Some("/a_b*"))))
    assert(out("http://x.org/axb/c") === ((true, None)))
    assert(out("http://x.org/p%25q") === ((false, Some("/p%25*"))))
    assert(out("http://x.org/pXq") === ((true, None)))
    assert(out("http://x.org/w\\d9") === ((false, Some("/w\\d*"))))
    assert(out("http://x.org/wd9") === ((true, None)))
  }

  /** The LIKE translation, fuzz-pinned against an independent
    * reference matcher (quote-split-on-`*`, join with `.*`, trailing
    * `$` anchors — the direct RFC reading in java.util.regex): 300
    * seeded random (pattern, path) pairs over an alphabet that
    * includes every LIKE metacharacter (`%`, `_`, `\`), the REP
    * specials (`*`, `$`), and URL punctuation — every disagreement
    * between the engine's match and the reference is a translation
    * bug by construction. */
  test("robotsDecision match == reference regex matcher on random patterns") {
    import graft.operators.Domains
    val rng = new scala.util.Random(42)
    val alphabet = "ab/9%_$*.\\?"
    def rand(n: Int, allowStar: Boolean): String =
      (0 until n).map { _ =>
        val c = alphabet(rng.nextInt(alphabet.length))
        if (!allowStar && (c == '*')) 'a' else c
      }.mkString
    def refMatch(pattern: String, path: String): Boolean = {
      val anchored = pattern.endsWith("$")
      val body = if (anchored) pattern.dropRight(1) else pattern
      val rx = body.split("\\*", -1)
        .map(s => if (s.isEmpty) "" else java.util.regex.Pattern.quote(s))
        .mkString(".*")
      path.matches("(?s)" + rx + (if (anchored) "" else ".*"))
    }
    val cases = (0 until 300).map { i =>
      val pattern = "/" + rand(rng.nextInt(7), allowStar = true)
      val path = "/" + rand(rng.nextInt(9), allowStar = false)
        .replace("?", if (i % 2 == 0) "?" else "a") // both regimes
      (i.toLong, pattern, path)
    }
    val rules = cases.map { case (i, p, _) => (s"h$i.org", p, false) }
      .toDF("host", "path_prefix", "allow")
    val pages = cases.map { case (i, _, path) =>
      (i, s"http://h$i.org$path") }.toDF("doc_id", "url")
    val got = Domains.robotsDecision(pages, rules).collect()
      .map(r => r.getLong(0) -> !r.getBoolean(2)).toMap // matched ⇔ disallowed
    cases.foreach { case (i, pattern, path) =>
      assert(got(i) === refMatch(pattern, path),
        s"translation disagreement: pattern=$pattern path=$path")
    }
  }

  /** Rules match PATH + QUERY (the portion mainstream REP matchers
    * test): a plain `Disallow: /search?q=` prefix rule must hit
    * `/search?q=x`, an anchored wildcard must anchor at the END of
    * the query, the fragment never participates, and a URL with no
    * path but a query matches as `/?query`. */
  test("robotsDecision: path+query matching, fragment excluded") {
    val txt = Seq(
      "User-agent: *",
      "Disallow: /search?q=",
      "Disallow: /*&debug$",
      "Disallow: /?tracked"
    ).mkString("\n")
    val out = decide(txt, Seq(
      "http://x.org/search?q=pii",       // prefix hits path+query
      "http://x.org/search",             // bare path: no match
      "http://x.org/list?a=1&debug",     // anchored at query end
      "http://x.org/list?a=1&debug=0",   // not at end: no match
      "http://x.org/page#frag?q=nope",   // fragment is not query
      "http://x.org?tracked=1"           // no path: matches as /?...
    ))
    assert(out("http://x.org/search?q=pii") === ((false, Some("/search?q="))))
    assert(out("http://x.org/search") === ((true, None)))
    assert(out("http://x.org/list?a=1&debug") === ((false, Some("/*&debug$"))))
    assert(out("http://x.org/list?a=1&debug=0") === ((true, None)))
    assert(out("http://x.org/page#frag?q=nope") === ((true, None)))
    assert(out("http://x.org?tracked=1") === ((false, Some("/?tracked"))))
  }

  /** The r18 ADVICE high finding, pinned closed: a CRLF robots.txt
    * (RFC 9309 §2.1 grants CRLF; most servers send it) must parse to
    * the SAME rules as its LF twin — the bare-`\n` split left `\r`
    * on every value, matched no group, and silently default-allowed
    * the whole host. Tab whitespace around values is §2.1 WS too. */
  test("robotsParse: CRLF files and tab whitespace parse like LF/space") {
    import graft.operators.Domains
    val lf = "User-agent: *\nAllow: /a\nDisallow: /a/b"
    val crlf = lf.replace("\n", "\r\n")
    val tabs = "User-agent:\t*\nAllow:\t/a\t\nDisallow:\t/a/b\t"
    def rules(txt: String) = Domains.robotsParse(
        Seq(("x.org", txt)).toDF("host", "robots_txt"))
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSet
    val want = Set(("/a", true), ("/a/b", false))
    assert(rules(lf) === want)
    assert(rules(crlf) === want, "CRLF file must parse identically")
    assert(rules(tabs) === want, "tab WS must trim like spaces")
  }

  /** The r18 ADVICE host-normalization finding, pinned closed: a
    * fetcher recording `WWW.X.ORG` must still govern pages whose URL
    * says `www.x.org` — robotsParse lowercases its host column to
    * meet robotsDecision's lowercased uriHost join key. And the
    * page-side twin: an UPPERCASE-scheme URL (`HTTP://…`) must match
    * on its real path, not a silently-defaulted `/` (the path regex
    * accepts scheme case like uriHost does). */
  test("robotsParse: mixed-case host joins lowercased page hosts") {
    import graft.operators.Domains
    val rules = Domains.robotsParse(Seq(("WWW.X.ORG",
      "User-agent: *\nDisallow: /priv")).toDF("host", "robots_txt"))
    val out = Domains.robotsDecision(
        Seq((1L, "http://www.x.org/priv/a"),
          (2L, "HTTP://WWW.X.ORG/priv/b")).toDF("doc_id", "url"), rules)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), Option(r.getString(3))))).toMap
    assert(out(1L) === ((false, Some("/priv"))))
    assert(out(2L) === ((false, Some("/priv"))),
      "uppercase scheme must not default the path")
  }

  // ------------------------------------------- lshBandsFor as behavior

  /** [[graft.operators.Dedup.minHashPairs]]' band dial is now the
    * [[graft.operators.Dedup.lshBandsFor]] helper (r19): the deployed
    * q35 shape (16 hashes, 600‰) must derive the same 4 bands the
    * dial was hand-set to, and the derived-default run must emit
    * exactly the explicit-dial rows. */
  test("minHashPairs default band dial == lshBandsFor == the deployed 4") {
    import graft.operators.Dedup
    assert(Dedup.lshBandsFor(16, 600) === 4)
    val docs = (0L until 24L).map { i =>
      val base = (0 until 12).map(j => s"w${(i / 2) * 100 + j}")
      (i, (if (i % 2 == 1) base.updated(11, "tail") else base).mkString(" "))
    }.toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val derived = key(Dedup.minHashPairs(docs, k = 3, numHashes = 16,
      threshold = 0.6))
    val explicit = key(Dedup.minHashPairs(docs, k = 3, numHashes = 16,
      bands = Some(4), threshold = 0.6))
    assert(derived === explicit)
    assert(derived.nonEmpty, "fixture should contain planted near-dups")
  }

  /** [[graft.operators.Domains.robotsCrawlDelay]] — the politeness
    * budget rides the SAME §2.2.1 group selection as the path rules:
    * a crawler with its own group takes ITS delay (not the `*`
    * one), unknown crawlers fall back to `*`, stacked `*` groups
    * resolve to the conservative MIN, fractional seconds convert to
    * exact milliseconds, non-numeric values drop, and a host with no
    * delay emits NO row. */
  test("robotsCrawlDelay: group selection, fractional seconds, min across blocks") {
    import graft.operators.Domains
    val txt = Seq(
      "User-agent: fastbot",
      "Crawl-delay: 0.25",
      "User-agent: *",
      "Crawl-delay: 1.5",
      "Crawl-delay: bogus",
      "User-agent: *",
      "Crawl-delay: 3"
    ).mkString("\n")
    val robots = Seq(("x.org", txt)).toDF("host", "robots_txt")
    def ms(agent: String) = Domains.robotsCrawlDelay(robots, agent = agent)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ms("*") === Map("x.org" -> 1500L))
    assert(ms("fastbot") === Map("x.org" -> 250L))
    assert(ms("nobot") === Map("x.org" -> 1500L))
    assert(Domains.robotsCrawlDelay(
      Seq(("y.org", "User-agent: *\nDisallow: /a"))
        .toDF("host", "robots_txt")).count() === 0)
  }

  // ------------------------------------------- README counts generated

  /** The README's registry/test counts drift at this cadence (r18's
    * COVERAGE table said "six" while the catalog held 29 — fixed by
    * generation; same convention here, r19): the stated query count
    * must equal `SparkEntry.queries.size`, the oracle-backed count
    * `SparkEntry.oracleSql.size`, and the stated test count the
    * number of `test(` declarations under src/test — so a round that
    * adds a query or a spec without touching the README fails CI
    * instead of shipping a stale number. */
  test("README counts == SparkEntry registry + declared test count") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val readme = new String(Files.readAllBytes(Paths.get("README.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    val reg = """(\d+) registered\s+queries, (\d+) DuckDB-oracle-backed"""
      .r.findFirstMatchIn(readme)
    assert(reg.isDefined, "README must state the registry counts")
    assert(reg.get.group(1).toInt === SparkEntry.queries.size,
      "README registered-query count is stale")
    assert(reg.get.group(2).toInt === SparkEntry.oracleSql.size,
      "README oracle-backed count is stale")
    val declared = Files.list(Paths.get("src/test/scala/graft")).iterator
      .asScala.filter(_.toString.endsWith(".scala"))
      .map(p => "(?m)^\\s*test\\(".r
        .findAllIn(new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)).size)
      .sum
    val tc = """(\d+) tests""".r.findFirstMatchIn(readme)
    assert(tc.isDefined, "README must state the test count")
    assert(tc.get.group(1).toInt === declared,
      s"README test count is stale (declared: $declared)")
  }

  /** [[graft.operators.Domains.robotsSitemaps]] — the `Sitemap:`
    * directive is GLOBAL: it must emit from before any group AND
    * from inside a specific-agent group (no group selection), keep
    * duplicate declarations verbatim, strip trailing comments, and
    * drop empty values — and its presence between stacked
    * user-agent lines must not leak rules across groups. */
  test("robotsSitemaps: global directive, group-independent, comments strip") {
    import graft.operators.Domains
    val txt = Seq(
      "Sitemap: https://x.org/pre.xml",
      "User-agent: gptbot",
      "Sitemap: https://x.org/inner.xml # note",
      "Disallow: /",
      "User-agent: *",
      "Allow: /",
      "Sitemap: https://x.org/pre.xml", // duplicate kept
      "Sitemap:"
    ).mkString("\n")
    val robots = Seq(("x.org", txt)).toDF("host", "robots_txt")
    val urls = Domains.robotsSitemaps(robots).collect()
      .map(r => r.getString(1)).sorted.toSeq
    assert(urls === Seq("https://x.org/inner.xml", "https://x.org/pre.xml",
      "https://x.org/pre.xml"))
    // the star view's RULES are untouched by the interleaved sitemap
    // lines: the gptbot group's Disallow never leaks into *
    val rules = Domains.robotsParse(robots).collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(rules === Set(("/", true)))
  }

  // ------------------------------------------------ sitemap frontier

  /** [[graft.operators.Domains.sitemapParse]] row-level: urlset
    * entries come back kind='url' and index entries kind='sitemap';
    * a CDATA loc keeps its raw `&`; the five XML entities decode
    * with `&amp;` last (so `&amp;lt;` yields the literal `&lt;`,
    * never `<`); whitespace around loc trims; junk tags
    * (priority/changefreq) are ignored; an entry without a loc
    * drops; a missing lastmod is null, not empty. */
  test("sitemapParse: urlset vs index, CDATA, entity order, junk tags") {
    import graft.operators.Domains
    val urlset = Seq(
      "<?xml version=\"1.0\" encoding=\"UTF-8\"?>",
      "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">",
      "<url><loc>\n  https://a.org/p?x=1&amp;y=2\n</loc>" +
        "<lastmod>2026-01-02</lastmod><priority>0.8</priority></url>",
      "<url><loc><![CDATA[https://a.org/raw?a&b]]></loc></url>",
      "<url><changefreq>daily</changefreq></url>",
      "<url><loc>https://a.org/amp&amp;lt;</loc></url>",
      "</urlset>").mkString("\n")
    val index = "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
      "<sitemap><loc>https://b.org/sm/1.xml</loc>" +
      "<lastmod>2025-12-31</lastmod></sitemap></sitemapindex>"
    // comments strip before everything: a leading comment naming the
    // OTHER root must not flip the kind, and a commented-out entry
    // must not parse
    val decoy = "<!-- converted from <sitemapindex> --><urlset>" +
      "<!-- <url><loc>https://c.org/old</loc></url> -->" +
      "<url><loc>https://c.org/p</loc></url></urlset>"
    val out = Domains.sitemapParse(
        Seq(("a.org", urlset), ("b.org", index), ("c.org", decoy))
          .toDF("host", "sitemap_xml"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        Option(r.getString(3)))).toSet
    assert(out === Set(
      ("a.org", "url", "https://a.org/p?x=1&y=2", Some("2026-01-02")),
      ("a.org", "url", "https://a.org/raw?a&b", None),
      ("a.org", "url", "https://a.org/amp&lt;", None),
      ("b.org", "sitemap", "https://b.org/sm/1.xml", Some("2025-12-31")),
      ("c.org", "url", "https://c.org/p", None)))
  }

  /** The scaladoc's partition-bound claim, exercised at the
    * protocol's own cap: ONE host publishing a 50,000-URL urlset
    * (the sitemaps.org single-file maximum) parses completely in one
    * per-row pass — and adversarial markup degrades row-wise, never
    * as a task failure: an unclosed entry is dropped, an entry whose
    * loc tag never closes is dropped, trailing junk after the root
    * is ignored. */
  test("sitemapParse: 50k-entry file parses; malformed entries drop row-wise") {
    import graft.operators.Domains
    val big = (0 until 50000).map(i =>
      s"<url><loc>https://big.org/p/$i</loc></url>").mkString(
      "<urlset>", "", "</urlset>")
    val bigOut = Domains.sitemapParse(
      Seq(("big.org", big)).toDF("host", "sitemap_xml"))
    assert(bigOut.count() === 50000L)
    assert(bigOut.agg(countDistinct(col("loc"))).collect()(0).getLong(0)
      === 50000L)
    val mangled = "<urlset>" +
      "<url><loc>https://m.org/ok</loc></url>" +
      "<url><loc>https://m.org/unclosed-loc</url>" + // loc never closes
      "<url><loc>https://m.org/unclosed-entry</loc>" + // entry never closes
      "</urlset>junk after root"
    val rows = Domains.sitemapParse(
        Seq(("m.org", mangled)).toDF("host", "sitemap_xml"))
      .collect().map(_.getString(2)).toSet
    assert(rows === Set("https://m.org/ok"))
  }

  /** [[graft.operators.Domains.sitemapParse]] is pure per-row
    * expression work (explode + regexp, no state), so the SAME
    * function runs under Structured Streaming append mode and emits
    * exactly the batch rows — the frontier half of a streaming crawl
    * loop (the robotsDecision convention). */
  test("sitemapParse: streaming append mode == batch, same function") {
    import graft.operators.Domains
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = Seq(("a.org",
      "<urlset><url><loc>https://a.org/1</loc></url>" +
        "<url><loc>https://a.org/2</loc><lastmod>2026-02-03</lastmod></url></urlset>"))
    val b2 = Seq(("b.org",
      "<sitemapindex><sitemap><loc>https://b.org/sm/9.xml</loc></sitemap></sitemapindex>"))
    val ms = MemoryStream[(String, String)]
    val q = Domains.sitemapParse(ms.toDF().toDF("host", "sitemap_xml"))
      .writeStream.format("memory").queryName("sitemap_stream")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        (r.getString(0), r.getString(1), r.getString(2),
          Option(r.getString(3)))).toSet
      val streamed = key(spark.table("sitemap_stream").collect())
      val batch = key(Domains.sitemapParse(
        (b1 ++ b2).toDF("host", "sitemap_xml")).collect())
      assert(streamed === batch)
      assert(streamed.size === 3)
      assert(streamed.contains(
        ("b.org", "sitemap", "https://b.org/sm/9.xml", None)))
    } finally q.stop()
  }

  /** The whole crawl loop as ONE streaming pipeline — sitemap XML
    * stream → [[graft.operators.Domains.sitemapParse]] → leaf filter
    * → [[graft.operators.Domains.robotsDecision]] (stream-static
    * against the parsed rule table): every stage is stateless
    * per-row work, so the composition runs under append mode and
    * emits exactly the batch rows — the q204 shape with a stream at
    * the front. */
  test("sitemap→robots crawl loop: streaming composition == batch") {
    import graft.operators.Domains
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rules = Domains.robotsParse(Seq(("a.org",
      "User-agent: *\nDisallow: /p/*9$\nAllow: /")).toDF("host", "robots_txt"))
    def loop(sitemaps: org.apache.spark.sql.DataFrame) =
      Domains.robotsDecision(
        Domains.sitemapParse(sitemaps).filter(col("kind") === "url")
          .select(col("loc").as("url")),
        rules)
    val batches = Seq(
      Seq(("a.org", "<urlset><url><loc>https://a.org/p/19</loc></url>" +
        "<url><loc>https://a.org/p/2</loc></url></urlset>")),
      Seq(("a.org", "<urlset><url><loc>https://a.org/p/90</loc></url></urlset>")))
    val ms = MemoryStream[(String, String)]
    val q = loop(ms.toDF().toDF("host", "sitemap_xml"))
      .writeStream.format("memory").queryName("crawl_loop")
      .outputMode("append").start()
    try {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        r.getString(r.fieldIndex("url")) ->
          r.getBoolean(r.fieldIndex("allowed"))).toMap
      val streamed = key(spark.table("crawl_loop").collect())
      val batch = key(loop(batches.flatten.toDF("host", "sitemap_xml")).collect())
      assert(streamed === batch)
      assert(streamed === Map(
        "https://a.org/p/19" -> false, // anchored wildcard hit
        "https://a.org/p/2" -> true,
        "https://a.org/p/90" -> true)) // ends 0, not 9
    } finally q.stop()
  }

  // -------------------------------------- graph incremental levers

  /** [[graft.operators.Graph.coreness]] against an independent
    * full-recompute h-index reference, on hash-derived random graphs
    * at EVERY intermediate round count — the randomized pin the
    * kTruss spec set as convention, written while A/B-ing the r19
    * frontier-recompute variant (measured slower on the dense
    * deployed graph and refuted — see coreness's scaladoc; this spec
    * stays as the random-graph correctness gate either way). */
  test("coreness rounds == synchronous reference on random graphs") {
    import graft.operators.Graph
    val pairs = for {
      a <- 0 until 50; b <- (a + 1) until 50
      if (a * 2654435761L + b * 1315423911L) % 89 < 18
    } yield (a.toLong, b.toLong)
    val adj = {
      val m = scala.collection.mutable.Map[Long, Set[Long]]()
        .withDefaultValue(Set.empty)
      pairs.foreach { case (x, y) => m(x) += y; m(y) += x }
      m
    }
    def hIndex(vals: Seq[Long]): Long = {
      val sorted = vals.sortBy(-_)
      sorted.zipWithIndex.map { case (v, i) => math.min(v, i + 1L) }
        .foldLeft(0L)(math.max)
    }
    def reference(iters: Int): Map[Long, Long] = {
      var c: Map[Long, Long] = adj.map { case (v, ns) => v -> ns.size.toLong }.toMap
      for (_ <- 1 to iters)
        c = c.map { case (v, _) => v -> hIndex(adj(v).toSeq.map(c)) }
      c
    }
    val df = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    for (it <- Seq(1, 2, 3, 6)) {
      val got = Graph.coreness(df, iters = it).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === reference(it), s"divergence at iters=$it")
    }
  }

  /** The r19 shared-projection law: a floor-32 co-engagement graph
    * derived from the floor-22 frame's exact n_shared column must
    * equal the direct floor-32 projection — the monotone-derivation
    * argument q202 now rides to reuse the q198/q201 memo instead of
    * paying its own projection join. */
  test("coEngagementEdgesShared: floor filter == direct projection") {
    import graft.operators.Graph
    val ev = spark.range(40).select(col("id").as("user_id"),
        explode(expr(
          "transform(sequence(1, 14), j -> pmod(xxhash64(id * 17 + j * 13), 24))"))
          .as("kv"))
      .select(col("user_id"),
        concat(lit("{\"k\": "), col("kv"), lit("}")).as("props"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = key(Graph.coEngagementEdgesShared(ev, minShared = 7L)
      .select("src", "dst"))
    val derived = key(Graph.coEngagementEdgesShared(ev, minShared = 4L)
      .filter(col("n_shared") >= 7L).select("src", "dst"))
    assert(direct === derived)
    assert(direct.nonEmpty, "fixture should project edges above the floor")
    // and the attached count IS the exact intersection: replaying the
    // floor at its own level must reproduce the base frame
    val base = key(Graph.coEngagementEdgesShared(ev, minShared = 4L)
      .filter(col("n_shared") >= 4L).select("src", "dst"))
    assert(base === key(Graph.coEngagementEdgesShared(ev, minShared = 4L)
      .select("src", "dst")))
  }
}
