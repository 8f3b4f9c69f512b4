package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GzipArchiveCore
import graft.operators.{Bpe, SimilarityInt}
import graft.sources.WebArchive

/** Round-12 closures of the round-11 advice items (WET ingest must
  * quarantine — never throw — on non-UTF-8 payloads, non-ASCII
  * headers, and null archive payloads; PQ must reject non-divisible
  * dims in-plan) plus the q170 deploy-path equivalence: the
  * dictionary-join [[Bpe.encodeStats]] must produce exactly the
  * per-occurrence [[Bpe.encode]] fold's stats.
  */
class Round12Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def wetRecordBytes(uri: String, body: Array[Byte]): Array[Byte] = {
    val hdr = s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n"
    hdr.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
  }

  // ------------------------------------------- non-UTF-8 payloads (advice high)

  test("wetRecords: a CRC-valid member with a binary (non-UTF-8) payload quarantines, not aborts") {
    // 0xFF 0xFE 0x80 is not valid UTF-8 anywhere; before the fix the
    // validating decode() threw MALFORMED_CHARACTER_CODING and killed
    // the whole job — the exact opposite of "corruption is data". The
    // byte-level parser now classifies it structurally: no WARC magic.
    val binary = Array[Byte](0xff.toByte, 0xfe.toByte, 0x80.toByte, 0x41, 0x42)
    val arc =
      GzipArchiveCore.gzipMember(binary) ++
        GzipArchiveCore.gzipMember(wetRecordBytes("https://e.org/doc/1",
          "kept after the binary member".getBytes("UTF-8")))
    val df = Seq(("arc-1", arc)).toDF("archive", "payload")
    val got = WebArchive.wetDocuments(df)
      .select($"member_index", $"target_uri", $"text", $"quarantine")
      .as[(Int, Option[String], Option[String], Option[String])]
      .collect().sortBy(_._1).toSeq
    assert(got.size == 2)
    assert(got(0)._4.contains("not a WARC record") && got(0)._3.isEmpty)
    assert(got(1) == ((1, Some("https://e.org/doc/1"),
      Some("kept after the binary member"), None)))
  }

  test("wetRecords: a WARC-shaped header followed by a non-UTF-8 BODY quarantines at the text layer") {
    // valid ASCII headers, binary body — the response-record shape a
    // real WARC (not WET) crawl file carries; the TEXT pipeline
    // quarantines it (the ASSET pipeline, warcAssets, routes it)
    val body = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0xc0.toByte)
    val arc = GzipArchiveCore.gzipMember(wetRecordBytes("u", body))
    val got = WebArchive.wetDocuments(
      Seq(("arc-1", arc)).toDF("archive", "payload"))
      .select($"text", $"quarantine")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got.size == 1 && got.head._1.isEmpty &&
      got.head._2.contains("body is not valid UTF-8 text"))
  }

  // --------------------------------------- non-ASCII headers (advice low)

  test("wetRecords: a multi-byte UTF-8 header value parses with an UNSHEARED body slice") {
    // WARC 1.0 permits UTF-8 header values, and they are safe here
    // because hdr_end is a BYTE offset consumed by a BINARY substring:
    // 'ü'/'ß' each add a byte of char/byte skew that a char-indexed
    // split would transfer to the body slice — the byte-level split
    // must not (r12 quarantined these outright; the r12 advice pass
    // flagged that as over-rejection of legitimate crawl records)
    val body = "unsheared body".getBytes("UTF-8")
    val hdr = s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Target-URI: https://e.org/süß\r\nContent-Length: ${body.length}\r\n\r\n"
    val arc = GzipArchiveCore.gzipMember(
      hdr.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8"))
    val got = WebArchive.wetDocuments(
      Seq(("arc-1", arc)).toDF("archive", "payload"))
      .select($"target_uri", $"text", $"quarantine")
      .as[(Option[String], Option[String], Option[String])].collect().toSeq
    assert(got == Seq((Some("https://e.org/süß"),
      Some("unsheared body"), None)))
  }

  test("wetRecords: an INVALID-UTF-8 header byte quarantines — undecodable headers stay out") {
    val body = "b".getBytes("UTF-8")
    val good = s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Target-URI: https://e.org/x\r\nContent-Length: ${body.length}\r\n\r\n"
    val raw = good.getBytes("UTF-8")
    raw(raw.indexOf('x'.toInt)) = 0xC3.toByte // dangling UTF-8 lead byte
    val arc = GzipArchiveCore.gzipMember(raw ++ body ++ "\r\n\r\n".getBytes("UTF-8"))
    val got = WebArchive.wetDocuments(
      Seq(("arc-1", arc)).toDF("archive", "payload"))
      .select($"text", $"quarantine")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq((None, Some("invalid UTF-8 in header"))))
  }

  test("wetRecords: a Content-Length slicing mid-UTF-8-sequence quarantines, not mojibake") {
    // body is 'é' (2 bytes) but Content-Length claims 1 — the binary
    // slice ends inside the sequence, so the text layer rejects it
    val body = "é".getBytes("UTF-8")
    val hdr = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: u\r\n" +
      "Content-Length: 1\r\n\r\n"
    val arc = GzipArchiveCore.gzipMember(
      hdr.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8"))
    val got = WebArchive.wetDocuments(
      Seq(("arc-1", arc)).toDF("archive", "payload"))
      .select($"text", $"quarantine")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq((None, Some("body is not valid UTF-8 text"))))
  }

  test("warcAssets: binary response bodies ROUTE as assets byte-identically, they don't quarantine") {
    // a PNG-magic body full of invalid-UTF-8 bytes and a gzip-magic
    // body: the text pipeline quarantines both; the asset pipeline
    // must deliver both, byte-exact, with sniffed routes
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a, 0xff.toByte, 0xc0.toByte, 0x00, 0x41)
    val gz = Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x00, 0xee.toByte, 0x42)
    def respRecord(uri: String, body: Array[Byte]): Array[Byte] = {
      val hdr = s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      hdr.getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val arc = GzipArchiveCore.gzipMember(respRecord("https://e.org/a.png", png)) ++
      GzipArchiveCore.gzipMember(respRecord("https://e.org/b.gz", gz))
    val df = Seq(("arc-1", arc)).toDF("archive", "payload")
    val got = WebArchive.warcAssets(df)
      .select($"target_uri", $"route", $"payload")
      .as[(String, String, Array[Byte])].collect().sortBy(_._1).toSeq
    assert(got.size == 2)
    assert(got(0)._1 == "https://e.org/a.png" && got(0)._2 == "image" &&
      java.util.Arrays.equals(got(0)._3, png))
    assert(got(1)._1 == "https://e.org/b.gz" && got(1)._2 == "archive" &&
      java.util.Arrays.equals(got(1)._3, gz))
    // the same archive through the TEXT pipeline: both quarantine
    assert(WebArchive.wetDocuments(df).filter($"quarantine".isNotNull)
      .count() == 2)
  }

  // ------------------------------------- null/empty archive rows (advice low)

  test("expandGzipMembers: null and empty archive payloads yield quarantine rows, not silence") {
    val good = GzipArchiveCore.gzipMember(
      wetRecordBytes("https://e.org/doc/1", "alpha".getBytes("UTF-8")))
    val df = Seq(
      ("arc-null", null.asInstanceOf[Array[Byte]]),
      ("arc-empty", Array.empty[Byte]),
      ("arc-good", good)).toDF("archive", "payload")
    val m = WebArchive.expandGzipMembers(df)
      .select($"archive", $"member_payload".isNull, $"member_err")
      .as[(String, Boolean, Option[String])].collect().sortBy(_._1).toSeq
    // every archive row survives into the member frame: the audit
    // identity "archive rows = documents + quarantined" stays provable
    assert(m.map(_._1) == Seq("arc-empty", "arc-good", "arc-null"))
    assert(m(0)._2 && m(0)._3.contains("empty or null archive payload"))
    assert(!m(1)._2 && m(1)._3.isEmpty)
    assert(m(2)._2 && m(2)._3.contains("empty or null archive payload"))
  }

  test("buildWetArchives: a null doc field fails loudly instead of nulling the whole archive") {
    val docs = Seq((Some(1L), Some("ok"), "s1"), (None, Some("bad"), "s1"))
      .toDF("doc_id", "text", "source")
    val e = intercept[Exception] {
      WebArchive.buildWetArchives(docs).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null doc_id or text")))
  }

  // ------------------------------------------- PQ divisibility (advice low)

  test("PQ: a vector dimension not divisible by m raises in-plan, never ranks on a prefix") {
    val v = (0 until 10).map(i => (i.toLong, Seq.fill(15)(i.toFloat)))
      .toDF("vec_id", "embedding") // 15 dims, m = 4
    val e = intercept[Exception] {
      graft.ops.Memo.clear(spark)
      SimilarityInt.pqTrainInt(SimilarityInt.zCodes(v), m = 4, ksub = 4,
        iters = 0, seed = 42L, memoKey = "r12spec:pq_div").centroids.collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("not divisible by m=4")))
    graft.ops.Memo.clear(spark) // drop the failed entry
  }

  // ------------------------------------------ offset-splittable ingestion

  test("sliced ingest: an archive past the total budget ingests FULLY via per-member slices") {
    val recs = (1 to 4).map(i => (s"https://e.org/doc/$i", "x" * 600 + i))
    val archive = recs.map { case (u, b) =>
      GzipArchiveCore.gzipMember(wetRecordBytes(u, b.getBytes("UTF-8"))) }
      .reduce(_ ++ _)
    val df = Seq(("arc-1", archive)).toDF("archive", "payload")

    // whole-file path with a 1000-byte per-row budget: member 0 (~700 B
    // decompressed) fits, the remainder quarantines at the cap — the
    // exact truncation a real >1 GiB-decompressed WET file hits against
    // the default MaxTotalBytes
    val whole = WebArchive.expandGzipMembers(df, maxTotalBytes = 1000L)
      .select($"member_err").as[Option[String]].collect().flatten.toSeq
    assert(whole.size == 1 && whole.head.contains("exceeds 1000"))

    // sliced path with the SAME 1000-byte budget — now PER SLICE: every
    // member ingests, zero quarantine
    val docs = WebArchive.wetDocumentsSliced(df, maxTotalBytes = 1000L)
      .select($"target_uri", $"text", $"quarantine")
      .as[(String, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(docs == recs.map { case (u, b) => (u, b, None) }.sortBy(_._1))

    // rebased provenance is ABSOLUTE: identical to an uncapped
    // whole-file expansion's member coordinates
    val fromSlices = WebArchive.expandSlices(
      WebArchive.sliceMembers(df, WebArchive.memberIndex(df)),
      maxTotalBytes = 1000L)
      .select($"member_index", $"member_offset", $"member_clen")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    val fromWhole = WebArchive.expandGzipMembers(df)
      .select($"member_index", $"member_offset", $"member_clen")
      .as[(Int, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fromSlices == fromWhole)
  }

  test("memberIndex: exact payload-free provenance; corrupt tails survive sliced ingest as quarantine") {
    val goodRec = wetRecordBytes("https://e.org/doc/1", "alpha".getBytes("UTF-8"))
    val good = GzipArchiveCore.gzipMember(goodRec)
    val bad = GzipArchiveCore.gzipMember(
      wetRecordBytes("https://e.org/doc/2", "beta".getBytes("UTF-8")))
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte
    val df = Seq(("arc-1", good ++ bad)).toDF("archive", "payload")

    val idx = WebArchive.memberIndex(df)
      .select($"member_index", $"member_offset", $"member_clen",
        $"member_ulen", $"member_err")
      .as[(Int, Long, Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(idx.size == 2)
    // ulen is the member's true decompressed size, measured streaming
    assert(idx(0) == ((0, 0L, good.length.toLong, goodRec.length.toLong, None)))
    assert(idx(1)._2 == good.length.toLong && idx(1)._5.nonEmpty)

    // the sliced ingest re-unions the index's error rows: audit
    // identity (member rows = documents + quarantined) holds
    val out = WebArchive.wetDocumentsSliced(df)
    assert(out.count() == 2)
    assert(out.filter($"quarantine".isNull).count() == 1)
    assert(out.filter($"quarantine".isNotNull).count() == 1)
  }

  // ----------------------------------------------------- IVF-PQ composition

  private def rndVecs(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding")
  }

  test("ivfPqTopKInt: all-lists probe + per-vector codewords is EXACT (closed form) and equals the exact z-dot ranking") {
    // ksub >= corpus and iters = 0 make every residual its own
    // codeword (assignment distance 0), and nprobe = nlist probes
    // everything — so ADC distance IS the exact distance and the
    // shortlist covers every true neighbor
    graft.ops.Memo.clear(spark)
    val z = SimilarityInt.zCodes(rndVecs(12, 16, seed = 19))
    val idx = SimilarityInt.ivfPqBuildInt(z, nlist = 3, m = 4, ksub = 16,
      iters = 0, seed = 42L, memoKey = "r12spec:ivfpq_exact")
    val qz = z.filter($"vid" < 3)
    val got = SimilarityInt.ivfPqTopKInt(idx, qz, z, k = 5, nprobe = 3,
      rerank = 11)
    assert(ZDotBaseline.triples(got) ==
      ZDotBaseline.triples(ZDotBaseline.topK(qz, z, 5)))
  }

  test("ivfPqBuildInt: codes and results are deterministic across partitionings; codes are m ints per vector") {
    val v = rndVecs(60, 16, seed = 23)
    def run(parts: Int): (Seq[(Long, Long, Int, Long)], Seq[(Long, Long, Long)]) = {
      graft.ops.Memo.clear(spark)
      val z = SimilarityInt.zCodes(v.repartition(parts))
      val idx = SimilarityInt.ivfPqBuildInt(z, nlist = 8, m = 4, ksub = 8,
        iters = 2, seed = 42L, memoKey = s"r12spec:ivfpq:$parts")
      val codes = idx.codes.as[(Long, Long, Int, Long)].collect()
        .sortBy(c => (c._1, c._3)).toSeq
      val top = SimilarityInt.ivfPqTopKInt(idx, z.filter($"vid" < 4), z,
        k = 5, nprobe = 4, rerank = 20)
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3)).toSeq
      (codes, top)
    }
    val (c1, t1) = run(1)
    val (c13, t13) = run(13)
    assert(c1 == c13 && t1 == t13)
    assert(c1.size == 60 * 4 && c1.map(_._1).distinct.size == 60)
    // codes are codeword ids: the vids of at most ksub seed residuals
    assert(c1.map(_._4).distinct.size <= 8)
  }

  // ----------------------------------------------- streaming archive ingest

  test("startArchives: WET files stream into the corpus, stream ≡ batch, corruption dead-letters") {
    import graft.streaming.CorpusIngest
    val inDir = java.nio.file.Files.createTempDirectory("graft_wet_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_wet_out").toString

    // land fixture docs as real WET archive files, one per source;
    // corrupt one archive's member-2 magic so the stream must
    // dead-letter it (fixture-size collect: test harness only)
    val docs = Tables.documents(spark, SparkTestSession.sf)
      .filter($"doc_id" < 200).select("doc_id", "source", "text")
    val archives = graft.sources.WebArchive.buildWetArchives(docs)
      .as[(String, Array[Byte])].collect().sortBy(_._1)
    assert(archives.length >= 2)
    archives.zipWithIndex.foreach { case ((src, payload), i) =>
      val bytes =
        if (i == 0) {
          // zero member 2's gzip magic: members 0-1 ingest, rest quarantines
          val off = graft.functions.GzipArchiveCore.memberIndex(payload)
            .array.map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow])
            .find(_.getInt(0) == 2).get.getLong(1).toInt
          val b = payload.clone(); b(off) = 0x00.toByte; b
        } else payload
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, s"$src.warc.wet.gz"), bytes)
    }

    CorpusIngest.startArchives(spark, inDir, outDir).awaitTermination()

    // stream ≡ batch: the same adapter over a batch binaryFile read,
    // through the same clean + in-batch dedup, must give the same docs
    val batchRead = spark.read.format("binaryFile").load(inDir)
    val ab = CorpusIngest.archiveBatchDocs(batchRead)
    val cleaned = ab.docs.join(
      graft.operators.TextAnalysis.cleanCorpus(ab.docs).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val expected = graft.operators.Dedup.dedupCorpus(cleaned)
    val corpus = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    assert(corpus.count() == expected.count())
    assert(corpus.join(expected.select("doc_id"), Seq("doc_id"), "left_anti")
      .count() == 0)

    // the corrupt tail is dead-lettered with provenance, not dropped
    val dead = spark.read.parquet(s"$outDir/quarantine")
    assert(dead.count() == 1)
    val d = dead.select($"archive", $"quarantine").as[(String, String)].first()
    assert(d._1.endsWith(s"${archives.head._1}.warc.wet.gz") && d._2.nonEmpty)

    // idempotent re-run: nothing new landed, nothing changes
    CorpusIngest.startArchives(spark, inDir, outDir).awaitTermination()
    assert(CorpusIngest.readCorpus(spark, s"$outDir/corpus").get.count()
      == corpus.count())
  }

  test("startArchives sliced: a bigger-than-budget archive ingests fully on the streaming leg too") {
    import graft.streaming.CorpusIngest
    val inDir = java.nio.file.Files.createTempDirectory("graft_wets_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_wets_out").toString

    // one source's 25 fixture docs as ONE archive (~10 KB decompressed);
    // a 2000-byte per-row budget truncates the whole-file path after a
    // few members but binds PER SLICE on the sliced path
    val docs = Tables.documents(spark, SparkTestSession.sf)
      .filter($"doc_id" < 500).limit(500)
    val src = docs.select($"source").first().getString(0)
    val one = docs.filter($"source" === src).select("doc_id", "source", "text")
    val payload = graft.sources.WebArchive.buildWetArchives(one)
      .as[(String, Array[Byte])].first()._2
    java.nio.file.Files.write(
      java.nio.file.Paths.get(inDir, s"$src.warc.wet.gz"), payload)

    // whole-file at this budget: provably truncates
    val whole = graft.sources.WebArchive.wetDocuments(
      Seq((src, payload)).toDF("archive", "payload"), maxTotalBytes = 2000L)
    assert(whole.filter($"quarantine".isNotNull).count() == 1)
    assert(whole.filter($"quarantine".isNull).count() < one.count())

    CorpusIngest.startArchives(spark, inDir, outDir,
      maxTotalBytes = 2000L, sliced = true).awaitTermination()
    val corpus = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    // stream ≡ batch at the same dials, and NOTHING quarantined
    val ab = CorpusIngest.archiveBatchDocs(
      spark.read.format("binaryFile").load(inDir),
      maxTotalBytes = 2000L, sliced = true)
    val expected = graft.operators.Dedup.dedupCorpus(
      ab.docs.join(graft.operators.TextAnalysis.cleanCorpus(ab.docs)
        .select("doc_id"), Seq("doc_id"), "left_semi"))
    assert(corpus.count() == expected.count() && expected.count() > 0)
    assert(spark.read.parquet(s"$outDir/quarantine").isEmpty)
  }

  // ------------------------------------------------- Gopher quality rules

  test("gopherFlags: each published rule rejects its own pathology, the clean doc passes") {
    import graft.operators.TextAnalysis
    val clean = (Seq("the", "be", "to") ++
      Seq.fill(47)("words")).mkString(" ")           // 50 words, stops, alpha
    val docs = Seq(
      (1L, clean),                                   // pass
      (2L, Seq.fill(10)("words").mkString(" ")),     // too few words
      (3L, (Seq("the", "be") ++ Seq.fill(48)("ab")).mkString(" ")), // mwl 2000 < 3000
      (4L, (Seq("the", "be") ++ Seq.fill(40)("words") ++
        Seq.fill(8)("####")).mkString(" ")),         // symbol ratio
      (5L, (Seq("the", "be") ++ Seq.fill(36)("words") ++
        Seq.fill(12)("1234")).mkString(" ")),        // alpha share 40/50 = 0.8 ok; 38/50 fails
      (6L, Seq.fill(50)("words").mkString(" ")))     // no stopwords
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherFlags(docs)
      .select($"doc_id", $"words_ok", $"mwl_ok", $"sym_ok", $"alpha_ok",
        $"stop_ok", $"pass")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, true, true, true, true, true, true)))
    assert(!got(1)._2 && !got(1)._7)             // word count
    assert(!got(2)._3 && !got(2)._7)             // mean word length
    assert(!got(3)._4 && !got(3)._7)             // symbols
    assert(!got(4)._5 && !got(4)._7)             // alpha share 38/50 < 0.8
    assert(!got(5)._6 && !got(5)._7)             // stopwords
  }

  // ------------------------------------------------- LPA community detection

  test("lpaCommunities: two bridged cliques resolve to their own communities (hand-derived)") {
    // cliques {a,b,c} and {x,y,z} with bridge c—x; the deterministic
    // synchronous rounds (most frequent neighbor label, count desc /
    // label asc) hand-derive to communities {a,b,c}→'a' and
    // {x,y,z}→'c' after 4 rounds
    val und = Seq(("a","b"), ("a","c"), ("b","c"),
      ("x","y"), ("x","z"), ("y","z"), ("c","x"))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = graft.operators.Graph.lpaCommunities(edges, 4)
      .as[(String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq(("a","a"), ("b","a"), ("c","a"),
      ("x","c"), ("y","c"), ("z","c")))
  }

  // ---------------------------------------------------- domain governance

  test("Domains: host surgery handles userinfo/port/malformed URIs; filterBlocked matches the flag") {
    import graft.operators.Domains
    val uris = Seq(
      (1L, "https://crawler@www.a.org:8443/p/1?q=1", "w x y"),
      (2L, "http://a.org/p/2", "w x"),
      (3L, "https://cdn.b.org/img/3", "w"),
      (4L, "notauri 4", "w x y z"),
      (5L, "HTTPS://WWW.A.ORG/caps", "w"),
      (6L, "https://[2001:DB8::1]:8443/v6", "w"),
      (7L, "https://a.org./fqdn", "w")).toDF("doc_id", "uri", "text")
    val hosts = uris.select($"doc_id", Domains.uriHost($"uri").as("h"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(hosts == Seq((1L, Some("www.a.org")), (2L, Some("a.org")),
      (3L, Some("cdn.b.org")), (4L, None), (5L, Some("www.a.org")),
      // bracketed IPv6 survives the port strip intact (the naive
      // [^:]+ form truncated it to "[")
      (6L, Some("[2001:db8::1]")),
      // the DNS-root FQDN form resolves to the same host — the
      // trailing dot must not mint a blocklist-evading key
      (7L, Some("a.org"))))

    // blocking domain a.org removes hosts www.a.org AND a.org;
    // blocking exact host cdn.b.org removes only it
    val bl = Seq("a.org", "cdn.b.org").toDF("blocked")
    val kept = Domains.filterBlocked(uris, bl)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    // only the malformed-URI and IPv6 docs survive
    assert(kept == Seq(4L, 6L))

    // and the anti-join agrees with the stats frame's flag semantics
    val stats = Domains.domainStats(uris)
      .withColumn("blocked",
        coalesce($"domain" === "a.org", lit(false)) ||
          coalesce($"host" === "cdn.b.org", lit(false)))
    val blockedDocs = stats.filter($"blocked").agg(sum($"n_docs"))
      .as[Long].first()
    // docs 1/2/5 via domain a.org, 3 via exact host, 7 via the
    // trailing-dot FQDN form collapsing onto a.org
    assert(blockedDocs == 5L)
  }

  // -------------------------------------------------- HTML text extraction

  test("Html.htmlToText: scripts/styles/comments die with their content, lines survive, entities decode") {
    import graft.operators.Html
    GraftSession.registerFunctions(spark) // htmlToText resolves html_unescape by name
    val html = Seq(
      """<html><head><title>My Page</title>
        |<script>if (a < b) { document.write("</p> trap"); }</script>
        |<style>.x { font: 10px/1.5 serif; }</style></head>
        |<body><!-- hidden <p>comment</p> -->
        |<h1>A Heading</h1>
        |<p>first&nbsp;paragraph with &amp;lt; literally &#39;quoted&#39;</p>
        |<ul><li>item one here</li><li>item two here</li></ul>
        |line a<br>line b
        |</body></html>""".stripMargin).toDF("html")
    val got = html.select(Html.htmlToText($"html").as("t"))
      .as[String].first()
    val lines = got.split("\n").toSeq
    // script content (including its "</p> trap" string), style rules,
    // and the comment's fake <p> must ALL be gone
    assert(!got.contains("trap") && !got.contains("font") &&
      !got.contains("comment") && !got.contains("<"))
    assert(lines.contains("My Page") && lines.contains("A Heading"))
    assert(lines.contains("item one here") && lines.contains("item two here"))
    // <br> breaks the line; &amp;lt; decodes to the LITERAL "&lt;"
    assert(lines.contains("line a") && lines.contains("line b"))
    assert(lines.exists(_ ==
      "first paragraph with &lt; literally 'quoted'"))
  }

  test("Html.mainContent: short boilerplate lines drop, content lines keep their exact text") {
    import graft.operators.Html
    val t = Seq("home about\nthe actual content line is here\nok\n" +
      "another real line of content text").toDF("t")
    val got = t.select(Html.mainContent($"t", 3).as("m")).as[String].first()
    assert(got == "the actual content line is here\n" +
      "another real line of content text")
  }

  // --------------------------------------------- q170 deploy-path equivalence

  test("Bpe.trainLocal: single-process training equals the distributed loop, including non-BMP text") {
    // the deployment shape for realistic merge counts (the distributed
    // loop's ~150 ms/round scheduler floor — ScaleProbe bpe): same
    // argmax total order, same greedy non-overlapping merges, bounded
    // collect of the vocabulary only
    val docs = Tables.documents(spark, SparkTestSession.sf)
      .select("doc_id", "text")
    val viaLocal = Bpe.trainLocal(docs, numMerges = 16)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val viaSpark = Bpe.train(docs, numMerges = 16)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(viaLocal == viaSpark && viaLocal.size == 16)

    // non-BMP: '𝕏' is a surrogate PAIR in UTF-16 — a char-level split
    // would shear it; both paths must treat it as one symbol
    val emoji = Seq((1L, "𝕏a 𝕏a ab")).toDF("doc_id", "text")
    val l2 = Bpe.trainLocal(emoji, numMerges = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    val s2 = Bpe.train(emoji, numMerges = 3)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(l2 == s2 && l2.head._2 == "𝕏")

    // the vocab bound fails LOUDLY, pointing at the dials
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(docs, numMerges = 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("Bpe.encodeStats: dictionary-join path equals the per-occurrence fold's stats, zeros kept") {
    val docs = Seq(
      (1L, "aaab aaab ab xy"),
      (2L, "aaaa aaa aaab"),
      (3L, ""), // token-free doc must keep its zeros row
      (4L, "ab ab ab")).toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 3)
    val viaEncode = {
      val enc = Bpe.encode(docs, merges)
      Bpe.encodeIds(enc, Bpe.symbolIds(enc))
        .select($"doc_id", $"n_tokens_ws", $"n_tokens_bpe",
          expr("aggregate(bpe_ids, 0L, (a, x) -> a + x)").as("id_sum"))
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    }
    val viaDict = Bpe.encodeStats(docs, merges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(viaDict == viaEncode)
    assert(viaDict.find(_._1 == 3L).contains((3L, 0L, 0L, 0L)))
  }
}
