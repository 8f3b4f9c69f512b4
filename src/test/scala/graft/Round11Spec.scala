package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EventQueries
import graft.operators.TextAnalysis

/** Round-11 closures of the round-9/10 advice items: the MG
  * certificate must emit a zeros row (not drop the group) when a
  * summary decrement-cancels to empty, and proximityMinSpan must
  * handle any slot arity — N-term frames generalize, out-of-range
  * slots raise instead of silently truncating to three terms.
  */
class Round11Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------- q162 empty-summary row

  test("mgCertificate: a decrement-cancelled (empty) summary still emits its zeros row") {
    // group "a": k+1 = 9 distinct singletons — inserts fill the 8
    // counters, the 9th decrements all to zero, summary comes back
    // EMPTY on every partitioning (exact partials merge to 9 ones,
    // the merge reduction subtracts the 9th-largest = 1). The
    // certificate row must survive with all theorem columns 0.
    // group "b": one heavy key among 12 rows — the normal regime,
    // certifying both shapes coexist in one frame.
    val rows =
      (0L until 9L).map(k => ("a", k)) ++
        Seq.fill(10)(("b", 1L)) ++ Seq(("b", 2L), ("b", 3L))
    val keyed = rows.toDF("event_type", "key").repartition(3)
    val got = EventQueries.mgCertificate(keyed, k = 8)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("a", 9L, 0L, 0L, 0L, 0L),
      ("b", 12L, 1L, 1L, 0L, 0L)))
  }

  // ------------------------------------------------ proximity slot arity

  test("proximityMinSpan: 2-term and 4-term arities compute true minimal spans") {
    val slots2 = Seq((0, "a"), (1, "b")).toDF("slot", "term")
    val docs2 = Seq(
      (1L, "a x x b"),      // single combo: 3
      (2L, "b x a b a"),    // (2,3) beats (2,0)/(4,*): 1
      (3L, "a x x x a")     // b missing -> absent
    ).toDF("doc_id", "text")
    val got2 = TextAnalysis.proximityMinSpan(docs2, slots2, k = 16, numTerms = 2)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got2 == Seq((1L, 3L), (2L, 1L)))

    val slots4 = Seq((0, "t0"), (1, "t1"), (2, "t2"), (3, "t3"))
      .toDF("slot", "term")
    val docs4 = Seq(
      (1L, "t0 t1 t2 t3"),             // 3
      (2L, "t0 x t1 t2 x x t3 t0"),    // combo (7,2,3,6) spans 5, beats (0,..,6)'s 6
      (3L, "t0 t1 t2 x x x x x x t0")  // t3 missing -> absent
    ).toDF("doc_id", "text")
    val got4 = TextAnalysis.proximityMinSpan(docs4, slots4, k = 16, numTerms = 4)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got4 == Seq((1L, 3L), (2L, 5L)))
  }

  test("proximityMinSpan: a slot outside the declared arity raises, not plausible-wrong spans") {
    // A 4-term slot frame against the default numTerms = 3 used to
    // silently ignore slot 3 and return 3-term spans; now the guard
    // in the pos projection raises as soon as a slot-3 token matches.
    val slots4 = Seq((0, "t0"), (1, "t1"), (2, "t2"), (3, "t3"))
      .toDF("slot", "term")
    val docs = Seq((1L, "t0 t1 t2 t3")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      TextAnalysis.proximityMinSpan(docs, slots4, k = 16).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("slot outside 0..2")))
  }

  test("proximityMinSpan: arity dials that explode the in-row combo budget are rejected") {
    val slots = Seq((0, "a"), (1, "b")).toDF("slot", "term")
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextAnalysis.proximityMinSpan(docs, slots, k = 64, numTerms = 4)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.proximityMinSpan(docs, slots, k = 16, numTerms = 1)
    }
  }

  // ------------------------------------------------- WET/gzip ingestion

  import graft.functions.GzipArchiveCore
  import graft.sources.WebArchive

  private def wetRecordBytes(uri: String, body: String): Array[Byte] = {
    val bodyBytes = body.getBytes("UTF-8")
    val hdr = s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"Content-Length: ${bodyBytes.length}\r\n\r\n"
    hdr.getBytes("UTF-8") ++ bodyBytes ++ "\r\n\r\n".getBytes("UTF-8")
  }

  test("gzip_members: multi-member WET archive round-trips, multibyte and empty bodies intact") {
    // three members: plain ASCII, multibyte UTF-8 (Content-Length is
    // BYTES — a char-based slice would shear the umlauts), empty body
    val recs = Seq(
      ("https://e.org/doc/1", "hello wet world"),
      ("https://e.org/doc/2", "héllo wörld 世界"),
      ("https://e.org/doc/3", ""))
    val archive = recs.map { case (u, b) =>
      GzipArchiveCore.gzipMember(wetRecordBytes(u, b)) }
      .reduce(_ ++ _)
    val df = Seq(("arc-1", archive)).toDF("archive", "payload")

    val members = WebArchive.expandGzipMembers(df)
    val m = members.select($"member_index", $"member_offset", $"member_clen",
      $"member_err").as[(Int, Long, Long, Option[String])].collect().sortBy(_._1)
    assert(m.length == 3 && m.forall(_._4.isEmpty))
    // provenance: offsets are cumulative compressed lengths, exactly
    assert(m(0)._2 == 0L && m(1)._2 == m(0)._3 && m(2)._2 == m(0)._3 + m(1)._3)
    assert(m.map(_._3).sum == archive.length.toLong)

    val docs = WebArchive.wetDocuments(df)
      .select($"target_uri", $"text", $"quarantine")
      .as[(String, String, Option[String])].collect().sortBy(_._1).toSeq
    assert(docs == recs.map { case (u, b) => (u, b, None) }.sortBy(_._1))
  }

  test("gzip_members: a corrupt member quarantines the remainder with provenance, prior members survive") {
    val good = GzipArchiveCore.gzipMember(wetRecordBytes("https://e.org/doc/1", "alpha beta"))
    val bad = GzipArchiveCore.gzipMember(wetRecordBytes("https://e.org/doc/2", "gamma delta"))
    // flip a byte in the middle of member 2's DEFLATE stream: either
    // the stream breaks or the CRC catches it — both quarantine
    bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x55).toByte
    val tail = GzipArchiveCore.gzipMember(wetRecordBytes("https://e.org/doc/3", "epsilon"))
    val df = Seq(("arc-1", good ++ bad ++ tail)).toDF("archive", "payload")

    val m = WebArchive.expandGzipMembers(df)
      .select($"member_index", $"member_offset", $"member_clen",
        $"member_payload".isNull, $"member_err")
      .as[(Int, Long, Long, Boolean, Option[String])].collect().sortBy(_._1)
    // member 0 intact; ONE quarantine row covers bad+tail (gzip has no
    // resync marker, scanning past a broken member is guesswork)
    assert(m.length == 2)
    assert(m(0) == ((0, 0L, good.length.toLong, false, None)))
    assert(m(1)._2 == good.length.toLong &&
      m(1)._3 == (bad.length + tail.length).toLong && m(1)._4 &&
      m(1)._5.nonEmpty)

    // the audit identity: every member row is a document or quarantined
    val recs = WebArchive.wetDocuments(df)
    assert(recs.count() == 2)
    assert(recs.filter($"quarantine".isNull).count() == 1)
  }

  test("wetRecords: well-formed gzip of a non-WARC payload quarantines at the record layer") {
    val arc =
      GzipArchiveCore.gzipMember("just some text, no WARC header".getBytes("UTF-8")) ++
        GzipArchiveCore.gzipMember(wetRecordBytes("https://e.org/doc/9", "kept"))
    val df = Seq(("arc-1", arc)).toDF("archive", "payload")
    val got = WebArchive.wetDocuments(df)
      .select($"member_index", $"target_uri", $"quarantine")
      .as[(Int, Option[String], Option[String])].collect().sortBy(_._1).toSeq
    assert(got.size == 2)
    assert(got(0)._3.contains("not a WARC record"))
    assert(got(1) == ((1, Some("https://e.org/doc/9"), None)))

    // truncated archive: a half member quarantines, nothing crashes
    val trunc = Seq(("arc-2", arc.take(10))).toDF("archive", "payload")
    val t = WebArchive.expandGzipMembers(trunc)
      .select($"member_err").as[Option[String]].collect().toSeq
    assert(t.size == 1 && t.head.nonEmpty)
  }

  // ------------------------------------------------- BPE train + encode

  import graft.operators.Bpe

  test("Bpe.train: closed-form corpus reproduces the hand-derived merge table, then exhausts") {
    // "aaab aaab ab": pair counts (a,a)=4, (a,b)=3 -> merge a+a;
    // then (a,b)=3 beats (aa,a)=2 -> merge a+b; then (aa,ab)=2 -> merge;
    // then no pairs remain: train(5) returns exactly 3 merges.
    val docs = Seq((1L, "aaab aaab ab")).toDF("doc_id", "text")
    val got = Bpe.train(docs, numMerges = 5)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0, "a", "a", 4L), (1, "a", "b", 3L), (2, "aa", "ab", 2L)))
  }

  test("Bpe.encode: merges apply greedily left-to-right, non-overlapping; OOV chars pass through") {
    val docs = Seq((1L, "aaab ab xy"), (2L, "aaaa aaa")).toDF("doc_id", "text")
    val merges = Seq((0, "a", "a", 4L), (1, "a", "b", 3L), (2, "aa", "ab", 2L))
      .toDF("merge_rank", "lhs", "rhs", "cnt")
    val got = Bpe.encode(docs, merges)
      .select($"doc_id", $"n_tokens_ws", $"n_tokens_bpe", $"bpe_syms")
      .as[(Long, Long, Long, Seq[String])].collect().sortBy(_._1)
    // doc 1: aaab -> [aaab], ab -> [ab], xy -> [x, y] (no merge touches x/y)
    assert(got(0) == ((1L, 3L, 4L,
      Seq(Seq("aaab"), Seq("ab"), Seq("x", "y")).flatten)))
    // doc 2: the greedy-collision case — merge (a,a) on "aaaa" gives
    // [aa, aa] (never the overlap-sharing [aa, a, a]); then (aa, ab)
    // does NOT fire (no ab). "aaa" -> [aa, a].
    assert(got(1) == ((2L, 2L, 4L, Seq("aa", "aa", "aa", "a"))))
  }

  test("Bpe: encode with an empty merge table degrades to characters; ids are dense and symbol-ascending") {
    val docs = Seq((1L, "ba c"), (2L, "")).toDF("doc_id", "text")
    val merges = Seq.empty[(Int, String, String, Long)]
      .toDF("merge_rank", "lhs", "rhs", "cnt")
    val enc = Bpe.encode(docs, merges)
    val stats = enc.select($"doc_id", $"n_tokens_ws", $"n_tokens_bpe")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(stats == Seq((1L, 2L, 3L), (2L, 0L, 0L))) // empty doc keeps its row
    val ids = Bpe.symbolIds(enc)
      .select($"sym", $"sym_id").as[(String, Long)].collect().sortBy(_._2).toSeq
    assert(ids == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
    val withIds = Bpe.encodeIds(enc, Bpe.symbolIds(enc))
      .select($"doc_id", $"bpe_ids").as[(Long, Seq[Long])].collect()
      .sortBy(_._1).toSeq
    assert(withIds == Seq((1L, Seq(1L, 0L, 2L)), (2L, Seq.empty[Long])))
  }

  // ------------------------------------------------- product quantization

  import graft.operators.SimilarityInt

  private def vecsDf(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f).toSeq))
      .toDF("vec_id", "embedding")
  }

  test("pqTrainInt: codebooks are deterministic across partitionings") {
    val v = vecsDf(60, 16, seed = 7)
    def cents(parts: Int): Seq[(Int, Long, Seq[Long])] = {
      graft.ops.Memo.clear(spark) // a memo hit would hide nondeterminism
      SimilarityInt.pqTrainInt(SimilarityInt.zCodes(v.repartition(parts)),
          m = 4, ksub = 8, iters = 2, seed = 42L, memoKey = s"r11spec:pq:$parts")
        .centroids.as[(Int, Long, Seq[Long])].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    }
    assert(cents(1) == cents(13))
  }

  test("pqEncodeInt: codes are m seed vids per vector; rerank window must cover k") {
    graft.ops.Memo.clear(spark)
    val v = vecsDf(40, 16, seed = 3)
    val z = SimilarityInt.zCodes(v)
    val cb = SimilarityInt.pqTrainInt(z, m = 4, ksub = 8, iters = 1,
      seed = 42L, memoKey = "r11spec:pq_encode")
    val codes = SimilarityInt.pqEncodeInt(z, cb)
    assert(codes.count() == 40L * 4)
    assert(codes.select("vid").distinct().count() == 40L)
    // every code is a codeword of its own subspace, and codeword ids
    // are the vids of at most ksub seed rows
    val codewords = cb.centroids.select("sub", "cid").as[(Int, Long)].collect().toSet
    assert(codes.select("sub", "code").as[(Int, Long)].collect().toSet
      .subsetOf(codewords))
    val seedVids = codewords.map(_._2)
    assert(seedVids.size <= 8 && seedVids.subsetOf((0L until 40L).toSet))
    intercept[IllegalArgumentException] {
      SimilarityInt.pqTopKInt(codes, cb, z, z.limit(1), k = 10, rerank = 5)
    }
  }

  test("wetRecords: a lying Content-Length (past member end) quarantines, not a silent short read") {
    val bodyBytes = "short".getBytes("UTF-8")
    val hdr = "WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: u\r\n" +
      s"Content-Length: ${bodyBytes.length + 1000}\r\n\r\n"
    val arc = GzipArchiveCore.gzipMember(hdr.getBytes("UTF-8") ++ bodyBytes)
    val df = Seq(("arc-1", arc)).toDF("archive", "payload")
    val got = WebArchive.wetDocuments(df)
      .select($"text", $"quarantine")
      .as[(Option[String], Option[String])].collect().toSeq
    assert(got == Seq((None, Some("Content-Length past end of member"))))
  }
}
