package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Sharding, Similarity}
import graft.ops.TextQueries

/** Round-7 contracts: the q101 per-doc term cap bounds edge blowup,
  * deltaDedup's lazy lifecycle still releases its cache, temperature
  * mixing excludes NULL groups from the whole computation, and
  * semanticDedup rejects dimensions past its BIGINT-gate ceiling. */
class Round7Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  test("q101 edge build: an adversarially long doc contributes a bounded edge set") {
    // one doc with 500 distinct terms: uncapped, the per-doc self-join
    // would emit 500·499 = 249,500 directed edges from this row alone;
    // the cap bounds it at N·(N−1)
    val n = TextQueries.PageRankMaxTermsPerDoc
    val longDoc = (0 until 500).map(i => f"t$i%03d").mkString(" ")
    val docs = Seq((1L, longDoc), (2L, "alpha beta alpha gamma"))
      .toDF("doc_id", "text")
    val edges = Graph.coOccurrenceEdges(docs, n).collect()
    val fromLong = edges.count(r => r.getString(0).startsWith("t"))
    assert(fromLong == n * (n - 1),
      s"long doc must contribute exactly N*(N-1) = ${n * (n - 1)} edges, got $fromLong")
    // tf-ranking, not arbitrary truncation: doc 2's repeated term is
    // kept (tf=2 outranks the tf=1 terms) and all its terms fit under
    // the cap anyway — 3 distinct terms → 6 directed edges
    val fromShort = edges.filterNot(r => r.getString(0).startsWith("t"))
    assert(fromShort.length == 6)
  }

  test("q101 cap keeps the doc's TOP terms by tf, ties broken on the term string") {
    // 2 terms over the cap; the two lowest-tf terms must be the ones
    // dropped, and among equal-tf terms the lexicographically smallest
    // survive (the exact window the oracle SQL replays)
    val n = TextQueries.PageRankMaxTermsPerDoc
    val words = (0 until n - 1).flatMap(i => Seq.fill(3)(f"k$i%02d")) ++ // tf=3 each
      Seq("aa", "bb", "cc") // tf=1: only 'aa' fits in the last slot
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val terms = Graph.coOccurrenceEdges(docs, n)
      .select("src").distinct().as[String].collect().toSet
    assert(terms.contains("aa") && !terms.contains("bb") && !terms.contains("cc"),
      s"tie-break must keep 'aa' only, got ${terms.filterNot(_.startsWith("k"))}")
    assert(terms.size == n)
  }

  test("deltaDedup releaseEagerly=false: cache is released after the caller's action") {
    val sc = spark.sparkContext
    def cachedNonCkpt() =
      sc.getPersistentRDDs.values.count(r => !r.isCheckpointed)
    val corpus = Seq((1L, (0 until 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((10L, (0 until 30).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
    val before = cachedNonCkpt()
    val out = Dedup.deltaDedup(corpus, delta, k = 3, threshold = 0.6,
      releaseEagerly = false)
    assert(out.count() == 1)
    // the release rides the session's QueryExecutionListener bus —
    // asynchronous by design; poll with a deadline instead of racing it
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (cachedNonCkpt() > before && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(cachedNonCkpt() == before,
      "lazy-mode deltaDedup must unpersist its internal frame once the " +
        "caller's action completes")
  }

  test("lazy deltaDedup stays correct when an unrelated action fires the release early") {
    // the lazy lifecycle releases on the session's NEXT completed
    // action, whosever it is — an interleaved unrelated query may
    // unpersist the internal frame before the caller consumes the
    // result; that costs lineage recompute, never correctness
    val corpus = Seq((1L, (0 until 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq(
      (10L, (0 until 30).map(i => s"c$i").mkString(" ")), // exact dup → drop
      (11L, (0 until 30).map(i => s"n$i").mkString(" "))) // novel → keep
      .toDF("doc_id", "text")
    val out = Dedup.deltaDedup(corpus, delta, k = 3, threshold = 0.6,
      releaseEagerly = false)
    spark.range(10).count() // unrelated action: fires the release listener
    Thread.sleep(200)       // let the async listener actually run
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(11L))
  }

  test("q103 numeric parse floors identically for integral, fractional, and junk strings") {
    // the double+gate+floor normalization exists because string->BIGINT
    // try_cast truncates in Spark but rounds in DuckDB on '1.5', and on
    // overflow strings Spark's floor(double)->LONG SATURATES to
    // Long.MaxValue while DuckDB's floor stays double and nulls (this
    // spec caught that: an ungated floor returned 2^63-1 for '1e999').
    // Pin the Spark-side values the shared contract promises (floor
    // toward -inf; non-numeric and out-of-range strings become NULL)
    val gate = "case when try_cast(s as double) > -9.2e18 " +
      "and try_cast(s as double) < 9.2e18 then try_cast(s as double) end"
    val rows = Seq("7", "1.5", "-2.5", "abc", "1e999", "")
      .toDF("s")
      .selectExpr("s", s"try_cast(floor($gate) as bigint) as v")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows("7") == Some(7L))
    assert(rows("1.5") == Some(1L), "floor, not round and not truncate-toward-zero")
    assert(rows("-2.5") == Some(-3L), "floor goes toward -inf for negatives")
    assert(rows("abc").isEmpty && rows("").isEmpty)
    assert(rows("1e999").isEmpty, "inf must null out, not throw or wrap")
  }

  test("temperatureMix: NULL-group rows neither weigh into quotas nor get picked") {
    val docs = (0 until 40).map(i => (i.toLong, if (i % 4 == 0) null else s"g${i % 3}"))
      .toDF("doc_id", "lang")
    val mixed = Sharding.temperatureMix(docs, budget = 12L)
    val viaPrefilter = Sharding.temperatureMix(docs.filter($"lang".isNotNull), budget = 12L)
    // NULL rows must change NOTHING: same picks as if the caller had
    // filtered them out (previously they deducted quota the join could
    // never spend)
    val a = mixed.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = viaPrefilter.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b)
    assert(a.forall(_._2 != null))
  }

  test("funnelStateBuffered converts cross-batch out-of-order arrivals within the watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.EventStreams
    def ev(id: Long, sec: Long, user: Long, tpe: String) =
      EventStreams.Event(id, new java.sql.Timestamp(sec * 1000), user, tpe, 1.0)
    val stages = Seq("view", "signup", "purchase")
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.funnelStateBuffered(
        ms.toDS().withWatermark("ts", "10 seconds"), stages)
      .writeStream.outputMode("update")
      .format("memory").queryName("buf_funnel").start()
    try {
      // user 1's SIGNUP lands a batch BEFORE its VIEW — the exact feed
      // funnelState documents as unsupported (its counter would stick
      // at 1: the view converts, the already-seen signup can't)
      ms.addData(ev(1, 105, 1, "signup"))
      q.processAllAvailable()
      ms.addData(ev(2, 100, 1, "view")) // late, but inside the 10 s delay
      q.processAllAvailable()
      // watermark carriers from another user: first lifts the wm past
      // both buffered events (95 → 110), second triggers user 1's
      // event-time timeout so the ripened events fold with no new data
      ms.addData(ev(3, 120, 99, "view"))
      q.processAllAvailable()
      ms.addData(ev(4, 121, 99, "view"))
      q.processAllAvailable()
      val stage = spark.table("buf_funnel")
        .filter($"user_id" === 1).agg(max("stage")).first().getLong(0)
      assert(stage == 2L,
        s"view@100 + signup@105 released in event-time order must reach stage 2, got $stage")
    } finally q.stop()
  }

  test("funnelState takes the MIN eligible event per stage, not the greedy one") {
    import graft.streaming.EventStreams
    // signup@100 sorts BEFORE the view@100 that opens its stage; a
    // greedy continue-forward scan would pass it and chain through
    // signup@200, losing purchase@150 (stage 2). q89's min-eligible
    // chaining gives t2 = min signup >= 100 = 100, t3 = 150 -> stage 3.
    val evs = Seq(
      EventStreams.Event(1L, new java.sql.Timestamp(100000L), 7L, "signup", 1.0),
      EventStreams.Event(2L, new java.sql.Timestamp(100000L), 7L, "view", 1.0),
      EventStreams.Event(3L, new java.sql.Timestamp(150000L), 7L, "purchase", 1.0),
      EventStreams.Event(4L, new java.sql.Timestamp(200000L), 7L, "signup", 1.0)
    ).toDS()
    val out = EventStreams.funnelState(evs, Seq("view", "signup", "purchase"))
      .collect()
    assert(out.length == 1 && out(0).stage == 3L)
  }

  test("funnelStateBuffered in batch mode equals funnelState on in-order data") {
    import graft.streaming.EventStreams
    def ev(id: Long, sec: Long, user: Long, tpe: String) =
      EventStreams.Event(id, new java.sql.Timestamp(sec * 1000), user, tpe, 1.0)
    val stages = Seq("view", "signup", "purchase")
    // per-user histories including an out-of-order pair (batch mode
    // sorts everything — end of data is the release point)
    val evs = Seq(
      ev(1, 100, 1, "view"), ev(2, 200, 1, "signup"), ev(3, 300, 1, "purchase"),
      ev(4, 150, 2, "view"), ev(5, 140, 2, "signup"), // signup BEFORE the view in event time → stage 1
      ev(6, 500, 3, "purchase")).toDS()
    def rows(df: org.apache.spark.sql.Dataset[EventStreams.FunnelRow]) =
      df.collect().map(r => r.user_id -> r.stage).toMap
    val buffered = rows(EventStreams.funnelStateBuffered(evs, stages))
    val plain = rows(EventStreams.funnelState(evs, stages))
    assert(buffered == plain)
    assert(buffered == Map(1L -> 3L, 2L -> 1L, 3L -> 0L))
  }

  test("Memo.invalidatePath leaf classification: file reads under the path die, file-free plans survive") {
    import graft.ops.Memo
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_inv").toString
    val other = java.nio.file.Files.createTempDirectory("graft_memo_oth").toString
    Seq((1L, "a")).toDF("id", "v").write.mode("overwrite").parquet(s"$dir/t")
    Seq((2L, "b")).toDF("id", "v").write.mode("overwrite").parquet(s"$other/t")
    var builds = 0
    def entry(key: String)(df: => org.apache.spark.sql.DataFrame) =
      Memo.of(spark, key) { builds += 1; df }
    entry("inv_file") { spark.read.parquet(s"$dir/t") }
    entry("inv_other") { spark.read.parquet(s"$other/t") }
    entry("inv_local") { Seq((3L, "c")).toDF("id", "v") } // LocalRelation: provably file-free
    entry("inv_range") { spark.range(5).toDF() }          // Range: provably file-free
    assert(builds == 4)
    Memo.invalidatePath(dir)
    // only the entry reading under `dir` rebuilds; the other-file,
    // local and range entries must still be cache hits
    entry("inv_other") { spark.read.parquet(s"$other/t") }
    entry("inv_local") { Seq((3L, "c")).toDF("id", "v") }
    entry("inv_range") { spark.range(5).toDF() }
    assert(builds == 4, "entries not reading the path must survive invalidation")
    entry("inv_file") { spark.read.parquet(s"$dir/t") }
    assert(builds == 5, "the entry reading the rewritten path must rebuild")
    // a read hidden inside an IN-subquery is a separate plan tree off
    // an expression — collectLeaves alone would miss it
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("memo_inv_sub")
    entry("inv_subquery") {
      spark.range(5).toDF("id")
        .filter("id IN (SELECT id FROM memo_inv_sub)")
    }
    assert(builds == 6)
    Memo.invalidatePath(dir)
    entry("inv_subquery") {
      spark.range(5).toDF("id")
        .filter("id IN (SELECT id FROM memo_inv_sub)")
    }
    assert(builds == 7, "a subquery read under the path must invalidate")
    Memo.clear(spark)
  }

  test("dupSpans coalesces any-offset shared windows into maximal spans, split on real gaps") {
    import graft.operators.TextAnalysis
    // doc 1 carries TWO copies of a 20-token passage from doc 2,
    // separated by 40 unique filler tokens; doc 3 shares nothing.
    // With L=15 the matched stride-1 windows inside each copy coalesce
    // into one span each (6 windows, max gap 1 <= L) and the 40-token
    // unique gap (> L) keeps the two spans separate.
    val passage = (0 until 20).map(i => s"p$i").mkString(" ")
    val fill = (0 until 40).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"$passage $fill $passage"),
      (2L, s"lead in $passage trailing tokens here"),
      (3L, (0 until 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = TextAnalysis.dupSpans(docs, windowTokens = 15, minDocs = 2)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1: copies at token offsets 0 and 60, each 20 tokens
    // doc 2: passage at offset 2; doc 3: absent
    assert(spans.toSeq == Seq(
      (1L, 0L, 20L, 20L), (1L, 60L, 80L, 20L), (2L, 2L, 22L, 20L)),
      s"got ${spans.toSeq}")
    // a one-token shift is invisible to aligned chunking at any chunk
    // size that doesn't divide the offset — the operator's reason to
    // exist; sanity-check the aligned detector misses doc 2's copy
    val aligned = TextAnalysis.dupChunkDocs(docs, chunkTokens = 16,
      overlap = 0, minDocs = 2, minDupChunks = 1)
    assert(aligned.filter(col("doc_id") === 2L).isEmpty,
      "aligned 16-token chunks should miss the offset-2 copy")
  }

  test("dupSpans ignores windows repeated only within one doc") {
    import graft.operators.TextAnalysis
    val rep = ((0 until 20).map(i => s"r$i") ++ (0 until 20).map(i => s"r$i")).mkString(" ")
    val docs = Seq((1L, rep), (2L, (0 until 25).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextAnalysis.dupSpans(docs, windowTokens = 15, minDocs = 2).isEmpty,
      "self-repetition must not count as cross-doc duplication")
  }

  test("dominantProjection tracks a converged float reference on a strong-eigengap corpus") {
    import graft.operators.Spectral
    // x_i = (i-100)·w + tiny deterministic noise: one overwhelming
    // principal direction (gap ratio ~4e-7), where a power method
    // must converge in 1-2 steps. The fixture embeddings are
    // deliberately NOT used here: their spectrum is near-isotropic
    // (lambda2/lambda1 = 0.987, measured) so no power method finds a
    // direction there in few iterations — q107 gates engine parity on
    // the fixture; THIS test gates statistical correctness on signal.
    val n = 200; val d = 16
    val w = Array.tabulate(d)(j => ((j * 5) % 7 + 1) / 7.0)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(d)(j =>
        ((i - 100) * w(j) + 0.01 * ((i * 7 + j * 13) % 5)).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Spectral.dominantProjection(df, iterations = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // double-precision reference: exact-mean centering, 100 power
    // steps with norm rescale, projections onto the converged top
    // eigendirection
    val x = rows.map(_._2.map(_.toDouble))
    val mean = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    val c = x.map(row => Array.tabulate(d)(j => row(j) - mean(j)))
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to 100) {
      val u = new Array[Double](d)
      for (row <- c) {
        val p = row.indices.iterator.map(j => row(j) * v(j)).sum
        for (j <- 0 until d) u(j) += row(j) * p
      }
      val nn = math.sqrt(u.map(t => t * t).sum)
      v = u.map(_ / nn)
    }
    val ref = rows.map(_._1).zip(
      c.map(row => row.indices.iterator.map(j => row(j) * v(j)).sum)).toMap
    // Pearson correlation: sign may flip (eigenvector sign is
    // arbitrary in the reference), magnitude must agree
    val pairs = rows.map(_._1).map(i => (got(i).toDouble, ref(i)))
    def corr(ps: Seq[(Double, Double)]): Double = {
      val m = ps.length
      val (ma, mb) = (ps.map(_._1).sum / m, ps.map(_._2).sum / m)
      val cov = ps.map { case (a, b) => (a - ma) * (b - mb) }.sum
      val (va, vb) = (ps.map(p => math.pow(p._1 - ma, 2)).sum,
        ps.map(p => math.pow(p._2 - mb, 2)).sum)
      cov / math.sqrt(va * vb)
    }
    val r = math.abs(corr(pairs))
    assert(r >= 0.99, s"|corr| vs converged float reference = $r")
  }

  test("pca2Projection recovers two planted orthogonal directions") {
    import graft.operators.Spectral
    // x_i = a_i·w1 + b_i·w2 + tiny noise with var(a) >> var(b) and
    // w1 ⊥ w2 (disjoint dimension supports): proj1 must track a,
    // proj2 must track b after the exact integer deflation.
    val n = 200; val d = 16
    val w1 = Array.tabulate(d)(j => if (j % 2 == 0) ((j * 5) % 7 + 1) / 7.0 else 0.0)
    val w2 = Array.tabulate(d)(j => if (j % 2 == 1) ((j * 3) % 5 + 1) / 5.0 else 0.0)
    def a(i: Int) = (i - 100) * 10.0
    def b(i: Int) = ((i * 37) % 200) - 100.0
    val rows = (0 until n).map { i =>
      (i.toLong, Array.tabulate(d)(j =>
        (a(i) * w1(j) + b(i) * w2(j) + 0.01 * ((i * 7 + j * 13) % 5)).toFloat))
    }
    val out = Spectral.pca2Projection(rows.toDF("vec_id", "embedding"),
      iterations = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def corr(ps: Seq[(Double, Double)]): Double = {
      val m = ps.length
      val (ma, mb) = (ps.map(_._1).sum / m, ps.map(_._2).sum / m)
      val cov = ps.map { case (x, y) => (x - ma) * (y - mb) }.sum
      cov / math.sqrt(ps.map(p => math.pow(p._1 - ma, 2)).sum *
        ps.map(p => math.pow(p._2 - mb, 2)).sum)
    }
    val ids = (0 until n).map(_.toLong)
    val c1 = math.abs(corr(ids.map(i => (out(i)._1.toDouble, a(i.toInt)))))
    val c2 = math.abs(corr(ids.map(i => (out(i)._2.toDouble, b(i.toInt)))))
    val cx = math.abs(corr(ids.map(i => (out(i)._1.toDouble, out(i)._2.toDouble))))
    assert(c1 >= 0.99, s"proj1 must track the dominant planted direction: $c1")
    assert(c2 >= 0.99, s"proj2 must track the second planted direction: $c2")
    assert(cx <= 0.05, s"the two components must separate the signals: $cx")
  }

  test("dominantProjection is partition-order-independent and constant-safe") {
    import graft.operators.Spectral
    val emb = Tables.embeddings(spark, SparkTestSession.sf).limit(100)
    val a = Spectral.dominantProjection(emb.repartition(13), iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Spectral.dominantProjection(emb.coalesce(1), iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "integer power iteration must not depend on partitioning")
    // constant corpus: centered codes are all zero; the max|u| >= 1
    // guard keeps the rescale division defined and projections at 0
    val const = Seq.tabulate(5)(i => (i.toLong, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val z = Spectral.dominantProjection(const, iterations = 2).collect()
    assert(z.length == 5 && z.forall(_.getLong(1) == 0L))
    // empty corpus: empty result with the same schema, no probe crash
    val e = Spectral.dominantProjection(
      const.filter(col("vec_id") < 0), iterations = 2)
    assert(e.columns.toSeq == Seq("vec_id", "proj") && e.isEmpty)
  }

  test("pca2Projection rejects vectors past the deflated BIGINT dot ceiling") {
    import graft.operators.Spectral
    val big = Seq((1L, Array.fill(Spectral.MaxPca2Dim + 1)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Spectral.pca2Projection(big)
    }
    assert(e.getMessage.contains("dims"))
    // dominantProjection has no such ceiling: same frame passes
    assert(Spectral.dominantProjection(big).columns.toSeq ==
      Seq("vec_id", "proj"))
  }

  test("semanticDedup rejects vectors past the BIGINT-gate dimension ceiling") {
    val big = Seq((1L, Array.fill(Similarity.MaxSemanticDedupDim + 1)(0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(big)
    }
    assert(e.getMessage.contains("dims"))
    // and the lower bound still trips when bands*bandBits exceeds dim
    val small = Seq((1L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.semanticDedup(small, bands = 8, bandBits = 6)
    }
    assert(e2.getMessage.contains("bands"))
  }
}
