package graft

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.coalesce
import org.scalatest.funsuite.AnyFunSuite

/** Round-17 hardening pins. */
class Round17Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** ADVICE r16 medium: a group span between the JVM array bound and
    * k×maxSliceBytes used to pass the group-read gate, fail inside the
    * read ("range length N exceeds JVM array bound"), and stamp that
    * error onto every member — healthy members wrongly quarantined
    * where the contract promises byte-identity with the per-member
    * form. The gate now clamps the group cap to the JVM bound, so such
    * spans skip the group read and fall back per-member. The fixture
    * is a sparse 2.5 GB file with 10 real bytes at each end — both
    * members individually healthy, group span unreadable as one array.
    */
  test("group span past the JVM array bound falls back to per-member reads") {
    import graft.sources.WebArchive
    val f = java.io.File.createTempFile("graft-sparse", ".bin")
    f.deleteOnExit()
    val far = 2500000000L
    val raf = new java.io.RandomAccessFile(f, "rw")
    try {
      raf.write("HEADBYTES!".getBytes("US-ASCII"))
      raf.seek(far)
      raf.write("TAILBYTES!".getBytes("US-ASCII"))
    } finally raf.close()
    try {
      val index = Seq(
        ("file:" + f.getAbsolutePath, 0, 0L, 10L, None: Option[String]),
        ("file:" + f.getAbsolutePath, 1, far, 10L, None: Option[String]))
        .toDF("archive", "member_index", "member_offset", "member_clen",
          "member_err")
      // k=2 at a 1.6 GB per-member cap: the raw group cap (3.2 GB)
      // admits the 2.5 GB span, the JVM bound does not
      val cap = 1600000000L
      val out = WebArchive.sliceMembersRanged(index,
        maxSliceBytes = cap, coalesceMembers = 2)
        .select($"base_index", $"slice", $"slice_err")
        .collect().sortBy(_.getInt(0))
      assert(out.length == 2)
      assert(out.forall(_.isNullAt(2)),
        s"healthy members must not be quarantined: ${out.map(_.getString(2)).mkString(",")}")
      assert(new String(out(0).getAs[Array[Byte]](1), "US-ASCII") == "HEADBYTES!")
      assert(new String(out(1).getAs[Array[Byte]](1), "US-ASCII") == "TAILBYTES!")
      // and the per-member form agrees byte-for-byte (the contract)
      val pm = WebArchive.sliceMembersRanged(index,
        maxSliceBytes = cap, coalesceMembers = 1)
        .select($"base_index", $"slice", $"slice_err")
        .collect().sortBy(_.getInt(0))
      assert(pm.map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq, r.isNullAt(2))).toSeq ==
        out.map(r => (r.getInt(0), r.getAs[Array[Byte]](1).toSeq, r.isNullAt(2))).toSeq)
    } finally f.delete()
  }


  /** The q35 DuckDB replay's signed-min identity (ADVICE r16 high):
    * the engine's MinHash min is a SIGNED Long comparison, the replay
    * works in UBIGINT where min() is unsigned order — the replay
    * therefore takes min over xor(v, 2^63) and xors the result back.
    * This pins the identity the SQL relies on, on inputs whose mixed
    * values straddle the sign bit (they essentially always do: 500/500
    * sf0.01 docs carry at least one negative signature value), against
    * an independent unsigned-domain reimplementation. Before the r17
    * fix the replayed signatures diverged from the engine's on 500/500
    * docs; after it they are bitwise equal (measured via the replay
    * cut at the sigl CTE vs a python reimplementation of this exact
    * algorithm — see LshOracleSql scaladoc).
    */
  test("signed-min identity: engine MinHash == unsigned-domain min over sign-flipped values") {
    val SignBit = java.math.BigInteger.ONE.shiftLeft(63)
    val M64 = java.math.BigInteger.ONE.shiftLeft(64)
    def toUnsigned(v: Long): java.math.BigInteger = {
      val b = java.math.BigInteger.valueOf(v)
      if (v < 0) b.add(M64) else b
    }
    // independent replay of the sig CTE semantics: mix each (hash, j)
    // pair exactly as the engine does, then take the UNSIGNED min of
    // the sign-flipped values and flip back — must equal the engine's
    // signed min bit-for-bit
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val k = 16
    // hashes chosen to force mixed values on BOTH sides of the sign
    // bit in every signature slot (a deterministic spread; no RNG)
    val hashes: Array[Long] = (1 to 64).map(i =>
      mix(i.toLong * 0x9E3779B97F4A7C15L)).toArray
    val engine = functions.MinHashSigs
      .compute(new GenericArrayData(hashes), k).toLongArray()

    val replay = (0 until k).map { j =>
      val mixed = hashes.map(h => mix(h ^ (j * 0xC2B2AE3D27D4EB4FL)))
      // the identity under test: min in the xor(·, 2^63) unsigned
      // domain, computed with BigInteger so no signed Long compare can
      // sneak back in
      val minFlipped = mixed.map(v => toUnsigned(v).xor(SignBit)).min
      val back = minFlipped.xor(SignBit)
      // back to the Long bit pattern
      back.subtract(if (back.testBit(63)) M64 else java.math.BigInteger.ZERO)
        .longValueExact()
    }
    assert(engine.toSeq == replay,
      "replayed signatures must equal the engine's signed-min signatures bitwise")
    // the test is vacuous unless the mixed values actually straddle
    // the sign bit in at least one slot
    val straddles = (0 until k).exists { j =>
      val mixed = hashes.map(h => mix(h ^ (j * 0xC2B2AE3D27D4EB4FL)))
      mixed.exists(_ < 0) && mixed.exists(_ >= 0)
    }
    assert(straddles, "fixture must straddle the sign bit")
    // and a plain UNSIGNED min (the pre-r17 replay) must DISAGREE here,
    // or the fixture doesn't witness the bug
    val unsignedMin = (0 until k).map { j =>
      val mixed = hashes.map(h => mix(h ^ (j * 0xC2B2AE3D27D4EB4FL)))
      val mn = mixed.map(toUnsigned).min
      mn.subtract(if (mn.testBit(63)) M64 else java.math.BigInteger.ZERO)
        .longValueExact()
    }
    assert(unsignedMin != engine.toSeq,
      "the unsigned-order min must diverge on a sign-straddling fixture")
  }

  /** RFC 3986 §5.4's own example tables — normal (§5.4.1) AND
    * abnormal (§5.4.2, strict mode) — pinned verbatim against
    * [[graft.functions.UrlResolveCore]]. */
  test("url_resolve: RFC 3986 §5.4 normal and abnormal reference-resolution examples") {
    import graft.functions.UrlResolveCore.resolveStr
    val base = "http://a/b/c/d;p?q"
    val cases = Seq(
      // §5.4.1 normal
      "g:h" -> "g:h", "g" -> "http://a/b/c/g", "./g" -> "http://a/b/c/g",
      "g/" -> "http://a/b/c/g/", "/g" -> "http://a/g", "//g" -> "http://g",
      "?y" -> "http://a/b/c/d;p?y", "g?y" -> "http://a/b/c/g?y",
      "#s" -> "http://a/b/c/d;p?q#s", "g#s" -> "http://a/b/c/g#s",
      "g?y#s" -> "http://a/b/c/g?y#s", ";x" -> "http://a/b/c/;x",
      "g;x" -> "http://a/b/c/g;x", "g;x?y#s" -> "http://a/b/c/g;x?y#s",
      "" -> "http://a/b/c/d;p?q", "." -> "http://a/b/c/",
      "./" -> "http://a/b/c/", ".." -> "http://a/b/",
      "../" -> "http://a/b/", "../g" -> "http://a/b/g",
      "../.." -> "http://a/", "../../" -> "http://a/",
      "../../g" -> "http://a/g",
      // §5.4.2 abnormal
      "../../../g" -> "http://a/g", "../../../../g" -> "http://a/g",
      "/./g" -> "http://a/g", "/../g" -> "http://a/g",
      "g." -> "http://a/b/c/g.", ".g" -> "http://a/b/c/.g",
      "g.." -> "http://a/b/c/g..", "..g" -> "http://a/b/c/..g",
      "./../g" -> "http://a/b/g", "./g/." -> "http://a/b/c/g/",
      "g/./h" -> "http://a/b/c/g/h", "g/../h" -> "http://a/b/c/h",
      "g;x=1/./y" -> "http://a/b/c/g;x=1/y",
      "g;x=1/../y" -> "http://a/b/c/y",
      "g?y/./x" -> "http://a/b/c/g?y/./x",
      "g?y/../x" -> "http://a/b/c/g?y/../x",
      "g#s/./x" -> "http://a/b/c/g#s/./x",
      "g#s/../x" -> "http://a/b/c/g#s/../x",
      // strict mode: ref's own scheme wins even when it equals base's
      "http:g" -> "http:g")
    for ((ref, want) <- cases)
      assert(resolveStr(base, ref) == want, s"resolve($base, $ref)")
    // no defined target: relative ref against a scheme-less base
    assert(resolveStr("", "/x") == null)
    assert(resolveStr("not a url", "../x") == null)
    // absolute ref still resolves with no usable base (dot-normalized)
    assert(resolveStr("", "https://e.com/a/../b") == "https://e.com/b")
    // authority with empty base path: merge prepends '/'
    assert(resolveStr("http://h", "g") == "http://h/g")
  }

  /** pageDirectives r17 widening: unquoted attribute values,
    * multi-token rel lists, relative hrefs resolved against the page
    * URL and `<base href>`, and the urlDedup composition — a relative
    * canonical that collides textually across sites must merge
    * mirrors correctly ONLY after resolution. */
  test("pageDirectives: relaxed spellings resolve to usable dedup keys; urlDedup composition merges mirrors") {
    import graft.operators.{Domains, Html}
    val rows = Seq(
      // mirror pair: SAME relative canonical href on two hosts — the
      // raw href collides ("/canon/1" == "/canon/1"), the resolved
      // keys must NOT merge them (different sites)
      (1L, "http://a.com/x/p1", "<html><head><link rel=\"canonical alternate\" href=/canon/1></head><body>m</body></html>"),
      (2L, "http://b.com/y/p2", "<html><head><link rel=canonical href=/canon/1></head><body>m</body></html>"),
      // true mirror: parameter variant of doc 1's URL declaring the
      // same absolute target via a dot-segment relative href
      (3L, "http://a.com/x/sub/p3", "<html><head><link rel='canonical' href='../../canon/1'></head><body>m</body></html>"),
      // <base href> overrides the page URL as resolution base
      (4L, "http://c.com/z/p4", "<html><head><base href=\"https://cdn.net/lib/\"><link rel=\"canonical\" href=\"art/4\"></head><body>m</body></html>"),
      // unquoted meta robots content
      (5L, "http://d.com/p5", "<html><head><meta name=robots content=noindex,nofollow></head><body>m</body></html>"),
      // no canonical, no robots
      (6L, "http://e.com/p6", "<html><head><title>t</title></head><body>m</body></html>"))
      .toDF("doc_id", "uri", "html")
    val d = Html.pageDirectives(rows, "html", pageUrlCol = Some("uri"))
      .select($"doc_id", $"rel_canonical", $"canonical_resolved",
        $"base_href", $"meta_robots", $"noindex", $"nofollow")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(d(1L).getString(1) == "/canon/1")
    assert(d(1L).getString(2) == "http://a.com/canon/1")
    assert(d(2L).getString(2) == "http://b.com/canon/1")
    assert(d(3L).getString(2) == "http://a.com/canon/1")
    assert(d(4L).getString(3) == "https://cdn.net/lib/")
    assert(d(4L).getString(2) == "https://cdn.net/lib/art/4")
    assert(d(5L).getString(4) == "noindex,nofollow")
    assert(d(5L).getBoolean(5) && d(5L).getBoolean(6))
    assert(d(6L).isNullAt(1) && d(6L).isNullAt(2) && d(6L).isNullAt(4))
    assert(!d(6L).getBoolean(5) && !d(6L).getBoolean(6))

    // the composition the operator exists for: canonical_resolved
    // (falling back to the page's own canonicalized URL) as the
    // urlDedup key. Docs 1 and 3 merge (same resolved target); doc 2
    // stays its own cluster despite the textually-identical raw href;
    // doc 6 dedups under its own URL.
    val keyed = Html.pageDirectives(rows, "html", pageUrlCol = Some("uri"))
      .withColumn("dedup_key",
        coalesce($"canonical_resolved", Domains.canonicalizeUrl($"uri")))
    val clusters = Domains.urlDedup(keyed, uriCol = "dedup_key")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(clusters("http://a.com/canon/1") == 2L,
      "docs 1 and 3 must merge under the resolved canonical")
    assert(clusters("http://b.com/canon/1") == 1L,
      "doc 2 must NOT merge with the a.com mirror pair")
    assert(clusters.values.sum == 6L)
  }

  /** The persisted dedup-index artifact (r17 — q105's build-once
    * form): each frame [[Dedup.writeDedupIndex]] persists must read
    * back as [[Dedup.buildDedupIndex]]'s in-memory frame, and the
    * read-back index must drive deltaDedupIndexed to the direct
    * operator's exact novel set under a BITING hot-shingle cap (the
    * CorpusIngestSpec equivalence, extended through the parquet
    * layer). */
  test("writeDedupIndex/readDedupIndex round-trip preserves the indexed dedup answer") {
    import graft.operators.Dedup
    val docs = (1L to 120L).map { i =>
      val base = s"tok${i % 7} alpha beta gamma delta tok${i % 11} " +
        s"epsilon zeta tok$i eta theta"
      // %5==0 delta docs: near-dups of their i-1 corpus neighbor
      val text = if (i % 5 == 0) s"tok${(i - 1) % 7} alpha beta gamma " +
        s"delta tok${(i - 1) % 11} epsilon zeta tok${i - 1} eta iota"
      else base
      (i, text)
    }.toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 5 =!= 0)
    val delta = docs.filter($"doc_id" % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-idx-rt").toFile
    try {
      Dedup.writeDedupIndex(corpus, dir.getAbsolutePath, k = 3)
      val read = Dedup.readDedupIndex(corpus, dir.getAbsolutePath)
      val built = Dedup.buildDedupIndex(corpus, k = 3)
      // every written frame equals the in-memory build as a multiset
      for ((a, b, name) <- Seq(
        (built.hashes, read.hashes, "hashes"),
        (built.shingles, read.shingles, "shingles"),
        (built.dfs, read.dfs, "dfs")))
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$name must round-trip")
      val direct = Dedup.deltaDedup(corpus, delta,
          maxShingleDocFreq = Some(2))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val viaArtifact = Dedup.deltaDedupIndexed(read, delta,
          k = 3, threshold = 0.6, maxShingleDocFreq = Some(2))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(viaArtifact == direct,
        s"missing=${(direct -- viaArtifact).take(5)} extra=${(viaArtifact -- direct).take(5)}")
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(dir)
    }
  }

  /** srpBitsFor is the ladder's measured dial progression made an
    * artifact (the fanoutFor convention): ceil(log2(n·tables/occ))
    * reproduces the r16 q150srp ladder cells exactly — 12/14/16 bits
    * at n = 2000/8000/32000 (tables 8, occupancy 4) — and grows +2
    * bits per 4× data, holding expected bucket occupancy (and the
    * candidate share) constant. */
  test("srpBitsFor reproduces the ladder's 12→14→16 progression and grows +2 per 4×") {
    import graft.operators.Similarity.srpBitsFor
    assert(srpBitsFor(2000L) == 12)
    assert(srpBitsFor(8000L) == 14)
    assert(srpBitsFor(32000L) == 16)
    assert(srpBitsFor(128000L) == 18)
    // +2 per 4× across the production range
    for (n <- Seq(100000L, 1000000L, 100000000L))
      assert(srpBitsFor(4 * n) == srpBitsFor(n) + 2, s"n=$n")
    // floors and ceilings
    assert(srpBitsFor(0L) == 8, "tiny corpora floor at minBits")
    assert(srpBitsFor(Long.MaxValue, tables = 8) == 62,
      "the BIGINT bucket key caps bits at 62 (overflow-safe)")
    // a billion-vector corpus at the default dials: 31 bits — far
    // from both bounds, linear cost (tables × bits projections/vec)
    assert(srpBitsFor(1000000000L) == 31)
  }

  /** The generated q35 SQL must carry the sign-flip form, not a bare
    * min(mv) — a regression guard on the generator text itself. */
  test("q35 replay SQL takes min in the sign-flipped domain") {
    val sql = ops.LshOracleSql.minHashPairsSql(k = 3, numHashes = 16,
      bands = 4, thresholdSql = "0.6")
    assert(sql.contains("xor(min(xor(mv, 9223372036854775808::UBIGINT)), 9223372036854775808::UBIGINT)"))
    assert(!sql.contains("min(mv) AS sv"))
  }

  /** Independent reimplementation of the HLL register algorithm
    * (MessageDigest md5 → 60-bit prefix → top-8-bit index →
    * 1 + leading zeros of the 52-bit remainder, max per register) —
    * the engine's q191 register table must match it row-for-row.
    * This is the q35 lesson applied up front: the oracle gate alone
    * can be coincidentally green on an easy fixture; the pin
    * certifies the SAMPLER, on keys that exercise w = 0 never but
    * high ranks often (400 sequential keys hit rank ≥ 8 regularly).
    */
  private def refHllRegisters(keys: Seq[(String, String)])
      : Map[(String, Long), Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    keys.foldLeft(Map.empty[(String, Long), Int]) { case (acc, (g, key)) =>
      val hex = md.digest(key.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      val hv = java.lang.Long.parseLong(hex, 16) // 60 bits: sign-safe
      val j = hv >>> 52
      val w = hv & ((1L << 52) - 1)
      val r = if (w == 0L) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      val k = (g, j)
      if (acc.getOrElse(k, 0) >= r) acc else acc.updated(k, r)
    }
  }

  test("hllRegisters matches an independent reimplementation row-for-row") {
    import graft.operators.Sketches
    val keys = (0 until 400).map(i => (s"g${i % 3}", s"user$i:2026-01-${1 + i % 28}"))
    val df = keys.toDF("grp", "key")
    val got = Sketches.hllRegisters(df, "grp", "key", b = 8)
      .collect()
      .map(row => ((row.getString(0), row.getLong(1)), row.getInt(2)))
      .toMap
    val want = refHllRegisters(keys)
    assert(got == want,
      s"register tables diverge: engine-only=${(got.toSet -- want.toSet).take(5)} " +
        s"ref-only=${(want.toSet -- got.toSet).take(5)}")
    assert(want.values.max >= 8, "fixture must exercise high ranks")
  }

  /** The HLL merge law: the register table of A ∪ B equals the
    * elementwise max of the two tables — the property Structured
    * Streaming's partial-merge and any two-corpus combine rely on.
    * Random splits, duplicated keys across sides (set semantics). */
  test("hllRegisters(A ∪ B) = elementwise max of the split tables") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(1717L)
    val all = (0 until 300).map(i => (s"t${i % 2}", s"k${rnd.nextInt(150)}"))
    val (a, b) = all.partition(_ => rnd.nextBoolean())
    // duplicate some of A's keys into B: merges must be insensitive
    val bDup = b ++ a.take(20)
    def regs(rows: Seq[(String, String)]) =
      Sketches.hllRegisters(rows.toDF("grp", "key"), "grp", "key", b = 8)
        .collect()
        .map(row => ((row.getString(0), row.getLong(1)), row.getInt(2)))
        .toMap
    val whole = regs(all)
    val ra = regs(a)
    val rb = regs(bDup)
    val merged = (ra.keySet ++ rb.keySet).map { k =>
      k -> math.max(ra.getOrElse(k, 0), rb.getOrElse(k, 0))
    }.toMap
    assert(merged == whole)
  }

  /** q191's estimator on a known-cardinality fixture: 2,000 distinct
    * keys through the full composed operator land within the
    * documented ±1.04/√256 ≈ 6.5 % σ band (asserted at 3σ), the
    * fixture sits in the RAW regime (est > 2.5·m — the scaladoc's
    * regime split), and the estimate is a pure function of the key
    * SET (a 3× duplicated input changes nothing). */
  test("hllDistinctEstimate: accuracy band, raw regime, duplication invariance") {
    import graft.operators.Sketches
    val base = (0 until 2000).map(i => ("g", s"id-$i"))
    val est1 = Sketches.hllDistinctEstimate(
      base.toDF("grp", "key"), "grp", "key", b = 8)
      .select("est_distinct").head().getLong(0)
    assert(est1 > 640, s"fixture must sit in the raw regime, est=$est1")
    assert(math.abs(est1 - 2000) <= 400, // 3σ ≈ 390 at m=256
      s"estimate $est1 outside the 3-sigma band around 2000")
    val est3 = Sketches.hllDistinctEstimate(
      (base ++ base ++ base).toDF("grp", "key"), "grp", "key", b = 8)
      .select("est_distinct").head().getLong(0)
    assert(est3 == est1, "the estimate must be a pure function of the key set")
  }

  /** The HLL scaladoc's streaming claim, executed: in Complete mode
    * Structured Streaming keeps exactly the REGISTER TABLE per group
    * in the state store (one aggregate — streaming supports no
    * chained aggs, so the estimator runs as a batch read over the
    * ≤ m·|groups|-row streamed output), merging micro-batch partials
    * through the aggregate's own max — so the continuously-maintained
    * registers, and the estimate read off them, must equal the batch
    * forms over the union, with cross-batch duplicates deduped by
    * max-idempotence (no set buffer needed, unlike KMV). Mirrors the
    * kmv streaming spec (Round9WideningSpec). */
  test("streaming HLL registers: final state equals the batch sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Sketches
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val b1 = (1 to 900).map(i => ("a", s"k$i")) ++
      (1 to 400).map(i => ("b", s"k$i"))
    val b2 = (600 to 1500).map(i => ("a", s"k$i")) ++
      (1 to 400).map(i => ("b", s"k$i")) // b re-sends everything
    val ms = MemoryStream[(String, String)]
    val q = Sketches.hllRegisters(
        ms.toDF().toDF("g", "id"), "g", "id", b = 8)
      .writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      val streamedRegs = spark.table("hll_stream").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      val batchRegs = Sketches.hllRegisters(
          (b1 ++ b2).toDF("g", "id"), "g", "id", b = 8).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(streamedRegs == batchRegs,
        "the state-store register table must equal the batch register table")
      // the estimator over the streamed table == the batch estimate
      val streamedEst = Sketches.hllEstimateFromRegisters(
          spark.table("hll_stream"), "g", b = 8).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      val batchEst = Sketches.hllDistinctEstimate(
          (b1 ++ b2).toDF("g", "id"), "g", "id", b = 8).collect()
        .map(r => r.getString(0) -> r.getLong(4)).toMap
      assert(streamedEst == batchEst)
      // 'b' was sent twice in full: the estimate must not double
      assert(streamedEst("b") < 700,
        s"cross-batch duplicates must not inflate the estimate: ${streamedEst("b")}")
    } finally q.stop()
  }

  /** The estimator's GENERIC dials: q191/q194 gate b=8 only, but the
    * operator claims b ∈ [7,15] — the rational-α and scaled-harmonic
    * constants are computed from b, so exercise the formula at the
    * ends and middle of the range on a known cardinality (the σ =
    * 1.04/√m band tightens as b grows; asserted at 3σ + a grace
    * margin for the small-m ends). The raw regime holds at b=7/10
    * but NOT at b=15 (5000 < 2.5·2¹⁵), so the top dial asserts the
    * v_zero emission instead: with m=32768 ≫ n the sketch is in the
    * linear-counting regime and the documented answer is the
    * emitted regime telemetry; assert exactly that). */
  test("hll estimator dials: b=7 and b=10 accuracy bands; b=15 regime telemetry") {
    import graft.operators.Sketches
    val base = (0 until 5000).map(i => ("g", s"key-$i"))
    for ((b, tol) <- Seq((7, 0.35), (10, 0.12))) {
      val est = Sketches.hllDistinctEstimate(
        base.toDF("grp", "key"), "grp", "key", b = b)
        .select("est_distinct").head().getLong(0)
      assert(math.abs(est - 5000.0) / 5000.0 <= tol,
        s"b=$b estimate $est outside ±${tol * 100}% of 5000")
    }
    // b=15: m = 32768 > n — the raw-regime precondition fails by
    // construction and the scaladoc's answer is the emitted
    // telemetry: v_zero is large and visible, the caller's cue to
    // hand off to KMV (exact below k) in this regime
    val row = Sketches.hllDistinctEstimate(
      base.toDF("grp", "key"), "grp", "key", b = 15)
      .select("n_regs_hit", "v_zero").head()
    assert(row.getLong(1) > 25000,
      "with m >> n the wrong regime must be VISIBLE in v_zero")
    assert(row.getLong(0) < 6000)
  }

  /** q194's pair algebra must be CONSISTENT with q191's single-group
    * estimator (same registers → identical per-group estimates inside
    * the pair frame), and structurally sound: the union estimate can
    * never fall below either side's (elementwise max ⇒ the union's
    * harmonic sum is ≤ both sides'), with the union-register law
    * itself already pinned by the merge-law test above. */
  test("hllPairAlgebra: per-group estimates match hllEstimateFromRegisters; union >= both sides") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(4242L)
    val rows = (0 until 1200).map { i =>
      (s"g${i % 3}", s"k${rnd.nextInt(800) + (i % 3) * 500}")
    }
    val regs = Sketches.hllRegisters(rows.toDF("g", "id"), "g", "id", b = 8)
    val single = Sketches.hllEstimateFromRegisters(regs, "g", b = 8)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    val pairs = Sketches.hllPairAlgebra(regs, "g", b = 8).collect()
    assert(pairs.length == 3) // C(3,2)
    pairs.foreach { r =>
      val (t1, t2) = (r.getString(0), r.getString(1))
      val (e1, e2, eu, ei) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(e1 == single(t1) && e2 == single(t2),
        s"pair-side estimates must equal the single-group estimator: $t1/$t2")
      assert(eu >= math.max(e1, e2),
        s"union estimate below a side: $eu < max($e1, $e2)")
      assert(ei >= 0 && ei <= eu)
    }
  }

  /** The Bloom pre-filter's load-bearing guarantees: bitmaps merge by
    * OR (two half-builds, with cross-side duplicates, OR'd together
    * == the whole build — the property partial aggregation and
    * two-corpus combines rely on), every INSERTED key probes
    * maybe=true (no false negatives — the Bloom theorem, structural),
    * and on the fixture corpus every doc the EXACT decontamination
    * (q48) flags is flagged by the pre-filter — the containment that
    * makes the 100 TB split (Bloom pass first, exact join on
    * survivors only) sound. */
  test("bloomBits/bloomMaybe: OR merge law, no false negatives, q48 containment") {
    import graft.operators.Sketches
    val rnd = new scala.util.Random(9317L)
    val all = (0 until 300).map(_ => s"k${rnd.nextInt(140)}")
    val (a, b) = all.partition(_ => rnd.nextBoolean())
    def bm(keys: Seq[String]) =
      Sketches.bloomBits(keys.toDF("key"), "key", mBits = 4096)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = bm(all)
    val ra = bm(a ++ b.take(10))
    val rb = bm(b)
    val merged = (ra.keySet ++ rb.keySet)
      .map(w => w -> (ra.getOrElse(w, 0L) | rb.getOrElse(w, 0L))).toMap
    assert(merged == whole)
    val bitsDf = Sketches.bloomBits(all.toDF("key"), "key", mBits = 4096)
    val probed = Sketches.bloomMaybe(all.distinct.toDF("key"), "key",
      bitsDf, carry = Seq("key"), mBits = 4096)
    assert(probed.filter(!$"maybe").count() == 0,
      "an inserted key must never probe maybe=false")
    val bloomFlagged = graft.ops.TextQueries
      .q193BloomDecontaminate(spark, SparkTestSession.sf)
      .filter($"flagged_bloom").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val exactFlagged = graft.ops.TextQueries
      .q48Decontaminate(spark, SparkTestSession.sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exactFlagged.subsetOf(bloomFlagged),
      s"Bloom missed exact-flagged docs: ${(exactFlagged -- bloomFlagged).take(5)}")
  }

  /** The extended-entity loader and `html_unescape_full` boundaries:
    * the committed snapshot (published entities.json format,
    * provenance-disclosed transcription) parses — multi-codepoint
    * ligature included, the `_provenance` key skipped — HTML5-only
    * names decode through the merged table, the DEFAULT decoder still
    * passes them through (the compiled table's documented non-goal
    * must not move), extension names never decode without their
    * semicolon (the no-semicolon set is the spec-frozen Legacy list,
    * extension-independent), and the SQL route loads by path at plan
    * time. */
  test("html_unescape_full: snapshot-extended decode with frozen legacy boundaries") {
    import graft.functions.{HtmlEntities, HtmlUnescapeCore}
    import org.apache.spark.unsafe.types.UTF8String
    val table = HtmlEntities.load(spark,
      "classpath:graft/html5_entities_snapshot.json")
    assert(table("check") == "✓")
    assert(table("fjlig") == "fj", "multi-codepoint entries must survive")
    assert(!table.contains("_provenance") &&
      !table.keys.exists(_.startsWith("&")))
    val merged = HtmlUnescapeCore.Named ++ table
    def full(s: String) =
      HtmlUnescapeCore.unescapeWith(UTF8String.fromString(s), merged).toString
    def dflt(s: String) =
      HtmlUnescapeCore.unescape(UTF8String.fromString(s)).toString
    assert(full("a &check; b") == "a ✓ b")
    assert(dflt("a &check; b") == "a &check; b",
      "the compiled table's non-goal must not move")
    assert(full("&fjlig;ord &Zopf;") == "fjord ℤ")
    assert(full("caf&eacute; &DoubleLongLeftArrow;") == "café ⟸")
    assert(full("&check mark") == "&check mark",
      "extension names must not decode semicolon-less")
    assert(full("&copy 2020") == "© 2020",
      "the frozen legacy set still decodes semicolon-less through the merged table")
    assert(full("&zzznope; x") == "&zzznope; x")
    // ...and a legacy PREFIX inside an unknown name decodes through
    // it (the spec's `&notit;` -> `(not-sign)it;` parse, already pinned
    // for the compiled table): extension loading must not change that
    assert(full("&notarealname;") == "\u00acarealname;")
    // SQL route: the registered function loads the table by path at
    // analysis time and ships it inside the expression
    graft.GraftSession.registerFunctions(spark)
    val out = spark.sql("SELECT html_unescape_full('&star;&starf; &amp;', " +
      "'classpath:graft/html5_entities_snapshot.json') AS d")
      .head().getString(0)
    assert(out == "☆★ &")
  }
}
