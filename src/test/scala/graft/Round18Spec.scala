package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-18 hardening pins. */
class Round18Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  /** The r18 engine-side hex→long swap: Spark computes md5-slice
    * values with the codegen'd `conv(hex, 16, 10)` built-in
    * ([[graft.ops.Md5Key.hexToLongSparkAt]]) while the DuckDB oracle
    * keeps the portable instr polynomial ([[Md5Key.hexToLongAt]]).
    * The hash gate compares VALUES, so the whole cross-engine
    * contract now rests on conv == polynomial over lowercase hex —
    * THE fuzz this test is. 500 random digests × every (offset,
    * width) shape the engine uses (4-hex CM rows, 5-hex q147 slices,
    * 8-hex Bloom positions, the 15-hex KMV/HLL key) plus boundary
    * digests (all-0, all-f). */
  test("hexToLongSparkAt (conv) == hexToLongAt (instr polynomial) on md5 slices") {
    import graft.ops.Md5Key
    import org.apache.spark.sql.functions._
    val shapes = Seq((1, 4), (5, 4), (29, 4), (1, 5), (11, 5), (1, 8),
      (17, 8), (25, 8), (1, 15), (18, 15))
    val df = spark.range(500)
      .select(expr("md5(cast(id as string))").as("hx"))
      .union(Seq("0" * 32, "f" * 32, "0123456789abcdef0123456789abcdef")
        .toDF("hx"))
    val checks = shapes.zipWithIndex.flatMap { case ((off, w), i) =>
      Seq(expr(Md5Key.hexToLongSparkAt("hx", off, w)).as(s"c$i"),
        expr(Md5Key.hexToLongAt("hx", off, w)).as(s"p$i"))
    }
    val rows = df.select(checks: _*).collect()
    rows.foreach { r =>
      shapes.indices.foreach { i =>
        assert(r.getLong(2 * i) === r.getLong(2 * i + 1),
          s"conv != polynomial at shape ${shapes(i)}: $r")
      }
    }
  }

  /** The r18 single-digest convention: d hash functions read disjoint
    * slices of ONE md5 per row. Pins (a) the slice layout — bucket r
    * of [[graft.operators.Sketches.withCmBuckets]] equals the 4-hex
    * slice at offset 1+4r of md5(key || ':' || tag) — and (b) the
    * dial bounds that keep every slice inside the 32-hex digest. */
  test("single-digest slice layout: withCmBuckets/bloomBits read disjoint md5 slices") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions._
    val keys = (0 until 64).map(i => s"key-$i").toDF("key")
    val got = Sketches.withCmBuckets(keys, "key", "cm", d = 3, w = 64,
        carry = Seq("key"))
      .groupBy("key").pivot("r", Seq(0, 1, 2)).agg(first("b"))
    val want = keys.select(col("key"),
      expr("md5(key || ':cm')").as("hx"))
      .select(col("key"),
        expr("cast(conv(substr(hx, 1, 4), 16, 10) as bigint) % 64").as("e0"),
        expr("cast(conv(substr(hx, 5, 4), 16, 10) as bigint) % 64").as("e1"),
        expr("cast(conv(substr(hx, 9, 4), 16, 10) as bigint) % 64").as("e2"))
    val j = got.join(want, "key")
      .filter(col("0") =!= col("e0") || col("1") =!= col("e1") ||
        col("2") =!= col("e2"))
    assert(j.count() === 0)
    // dial bounds: the digest has 8 4-hex / 4 8-hex slices, no more
    intercept[IllegalArgumentException] {
      Sketches.withCmBuckets(keys, "key", "cm", d = 9, w = 64, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Sketches.bloomBits(keys, "key", kHash = 5)
    }
  }

  /** [[graft.operators.Sketches.adaptiveDistinct]] against TRUTH (the
    * q195 oracle certifies cross-engine replay; this pins semantics):
    * a group inside the KMV exact band routes 'kmv' and reports the
    * EXACT cardinality — the regime where HLL's raw estimator is the
    * documented 5× trap — while a group above the 5m/2 floor routes
    * 'hll' and lands within the ±1.04/√m band (3σ + grace). */
  test("adaptiveDistinct: exact below k via KMV route, HLL raw above the floor") {
    import graft.operators.Sketches
    val small = (0 until 30).map(i => ("small", s"s-$i"))
    val big = (0 until 5000).map(i => ("big", s"b-$i"))
    val df = (small ++ big ++ small ++ big).toDF("grp", "key") // dups free
    val out = Sketches.adaptiveDistinct(df, "grp", "key")
      .collect().map(r => r.getAs[String]("grp") ->
        (r.getAs[String]("route"), r.getAs[Long]("est_distinct"))).toMap
    assert(out("small") === ("kmv", 30L))
    val (routeBig, estBig) = out("big")
    assert(routeBig === "hll")
    val sigma = 1.04 / math.sqrt(256.0)
    assert(math.abs(estBig - 5000.0) / 5000.0 < 3 * sigma + 0.05,
      s"HLL-routed estimate $estBig too far from 5000")
  }

  /** COVERAGE.md §2.11 is GENERATED from [[graft.functions
    * .FunctionCatalog]] (r18, VERDICT r17 item 8): the doc said "six
    * native expressions" for several rounds while the catalog grew to
    * 29. This test regenerates the table rows from
    * `FunctionCatalog.all` — same name/usage, `|` escaped for the
    * markdown cell — and asserts the §2.11 section contains EXACTLY
    * those rows in catalog order, so the doc can never drift again:
    * adding a function without re-running the generator line below
    * fails this test. Regenerate with:
    * `FunctionCatalog.all.map(f => s"| \\`\${f.name}\\` | ...")`. */
  test("COVERAGE.md §2.11 table is byte-identical to FunctionCatalog") {
    import graft.functions.FunctionCatalog
    val md = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("COVERAGE.md")), "UTF-8")
    val section = md.split(java.util.regex.Pattern.quote("## §2.11 UDF surface"))(1)
      .split("\n## ")(0)
    val docRows = section.linesIterator.filter(_.startsWith("| `")).toSeq
    val want = FunctionCatalog.all.map { f =>
      s"| `${f.name}` | `${f.usage.replace("|", "\\|")}` |"
    }
    assert(docRows === want,
      "COVERAGE.md §2.11 drifted from FunctionCatalog.all — regenerate the table")
    assert(want.size === FunctionCatalog.all.size)
  }

  /** [[graft.operators.Similarity.semanticRouteFor]] — the sign-band →
    * SRP handoff rule, pinned at the MEASURED ladder points (q150
    * fixture: dim 64, 8 bands): 1×/4× reproduce the zero-spill manual
    * dials (signband 6/8), 16× is exactly where the capped sign form
    * spilled 5.6 GB and the route must flip to SRP at srpBitsFor's 16.
    * Plus the ceiling law: more dims re-admit the sign family at the
    * same n; fewer dims force SRP earlier. */
  test("semanticRouteFor: ladder dials reproduced, flip at the dim ceiling") {
    import graft.operators.Similarity.semanticRouteFor
    assert(semanticRouteFor(2000L, 64) === ("signband", 6))   // 1x
    assert(semanticRouteFor(8000L, 64) === ("signband", 8))   // 4x
    assert(semanticRouteFor(32000L, 64) === ("srp", 16))      // 16x
    assert(semanticRouteFor(32000L, 128)._1 === "signband")   // more dims
    assert(semanticRouteFor(2000L, 16) === ("srp", 12))       // dim-starved
    assert(semanticRouteFor(0L, 64) === ("signband", 1))
  }

  /** [[graft.operators.Similarity.semanticNearDupPairsAuto]] equals
    * the directly-dialed form on BOTH sides of the handoff: the gate
    * is byte-identical across families, so the routed output must be
    * row-identical to the family the route picked. Vectors get
    * per-(id, dim) hash-noise directions (the ladder's decorrelation
    * convention) with planted near-dup pairs via shared directions. */
  test("semanticNearDupPairsAuto == the directly-dialed family on each side") {
    import graft.operators.Similarity
    import org.apache.spark.sql.functions._
    def corpus(n: Int, dim: Int) = spark.range(n)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(1, $dim), j -> " +
          // planted clusters: ids sharing id div 4 share a direction
          s"float(sin(xxhash64((id div 4) * 1048573 + j * 101))))")
          .as("embedding"))
    // signband side: n=200, dim=64 -> ("signband", 3)
    val c1 = corpus(200, 64)
    val (r1, d1) = Similarity.semanticRouteFor(200L, 64)
    assert(r1 === "signband")
    val auto1 = Similarity.semanticNearDupPairsAuto(c1, nOpt = Some(200L))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct1 = Similarity.semanticNearDupPairs(c1, bands = 8, bandBits = d1)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto1 === direct1 && auto1.nonEmpty)
    // srp side: dim 16 starves the ceiling (16/8 = 2 < wanted 3)
    val c2 = corpus(200, 16)
    val (r2, d2) = Similarity.semanticRouteFor(200L, 16)
    assert(r2 === "srp")
    val auto2 = Similarity.semanticNearDupPairsAuto(c2, nOpt = Some(200L))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct2 = Similarity.semanticNearDupPairsSrp(c2, tables = 8, bits = d2)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto2 === direct2 && auto2.nonEmpty)
  }

  /** [[graft.operators.Dedup.lshBandsFor]] — the LAST prose dial in
    * the dedup family gets its helper (srpBitsFor / fanoutFor /
    * bloomBitsFor precedent): bands from (signature width, target
    * threshold) via the S-curve inflection (1/b)^(1/r), nearest in
    * log space over the divisors of numHashes. Pins the deployed q35
    * dial and the recall direction (looser gate ⇒ never fewer
    * bands). */
  test("lshBandsFor: deployed q35 dial reproduced; looser gates never fewer bands") {
    import graft.operators.Dedup.lshBandsFor
    assert(lshBandsFor(16, 600) === 4) // the q35 shape: 16 hashes, 4 bands
    assert(lshBandsFor(16, 900) === 2)
    assert(lshBandsFor(16, 300) === 8)
    assert(lshBandsFor(16, 50) === 16)
    val ts = Seq(950L, 900L, 800L, 700L, 600L, 500L, 400L, 300L, 200L, 100L, 50L)
    val bs = ts.map(lshBandsFor(16, _))
    assert(bs === bs.sorted, s"band count must not drop as the gate loosens: $bs")
    for (nh <- Seq(8, 16, 32, 64); t <- ts)
      assert(nh % lshBandsFor(nh, t) === 0, s"b must divide $nh at t=$t")
  }

  /** [[graft.operators.Dedup.prefixJaccardPairs]] — the AllPairs/
    * PPJoin prefix filter (r18). The corpus plants 20 near-dup pairs
    * (40-word docs overlapping on 35) AND a 5-word boilerplate footer
    * on EVERY doc, so the full inverted self-join necessarily meets
    * all n(n−1)/2 pairs (every pair shares the footer shingles) —
    * the exact worst case maxShingleDocFreq exists to cap. Pins:
    * (a) LOSSLESSNESS — the prefix engine's pair set equals
    * ngramJaccardPairs' at the same 0.5 gate, integer columns and
    * all; (b) PRUNING — prefixCandidates stays strictly below the
    * all-pairs floor the naive index is forced to (the hot footer
    * sorts df-descending-last, out of every prefix). */
  test("prefixJaccardPairs == ngramJaccardPairs; candidates pruned below all-pairs") {
    import graft.operators.Dedup
    val n = 40
    val docs = (0 until n).map { i =>
      val g = i / 2
      val words =
        if (i % 2 == 0) (0 until 40).map(w => s"t${g * 1000 + w}")
        else (5 until 45).map(w => s"t${g * 1000 + w}")
      (i.toLong,
        (words ++ Seq("common", "footer", "sentence", "shared", "everywhere"))
          .mkString(" "))
    }.toDF("doc_id", "text")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2", "common", "n1", "n2").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    val exact = key(Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.5))
    val pref = key(Dedup.prefixJaccardPairs(docs, k = 3,
      thresholdPermille = 500L))
    assert(pref === exact)
    assert(exact.size >= n / 2, "the planted near-dup pairs must qualify")
    def candSet(positional: Boolean) =
      Dedup.prefixCandidates(docs, k = 3, thresholdPermille = 500L,
          positional = positional)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = candSet(positional = false)
    val positional = candSet(positional = true)
    assert(plain.size < n * (n - 1) / 2,
      s"prefix filter admitted the all-pairs floor: ${plain.size}")
    // PPJoin's positional filter only ever REMOVES false candidates:
    // a subset of the AllPairs meet that still covers the truth
    assert(positional.subsetOf(plain))
    val truth = exact.map(t => (t._1, t._2))
    assert(truth.subsetOf(positional))
  }

  /** Randomized equivalence property over the prefix engine: on
    * hash-derived corpora (3 seeds × the exactly-representable
    * thresholds 250/500/750‰ — .25/.5/.75 are dyadic, so the naive
    * path's DOUBLE gate and the prefix path's INTEGER gate cannot
    * disagree at the boundary) the two exact engines must emit the
    * same pair set. Docs share a word block with their seed-neighbor
    * so every corpus has qualifying pairs at every threshold. */
  test("prefixJaccardPairs == ngramJaccardPairs on randomized corpora") {
    import graft.operators.Dedup
    for (seed <- Seq(11, 42, 97); tp <- Seq(250L, 500L, 750L)) {
      val docs = (0 until 30).map { i =>
        // neighbor pairs (2j, 2j+1) differ in a 3·(j mod 5)-word tail
        // -> pair Jaccards sweep ~1.0 down to ~0.33, straddling every
        // threshold; a 4-word stop block salts every doc with hot
        // shingles the prefix filter must keep out of candidates
        val j = i / 2
        val changed = j % 5
        val words = (0 until 30).map { w =>
          if (w < 4) s"stop$w"
          else if (i % 2 == 1 && w >= 30 - changed * 3)
            s"x${j * 1000 + w + seed}"
          else s"w${j * 10000 + w * 31 + seed}"
        }
        (i.toLong, words.mkString(" "))
      }.toDF("doc_id", "text")
      def key(df: org.apache.spark.sql.DataFrame) =
        df.select("d1", "d2", "common").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val exact = key(Dedup.ngramJaccardPairs(docs, k = 3,
        threshold = tp / 1000.0))
      val pref = key(Dedup.prefixJaccardPairs(docs, k = 3,
        thresholdPermille = tp))
      assert(pref === exact, s"divergence at seed=$seed tp=$tp")
    }
  }

  /** The r18 prefix-filtered projection ([[graft.operators.Graph
    * .coEngagementEdgesShared]]) against the naive self-join + pair-count
    * form it replaced, on a hash-derived incidence frame — the
    * constant-overlap prefix lemma's losslessness pinned by exact
    * set equality (both directions, floor applied). */
  test("coEngagementEdges prefix form == naive projection join") {
    import graft.operators.Graph
    import org.apache.spark.sql.functions._
    val ev = spark.range(40).select(col("id").as("user_id"),
        explode(expr(
          "transform(sequence(1, 12), j -> pmod(xxhash64(id * 31 + j * 7), 30))"))
          .as("kv"))
      .select(col("user_id"),
        concat(lit("{\"k\": "), col("kv"), lit("}")).as("props"))
    val got = Graph.coEngagementEdgesShared(ev, minShared = 5L)
      .select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uk = ev.select(col("user_id"),
      expr("cast(get_json_object(props, '$.k') as bigint)").as("k")).distinct()
    val naive = uk.as("a").join(uk.as("b"),
        col("a.k") === col("b.k") && col("a.user_id") < col("b.user_id"))
      .groupBy(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .agg(count(lit(1)).as("s")).filter(col("s") >= 5)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap(t => Seq(t, (t._2, t._1))).toSet
    assert(got === naive && got.nonEmpty)
  }

  /** [[graft.operators.Graph.coEngagementEdgesShared]] hot-key cap: a key
    * every user engages is boilerplate affinity carrying |U|²/2 pair
    * rows and no signal — under `maxUsersPerKey` it must vanish from
    * the projection (the dedup family's maxShingleDocFreq twin),
    * while keys under the cap still project. Uncapped, the planted
    * hot key alone forces the complete graph. */
  test("coEngagementEdges: maxUsersPerKey drops boilerplate keys from the projection") {
    import graft.operators.Graph
    // 12 users all share key 999 (hot); users 0-3 also share key 1
    val rows = (0 until 12).map(u => (u.toLong, """{"k": 999}""")) ++
      (0 until 4).map(u => (u.toLong, """{"k": 1}"""))
    val ev = rows.toDF("user_id", "props")
    val uncapped = Graph.coEngagementEdgesShared(ev, minShared = 1L)
      .select("src", "dst").collect().length
    assert(uncapped === 12 * 11) // complete graph, both directions
    val capped = Graph.coEngagementEdgesShared(ev, minShared = 1L,
        maxUsersPerKey = Some(8))
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      a <- 0 until 4; b <- 0 until 4 if a != b
    } yield (a.toLong, b.toLong)).toSet
    assert(capped === want, "only the under-cap key-1 clique survives")
  }

  /** [[graft.operators.Graph.kCore]] — synchronous peel semantics on
    * hand-derivable graphs. Path v1–…–v6 at k=2: the peel must
    * CASCADE (round 1 drops both endpoints, round 2 the next layer,
    * round 3 empties it) and the fixed-iters contract means iters=2
    * returns exactly the round-2 survivor set {v3, v4} with deg
    * computed against round-1 survivors — the synchronous-update
    * detail the oracle's unrolled rounds replay. Clique K5 plus a
    * pendant chain at k=4: the chain peels, the clique survives as
    * the true 4-core at fixpoint (iters well past convergence), each
    * member at deg 4 — and the pendant-bearing clique node's deg must
    * read 4, not 5 (its chain edge is outside the core). */
  test("kCore: synchronous cascade on a path; true core on clique+pendant chain") {
    import graft.operators.Graph
    import org.apache.spark.sql.functions.col
    def sym(pairs: Seq[(String, String)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val path = sym((1 to 5).map(i => (s"v$i", s"v${i + 1}")))
    def cores(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cores(Graph.kCore(path, k = 2, iters = 2)) ===
      Map("v3" -> 2L, "v4" -> 2L))
    assert(Graph.kCore(path, k = 2, iters = 3).count() === 0)
    val clique = for {
      a <- 1 to 5; b <- 1 to 5 if a < b
    } yield (s"c$a", s"c$b")
    val g = sym(clique ++ Seq(("c1", "p1"), ("p1", "p2"), ("p2", "p3")))
    val core = cores(Graph.kCore(g, k = 4, iters = 8))
    assert(core === (1 to 5).map(i => s"c$i" -> 4L).toMap)
  }

  /** [[graft.operators.Graph.coreness]] — the h-index fixpoint on the
    * hand-derivable clique+pendant-chain graph (clique members sit in
    * the 4-core, every chain node peels at k=2 so coreness 1 — note
    * p1's DEGREE is 2 but its coreness is 1, the distinction a degree
    * filter cannot make), the fixpoint margin (one more round changes
    * nothing), and the cross-operator LAW: `{v : coreness ≥ k}` must
    * equal [[Graph.kCore]]'s k-core at every k. */
  test("coreness: h-index fixpoint on crafted graphs; law vs kCore") {
    import graft.operators.Graph
    def sym(pairs: Seq[(String, String)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val clique = for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (s"c$a", s"c$b")
    val g = sym(clique ++ Seq(("c1", "p1"), ("p1", "p2"), ("p2", "p3")))
    val cor = Graph.coreness(g, iters = 8).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = (1 to 5).map(i => s"c$i" -> 4L).toMap ++
      Map("p1" -> 1L, "p2" -> 1L, "p3" -> 1L)
    assert(cor === want)
    val cor9 = Graph.coreness(g, iters = 9).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cor9 === cor, "fixpoint margin: round 9 must equal round 8")
    for (k <- Seq(2, 4)) {
      val fromCoreness = cor.filter(_._2 >= k).keySet
      val fromKCore = Graph.kCore(g, k = k, iters = 8)
        .collect().map(_.getString(0)).toSet
      assert(fromCoreness === fromKCore, s"coreness/kCore law violated at k=$k")
    }
  }

  /** [[graft.operators.Graph.kTruss]] — truss semantics on
    * hand-derivable graphs. K5 + a pendant triangle {c1, c2, x}: at
    * k=4 the pendant's two x-edges have support 1 and peel round 1,
    * while every K5 edge sits in 3 triangles and survives as the true
    * 4-truss — x has DEGREE 2 but no reinforced ties, the distinction
    * a core cannot make ((c1,c2)'s support must read 3 post-peel, not
    * its initial 4). Two triangles sharing edge (b,c) at k=4: the
    * peel must CASCADE — round 1 keeps only (b,c) (support 2), round
    * 2 finds its support collapsed to 0 and empties the graph —
    * pinning the synchronous re-evaluation the oracle unrolls. */
  test("kTruss: pendant-triangle peel on K5; synchronous cascade to empty") {
    import graft.operators.Graph
    def sym(pairs: Seq[(String, String)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val clique = for { a <- 1 to 5; b <- 1 to 5 if a < b } yield (s"c$a", s"c$b")
    val g = sym(clique ++ Seq(("c1", "x"), ("c2", "x")))
    val truss = Graph.kTruss(g, k = 4, iters = 5).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = clique.map(e => e -> 3L).toMap
    assert(truss === want)
    val twoTri = sym(Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("b", "d"), ("c", "d")))
    val r1 = Graph.kTruss(twoTri, k = 4, iters = 1).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(r1 === Map(("b", "c") -> 2L))
    assert(Graph.kTruss(twoTri, k = 4, iters = 2).count() === 0)
  }

  /** The r18 INCREMENTAL truss rounds (recompute only edges incident
    * to a removal endpoint, carry every other support forward)
    * against an independent full-recompute reference peel, on
    * hash-derived random graphs across k and round counts — supports
    * included, since the carried-value-equals-fresh-value claim is
    * exactly what could silently break. */
  test("kTruss incremental rounds == synchronous reference peel on random graphs") {
    import graft.operators.Graph
    val pairs = for {
      a <- 0 until 60; b <- (a + 1) until 60
      if (a * 1315423911L + b * 2654435761L) % 97 < 22
    } yield (a.toLong, b.toLong)
    def reference(k: Int, iters: Int): Map[(Long, Long), Long] = {
      var e = pairs.toSet
      var sup: Map[(Long, Long), Long] = Map.empty
      for (_ <- 1 to iters) {
        val adj = scala.collection.mutable.Map[Long, Set[Long]]()
          .withDefaultValue(Set.empty)
        e.foreach { case (x, y) => adj(x) += y; adj(y) += x }
        sup = e.iterator.map(p =>
          p -> (adj(p._1) & adj(p._2)).size.toLong).toMap
        e = sup.filter(_._2 >= k - 2).keySet
      }
      sup.filter { case (_, s) => s >= k - 2 }
    }
    val df = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    for (k <- Seq(4, 6); it <- Seq(1, 2, 4)) {
      val got = Graph.kTruss(df, k = k, iters = it).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === reference(k, it), s"divergence at k=$k iters=$it")
    }
  }

  /** [[graft.operators.Domains.robotsParse]] /
    * [[graft.operators.Domains.robotsDecision]] — the REP details the
    * q200 oracle exercises in aggregate, pinned row-level: rules
    * before any group are ignored; a specific-agent group never
    * leaks into the `*` view; STACKED user-agent lines share one
    * group; trailing comments strip; an empty `Disallow:` emits
    * nothing; decisions take the longest match (`/a/b` beats `/a` —
    * and matching runs over path+query since r19, so `/a/zz?q=/a/b`
    * still PREFIX-matches only `/a`), and no-match / unknown host
    * default to allowed with a null matched_prefix. */
  test("robotsParse/robotsDecision: REP groups, longest match, defaults") {
    import graft.operators.Domains
    val txt = Seq(
      "Disallow: /orphan",
      "User-agent: gptbot",
      "Disallow: /",
      "User-agent: specialbot",
      "User-agent: *",
      "Allow: /a  # trailing comment",
      "Disallow: /a/b",
      "Disallow:",
      "User-agent: otherbot",
      "Disallow: /a"
    ).mkString("\n")
    val robots = Seq(("x.org", txt)).toDF("host", "robots_txt")
    val rules = Domains.robotsParse(robots).collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(rules === Set(("/a", true), ("/a/b", false)))
    val pages = Seq(
      (1L, "http://x.org/a/b/c"),
      (2L, "http://x.org/a/zz?q=/a/b"),
      (3L, "http://x.org/other"),
      (4L, "http://nobody.org/a/b")
    ).toDF("doc_id", "url")
    val out = Domains.robotsDecision(pages, Domains.robotsParse(robots))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), Option(r.getString(3)))))
      .toMap
    assert(out(1L) === ((false, Some("/a/b"))))
    assert(out(2L) === ((true, Some("/a"))))
    assert(out(3L) === ((true, None)))
    assert(out(4L) === ((true, None)))
    // §2.2.1 group selection: a crawler with its OWN group uses only
    // it (star is the fallback, never a union) ...
    val gpt = Domains.robotsParse(robots, agent = "gptbot").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(gpt === Set(("/", false)))
    // ... one with no group falls back to the star view ...
    val nb = Domains.robotsParse(robots, agent = "nobodybot").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(nb === rules)
    // ... and one STACKED in the star block selects that same block
    val sp = Domains.robotsParse(robots, agent = "SpecialBot").collect()
      .map(r => (r.getString(1), r.getBoolean(2))).toSet
    assert(sp === rules)
  }

  /** [[graft.operators.Domains.robotsDecision]] is STATELESS (per-
    * host rule arrays + in-row argmax, no page-volume aggregation),
    * so the SAME function must run under Structured Streaming append
    * mode as a stream-static join and emit exactly the batch rows —
    * across micro-batches, including an unknown-host default-allow
    * row. */
  test("robotsDecision: streaming append mode == batch, same function") {
    import graft.operators.Domains
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rules = Domains.robotsParse(Seq(("x.org",
      "User-agent: *\nAllow: /a\nDisallow: /a/b")).toDF("host", "robots_txt"))
    val b1 = Seq((1L, "http://x.org/a/b/c"), (2L, "http://x.org/a/zz"))
    val b2 = Seq((3L, "http://x.org/other"), (4L, "http://nobody.org/a/b"))
    val ms = MemoryStream[(Long, String)]
    val q = Domains.robotsDecision(ms.toDF().toDF("doc_id", "url"), rules)
      .writeStream.format("memory").queryName("robots_stream")
      .outputMode("append").start()
    try {
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
        r.getLong(r.fieldIndex("doc_id")) ->
          ((r.getBoolean(r.fieldIndex("allowed")),
            Option(r.getString(r.fieldIndex("matched_prefix")))))).toMap
      val streamed = key(spark.table("robots_stream").collect())
      val batch = key(Domains.robotsDecision(
        (b1 ++ b2).toDF("doc_id", "url"), rules).collect())
      assert(streamed === batch)
      assert(streamed(1L) === ((false, Some("/a/b"))))
      assert(streamed(4L) === ((true, None)))
    } finally q.stop()
  }

  /** [[graft.operators.Html.extractAnchors]] is pure per-row
    * expression work (regex + explode, no state), so the SAME
    * function runs under streaming append mode and emits exactly the
    * batch rows — the link-extraction half of a streaming crawl
    * pipeline; the aggregation half (anchorStats) stays batch/
    * micro-batch by design (two stacked aggregations). */
  test("extractAnchors: streaming append mode == batch, same function") {
    import graft.operators.Html
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, String)]
    val q = Html.extractAnchors(
        ms.toDF().toDF("doc_id", "page_url", "html"), "html", "page_url")
      .select("doc_id", "target", "anchor_text")
      .writeStream.format("memory").queryName("anchors_stream")
      .outputMode("append").start()
    val rows = Seq(
      (1L, "http://a.org/p", "<a href=/x>one</a><a href='/y'>two</a>"),
      (2L, "http://b.org/p", "<A HREF=\"http://c.com/z\">three</A>"))
    try {
      ms.addData(rows.head); q.processAllAvailable()
      ms.addData(rows(1)); q.processAllAvailable()
      def key(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
        (r.getLong(0), r.getString(1), r.getString(2))).toSet
      val streamed = key(spark.table("anchors_stream").collect())
      val batch = key(Html.extractAnchors(
          rows.toDF("doc_id", "page_url", "html"), "html", "page_url")
        .select("doc_id", "target", "anchor_text").collect())
      assert(streamed === batch && streamed.size === 3)
    } finally q.stop()
  }

  /** [[graft.operators.Html.extractAnchors]] row-level contract (the
    * q199 oracle certifies the aggregate; this pins the per-anchor
    * rows): the data-href decoy must not shadow the real unquoted
    * href, inner markup strips to spaces, character references decode,
    * case-insensitive tag/attr spellings match, a no-href `<a name>`
    * yields a null target (anchorStats drops it), and relative hrefs
    * resolve against the page URL. */
  test("extractAnchors: decoy-proof href, entity decode, markup strip, no-href null") {
    import graft.operators.Html
    val pages = Seq(
      (1L, "http://a.org/p/x",
        "<a class=x data-href=/wrong href=/right>go <b>now</b> &amp; fast</a>" +
          "<a name=skip>plain</a>"),
      (2L, "http://b.org/p/x", "<A HREF='http://c.com/x'>UP</A>")
    ).toDF("doc_id", "page_url", "html")
    val out = Html.extractAnchors(pages, "html", "page_url")
      .select("doc_id", "target", "anchor_text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(out === Set(
      (1L, "http://a.org/right", "go now & fast"),
      (1L, null, "plain"),
      (2L, "http://c.com/x", "UP")))
    val agg = Html.anchorStats(
        Html.extractAnchors(pages, "html", "page_url"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSet
    assert(agg === Set(
      ("http://a.org/right", 1L, 1L, "go now & fast"),
      ("http://c.com/x", 1L, 1L, "UP")))
  }

  /** [[graft.operators.Sketches.bloomBitsFor]] — the prose-dial →
    * spec'd-helper convention (srpBitsFor/fanoutFor precedent). Pins
    * the DEPLOYED operating points: the sf0.1 fixture's eval set is
    * 10,179 distinct shingles (measured via DuckDB this round) and
    * the helper reproduces q193's fixed 2¹⁷ dial from it at k=3 /
    * 10‰ — whose achieved rate (1−e^(−kn/m))^k = 0.90% is exactly
    * the documented fixture FPR; sf0.01's 1,355 shingles size to
    * 2¹⁵. Plus the curve guarantees: the achieved rate never exceeds
    * target (round-up), m is a power of two ≥ minBits (so always a
    * multiple of 64 — bloomBits' word requirement), monotone in n
    * and anti-monotone in target. */
  test("bloomBitsFor: deployed dials reproduced, achieved FPR <= target") {
    import graft.operators.Sketches.bloomBitsFor
    assert(bloomBitsFor(10179, 3, 10) === 131072) // the q193 sf0.1 dial
    assert(bloomBitsFor(1355, 3, 10) === 32768)   // sf0.01-scale eval set
    assert(bloomBitsFor(0, 3, 10) === 4096)       // empty set -> floor
    for (n <- Seq(100L, 1000L, 10000L, 100000L, 1000000L);
         k <- 1 to 4; pm <- Seq(1, 10, 100)) {
      val m = bloomBitsFor(n, k, pm)
      assert(Integer.bitCount(m) === 1 && m % 64 === 0 && m >= 4096)
      val achieved = math.pow(1 - math.exp(-k.toDouble * n / m), k)
      assert(achieved <= pm / 1000.0 + 1e-12,
        s"achieved $achieved > target ${pm / 1000.0} at n=$n k=$k m=$m")
      assert(bloomBitsFor(2 * n, k, pm) >= m, "monotone in n")
      assert(bloomBitsFor(n, k, math.min(999, pm * 10)) <= m,
        "anti-monotone in target")
    }
  }
}
