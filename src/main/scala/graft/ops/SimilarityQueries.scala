package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Similarity, SimilarityInt}

/** Similarity-search inventory over the `embeddings` fixture.
  * The brute-force baseline is oracle-backed (ranking ints only —
  * cosine last-ulp noise between engines must not reach the hash);
  * the LSH paths are rows-only + spec-pinned against the baseline.
  */
object SimilarityQueries {

  /** The embeddings fixture is one parquet row-group = one input
    * split; the 64-hyperplane projection is CPU-heavy per row, so
    * rebalance to the cores (no-op concern at real scale — see
    * TextQueries.docsRebalanced). */
  private def corpus(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)

  private def queryVectors(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir).filter(col("vec_id") < 10)

  /** The integer-normalized coding of the corpus ([[SimilarityInt
    * .zCodes]]), memoized per (session, dir): q171/q174/q43 and their
    * recall rows all start here. */
  private def zAll(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"zcodes:$dir") {
      SimilarityInt.zCodes(corpus(spark, dir))
    }

  private def zQueries(spark: SparkSession, dir: String): DataFrame =
    zAll(spark, dir).filter(col("vid") < 10)

  /** Exact brute-force cosine top-10 for the first 10 vectors.
    * Memoized per (session, dir): q57 and q58 re-read this output as
    * their exact baseline — without the memo each recall query would
    * re-pay the full |corpus|x|queries| scoring pass. */
  def q40CosineTopK(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"cosine_topk:$dir:k=10") {
      Similarity.bruteForceTopK(
        corpus(spark, dir), queryVectors(spark, dir), k = 10)
    }

  /** SRP-LSH approximate top-10, same contract (rows-only check).
    * Dials (32 tables × 6 bits) chosen with `graft.RecallProbe`: on
    * this deliberately-unclustered random fixture they lift recall@10
    * from 0.10 (8×8 defaults) to 0.81 at equal wall time — fewer bits
    * = bigger buckets = more candidates, more tables = more chances;
    * `bits` must grow with corpus size to keep the candidate share
    * constant (bucket occupancy ≈ n/2^bits per table). */
  def q41AnnTopK(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"ann_topk:$dir:t32b6") {
      Similarity.annTopK(
        corpus(spark, dir), queryVectors(spark, dir), k = 10,
        tables = 32, bits = 6)
    }

  /** Embedding-cosine near-dup pairs via LSH (rows-only check); same
    * RecallProbe-tuned dials as q41. */
  def q42AnnNeardup(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"ann_neardup:$dir:t32b6:0.4") {
      Similarity.cosineNearDupPairs(
        corpus(spark, dir), threshold = 0.4, tables = 32, bits = 6)
        .select(col("d1"), col("d2"))
    }

  /** IVF-flat approximate top-10 — the density-adaptive ANN variant,
    * since r20 the INTEGER-EXACT form ([[SimilarityInt.ivfBuildInt]]
    * /[[SimilarityInt.ivfTopKInt]]): integer k-means routing + exact
    * z-dot scoring, so the FULL top-k output replays in DuckDB.
    * Dial rationale from the RecallProbe sweeps (run on the float
    * form) — at a fixed probed share recall grows with list
    * resolution (16/2 = 0.33 → 128/16 = 0.68 at 1/8), two Lloyd
    * passes lift seeded centroids, more measured flat — and q58
    * re-derives the recall against brute force per run (no pinned
    * constant anymore: both legs replay). The build leg pays for
    * nlist — an index build cost, amortized in the materialized-index
    * shape ([[graft.streaming.VectorIngest]]). */
  def q43AnnIvf(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"ann_ivf_int:$dir:n128p16l2") {
      val idx = SimilarityInt.ivfBuildInt(zAll(spark, dir),
        nlist = 128, iters = 2, seed = 42L,
        memoKey = s"ivf_int_cents:$dir:n128l2s42")
      SimilarityInt.ivfTopKInt(idx, zQueries(spark, dir),
        zAll(spark, dir), k = 10, nprobe = 16)
    }

  /** Product-quantization ADC top-10 — since r20 the INTEGER-EXACT
    * form ([[SimilarityInt.pqTopKInt]]): train m=8/ksub=16 codebooks
    * by integer k-means over z codes, encode the corpus to (id, sub,
    * code) rows — 8 small ints per 64-dim vector, the 100 TB
    * embedding-store posture — then exact-BIGINT ADC shortlist
    * (rerank=50) with exact integer-dot rerank. Every decision is
    * integer arithmetic, so the FULL top-k output hash-matches a
    * DuckDB replay (was rows-only with a pinned recall — the r19
    * VERDICT's last sub-replay correctness tier). Random
    * fixtures are PQ's adversarial case (no subspace structure); the
    * rerank window is what keeps recall useful there. */
  def q171PqTopK(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"pq_topk_int:$dir:m8k16l2r50") {
      val z = zAll(spark, dir)
      val cb = SimilarityInt.pqTrainInt(z, m = 8, ksub = 16, iters = 2,
        seed = 42L, memoKey = s"pq_int_cents:$dir:m8k16l2s42")
      SimilarityInt.pqTopKInt(SimilarityInt.pqEncodeInt(z, cb), cb, z,
        zQueries(spark, dir), k = 10, rerank = 50)
    }

  /** PQ recall@10 vs the exact baseline — since r20 a DERIVED full
    * oracle, not a pinned constant: both legs (q171's integer replay
    * and q40's float-cosine replay) run in DuckDB and the agreement
    * math re-computes there, so a recall drift FAILS the hash
    * instead of silently matching a stale pin. */
  def q172PqRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q171PqTopK(spark, dir), q40CosineTopK(spark, dir),
      Seq("query_id", "neighbor_id"))

  /** IVF-PQ (IVFADC) top-10 — the COMPOSED 100 TB embedding-store
    * index, since r20 integer-exact ([[SimilarityInt.ivfPqTopKInt]]):
    * integer IVF routing over PQ-coded integer RESIDUALS, so each
    * query ADC-scores only its nprobe/nlist share of the corpus while
    * residual codebooks quantize finer than flat PQ's (Jégou §V.A).
    * Dials: nlist=64/nprobe=16 (1/4 probed share), the same
    * m=8/ksub=16/rerank=50 code budget as q171 — q175 vs q172 stays a
    * controlled comparison: recall at ~4× fewer scored candidates.
    * Full DuckDB hash replay (was rows-only). */
  def q174IvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"ivfpq_topk_int:$dir:n64p16m8k16l2r50") {
      val z = zAll(spark, dir)
      val idx = SimilarityInt.ivfPqBuildInt(z, nlist = 64, m = 8,
        ksub = 16, iters = 2, seed = 42L,
        memoKey = s"ivfpq_int:$dir:n64m8k16l2s42")
      SimilarityInt.ivfPqTopKInt(idx, zQueries(spark, dir), z, k = 10,
        nprobe = 16, rerank = 50)
    }

  /** IVF-PQ recall@10 vs the exact baseline — derived full oracle
    * (the q172 stance). Read AGAINST q172's row: same code budget,
    * ~1/4 the scored candidates, comparable recall — the
    * residual-quantization dividend the composition exists for. */
  def q175IvfPqRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q174IvfPqTopK(spark, dir), q40CosineTopK(spark, dir),
      Seq("query_id", "neighbor_id"))

  /** Sign-band LSH approximate top-10 — the LSH-ANN class's FULLY
    * REPLAYABLE member (r20, the last VERDICT stretch): candidates
    * meet only inside equal (band, bucket) sign-pattern cells —
    * [[Similarity.semanticDedup]]'s q81 bucketing machinery in
    * query-vs-corpus form; float sign compares exactly, so the
    * candidate set replays cross-engine — and the ranking is the
    * exact integer z-dot ([[SimilarityInt]]'s rerank metric). Where
    * q41's SRP hyperplanes are engine-internal floats by construction
    * (rows-only + pinned recall forever), this variant's ENTIRE
    * output sits under the DuckDB hash gate. Data-oblivious like SRP,
    * bucket-join-shaped like everything in the family: ids-only
    * through the band explode and the bucket join, z vectors attach
    * only for the candidate rerank; bandBits grows with corpus size
    * (occupancy ≈ n/2^bits per band) up to the sign family's d/bands
    * dimension ceiling — past it, SRP is the documented handoff
    * ([[Similarity.semanticRouteFor]]). The trade is explicit in the
    * recall rows: q211 reads 0.34@10 from 8 axis-aligned bands where
    * q57's SRP reads 0.81 from 32 seeded tables — which is exactly
    * why q41 KEEPS the SRP form as the quality path and this variant
    * exists as the replayable one, not a replacement. */
  def q210AnnSignBand(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"ann_signband:$dir:b8x6") {
      graft.functions.IntDot.register(spark)
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(spark, dir)
      val bands = 8
      val bandBits = 6
      def bandBucket(b: Int): org.apache.spark.sql.Column =
        (0 until bandBits).map { i =>
          when(element_at(col("embedding"), b * bandBits + i + 1) >= lit(0f),
            lit(1L << (bandBits - 1 - i))).otherwise(lit(0L))
        }.reduce(_ + _)
      val sigs = emb.select(col("vec_id").as("vid"),
          explode(array((0 until bands).map(b =>
            struct(lit(b).cast("long").as("band"),
              bandBucket(b).as("bkt"))): _*)).as("e"))
        .select(col("vid"), col("e.band").as("band"), col("e.bkt").as("bkt"))
      val cand = sigs
        .join(sigs.filter(col("vid") < 10)
          .select(col("vid").as("query_id"), col("band"), col("bkt"))
          .hint("broadcast"), Seq("band", "bkt"))
        .filter(col("vid") =!= col("query_id"))
        .select(col("query_id"), col("vid").as("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
      val z = zAll(spark, dir)
      val w = Window.partitionBy("query_id")
        .orderBy(col("dot").desc, col("neighbor_id").asc)
      cand
        .join(broadcast(zQueries(spark, dir)
          .select(col("vid").as("query_id"), col("z").as("qz"))), "query_id")
        .join(z.select(col("vid").as("neighbor_id"), col("z").as("cz")),
          "neighbor_id")
        .withColumn("dot", expr("int_dot(qz, cz)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select("query_id", "neighbor_id", "rank")
    }

  /** Sign-band ANN recall@10 vs the exact baseline — derived full
    * oracle (the q58/q172/q175 stance: both legs replay). Reads
    * against q57's SRP row: same corpus, different candidate
    * geometry. */
  def q211SignBandRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q210AnnSignBand(spark, dir), q40CosineTopK(spark, dir),
      Seq("query_id", "neighbor_id"))

  /** SRP-LSH recall@10 vs the exact baseline — the numeric signal for
    * q41's rows-only output: a one-row (n_exact, n_approx, n_hits,
    * recall) summary, deterministic under the fixed seed, hash-checked
    * against the pinned expected value for this fixture. */
  def q57AnnRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q41AnnTopK(spark, dir), q40CosineTopK(spark, dir),
      Seq("query_id", "neighbor_id"))

  /** SRP-semantic-pair recall vs the EXACT int8-gated pair set — the
    * r16 agreement row for [[Similarity.semanticNearDupPairsSrp]]
    * (the past-dim-ceiling candidate form): both sides apply the
    * identical BIGINT cosine gate, so every miss is pure candidate
    * recall, and the exact side is the disclosed O(n²) oracle leg
    * ([[Similarity.semanticPairsExact]], the q59 denominator
    * convention). Dials are RecallProbe-tuned to the 500-vector
    * fixture exactly like q41's (32 tables × 6 bits — at 8×8 the
    * borderline-cosine pairs rarely shared a bucket and recall read
    * 0.18; production grows bits with n via
    * [[Similarity.srpBitsFor]] — the r17 helper form of the ladder's
    * 12→14→16 recipe, which the r16 q150srp_pairs ladder row
    * measures); seeded hyperplanes make the row deterministic,
    * pinned like q57–q61. */
  def q188SrpSemanticRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      Similarity.semanticNearDupPairsSrp(corpus(spark, dir),
        tables = 32, bits = 6, seed = 2025L).select(col("d1"), col("d2")),
      Similarity.semanticPairsExact(corpus(spark, dir))
        .select(col("d1"), col("d2")),
      Seq("d1", "d2"))

  /** IVF-flat recall@10 vs the exact baseline (q43's signal) —
    * derived full oracle since r20 (the q172 stance: both legs
    * replay in DuckDB, no pinned constant). */
  def q58IvfRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q43AnnIvf(spark, dir), q40CosineTopK(spark, dir),
      Seq("query_id", "neighbor_id"))

  /** Embedding near-dup recall: LSH pair set vs the exact all-pairs
    * baseline (q42's signal). The exact leg is the disclosed O(n²)
    * oracle path — recall denominator only, never the scale path. */
  def q59NeardupRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q42AnnNeardup(spark, dir),
      Similarity.bruteForcePairs(corpus(spark, dir), threshold = 0.4)
        .select(col("d1"), col("d2")),
      Seq("d1", "d2"))

  /** Hybrid text+vector retrieval — the RAG query shape: keyword
    * pre-filter on the documents table, join the embedding column,
    * exact-cosine rerank against a query vector, top-10 by rank.
    * The keyword filter prunes BEFORE any vector work (the whole point
    * of hybrid retrieval at scale: candidates, then rerank), the
    * query vector broadcasts, and the top-k goes through orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort);
    * ranks are integers so float ulp stays out of the oracle hash. */
  def q65HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    import org.apache.spark.sql.expressions.Window
    val docs = graft.Tables.documents(spark, dir)
    val emb = graft.Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val top = docs
      .filter(col("text").contains("spark") && col("doc_id") =!= 0)
      .select("doc_id")
      .join(emb, col("doc_id") === col("vec_id"))
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr("cosine_sim(embedding, qv)"))
      .orderBy(col("cos").desc, col("doc_id").asc)
      .limit(10)
    top
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "rank")
  }

  /** Reciprocal-rank fusion of the keyword and vector retrieval legs —
    * the OTHER standard hybrid-search combiner (q65 is filter-then-
    * rerank; RRF fuses two INDEPENDENT rankings, the shape used when
    * the legs come from separate index services and only ranks, not
    * scores, are comparable). score(d) = Σ_legs ⌊10⁶/(60+rank_d)⌋ —
    * the classic k=60 constant, with the reciprocal pre-scaled to an
    * integer so the fused score (and therefore the hash) never sees a
    * float; a doc missing from a leg contributes 0 and its rank
    * reports 0 (absent-means-unranked, documented in the oracle
    * identically).
    *
    * Scale: each leg is its own top-k (TakeOrderedAndProject —
    * per-partition heaps); the fusion joins two ≤k-row frames — cost
    * is the legs, the fusion is free. Ranks are integers, so the
    * float cosine/BM25 scores stay OUT of the output (the q65
    * stance). */
  def q122Rrf(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CosineSim.register(spark)
    import org.apache.spark.sql.expressions.Window
    val kw = graft.operators.TextAnalysis.bm25TopK(
        Tables.documents(spark, dir), graft.ops.TextQueries.bm25Terms, k = 20)
      .select(col("doc_id"), col("rank").as("k_rank"))
    val emb = Tables.embeddings(spark, dir)
    val qv = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val vec = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr("cosine_sim(embedding, qv)"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(20)
      .withColumn("v_rank", row_number()
        .over(Window.orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("v_rank"))
    kw.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("k_rank"), lit(0L)).as("k_rank"),
        coalesce(col("v_rank"), lit(0L)).as("v_rank"),
        (coalesce(expr("1000000 div (60 + k_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + v_rank)"), lit(0L))).as("rrf"))
  }

  /** `FixtureId.contentHash` of /root/testdata/sf0.01 at pin time —
    * the fixture the q57–q61 (and TextQueries q60/q61) expected rows
    * were measured on. Printed by `graft.RecallProbe`; asserted by
    * SimilaritySpec so a regenerated fixture fails loudly instead of
    * letting five oracles test stale constants. */
  val PinnedFixtureHash: Long = 0x9e054ff911db4ea1L

  /** Int8 quantization audit row per vector: the affine params plus an
    * integer checksum of the codes. qmin/qscale are safe in the hash
    * (exact float→double widening, one subtraction, one division —
    * bit-identical cross-engine); the per-element codes reduce to a
    * BIGINT sum so the hash never sees a long float vector. */
  def q74Quantize(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("qmin"), col("qscale"),
        expr("aggregate(q, 0L, (a, x) -> a + cast(x as bigint))").as("q_sum"))

  /** SemDeDup-style semantic dedup over the stored int8 codes (see
    * [[Similarity.semanticDedup]]): 8 sign-bit bands generate
    * candidates, an all-integer quantized-cosine gate (t = 0.45,
    * matching the fixture's 0.4-float-cosine near-dup regime) decides,
    * keep-first prunes. Unlike the float-cosine ANN family (rows-only
    * + agreement rows), every decision here is integer arithmetic, so
    * the FULL kept/pruned output hash-matches a DuckDB replay — no
    * pinned constants, no fixture coupling. */
  /** The gated semantic near-dup pair frame at the q81 dials —
    * memoized per (session, dir): q81 folds it into the keep-first
    * rule, q150 joins it to languages; without the memo each would
    * re-pay the sign-band self-join + gate (the q40/q57 pattern). */
  private def semanticPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"semantic_pairs:$dir:b8x6:2025") {
      Similarity.semanticNearDupPairs(corpus(spark, dir),
        bands = 8, bandBits = 6, simNumSqE4 = 2025L)
    }

  def q81SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.keepFirstFromPairs(
      corpus(spark, dir), semanticPairs(spark, dir))

  /** Dominant principal direction by EXACT-INTEGER power iteration
    * ([[graft.operators.Spectral.dominantProjection]]): corpus-global
    * affine codes → floor-mean centering → two integer power steps →
    * per-vector BIGINT projection. The whole 1-D PCA is a pure
    * function of the input multiset — no float ever enters a
    * reduction — so the full 500-row projection hash-matches a DuckDB
    * replay exactly (engine parity holds whatever the spectrum; the
    * statistical-convergence contract is spec-pinned on a
    * strong-eigengap corpus, Round7Spec). */
  def q107PowerIteration(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Spectral.dominantProjection(
      Tables.embeddings(spark, dir), iterations = 2)

  /** Two-component integer PCA ([[graft.operators.Spectral
    * .pca2Projection]]): the q107 direction, an EXACT integer
    * deflation (y₂ = y·S − v·(y·v) — identically orthogonal to v, no
    * float residue), and the deflated matrix's own dominant
    * direction. Full 500-row (proj1, proj2) hash replay. */
  def q109Pca2(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Spectral.pca2Projection(
      Tables.embeddings(spark, dir), iterations = 2)

  /** Per-label centroid similarity matrix — the class-separation /
    * source-drift diagnostic in embedding space (complements q117,
    * which sees scalar value distributions): quantize with the
    * corpus-global affine map (q107's coding — per-vector ranges would
    * destroy cross-vector comparability), floor-mean the codes per
    * (label, dim) into integer centroids, and emit every unordered
    * label pair's exact BIGINT centroid dot plus the cosine.
    *
    * The cosine is the ONLY float, produced by a fixed three-op chain
    * on exact integers — cast, sqrt, divide, each correctly rounded
    * under IEEE 754 — so it hash-matches across engines (the
    * `avg = cast(decimal) / count` rule extended by one sqrt).
    *
    * Scale: codes aggregate to |labels|·d centroid cells (map-side
    * combined — the corpus-sized frame never shuffles raw); the
    * centroid self-join is |labels|²·d on a frame of |labels|·d rows —
    * dimension-like, broadcast. */
  def q130LabelCentroidSim(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val rng = emb.agg(
      min(array_min(col("embedding"))).cast("double").as("gmin"),
      max(array_max(col("embedding"))).cast("double").as("gmax"))
      .withColumn("gscale",
        greatest((col("gmax") - col("gmin")) / lit(255.0), lit(1e-30)))
    val cent = emb.crossJoin(broadcast(rng))
      .select(col("label"), posexplode(expr(
        "transform(embedding, x -> cast(round((cast(x as double) - gmin) / gscale) as bigint))"))
        .as(Seq("d", "cv")))
      .groupBy("label", "d")
      .agg(expr("sum(cv) div count(1)").as("m"))
    val dots = cent.as("a").join(broadcast(cent.as("b")),
        col("a.d") === col("b.d") && col("a.label") <= col("b.label"))
      .groupBy(col("a.label").as("l1"), col("b.label").as("l2"))
      .agg(sum(col("a.m") * col("b.m")).as("dot"))
    val self = dots.filter(col("l1") === col("l2"))
      .select(col("l1").as("l"), col("dot").as("selfdot"))
    dots.filter(col("l1") < col("l2"))
      .join(broadcast(self.select(col("l").as("l1"), col("selfdot").as("d1"))), "l1")
      .join(broadcast(self.select(col("l").as("l2"), col("selfdot").as("d2"))), "l2")
      .withColumn("cos_sim",
        col("dot").cast("double") / sqrt((col("d1") * col("d2")).cast("double")))
      .select("l1", "l2", "dot", "d1", "d2", "cos_sim")
  }

  /** Hard-negative mining — the contrastive-training data primitive:
    * for each of 100 anchor vectors, the single most-similar vector
    * carrying a DIFFERENT label (the "hard" negative a triplet/InfoNCE
    * loss wants, vs the uninformative random negative). Similarity is
    * the exact integer dot product over [[graft.operators.Spectral]]'s
    * corpus-global centered affine codes — the q107/q109 coding, so
    * ranking never touches a float and the full (anchor, negative,
    * dot) row replays under the hash gate.
    *
    * Shape: anchors are the 100 lowest vec_ids (TakeOrdered, total
    * order), broadcast at 100×d longs; each candidate row computes
    * its 100 dots IN-ROW via `aggregate(zip_with(...))` — no per-dim
    * explode, no dimension join, no shuffle of candidate vectors —
    * and the per-anchor argmax is a `max(struct(dot, −c_id, ...))`
    * aggregate (map-side-combining, deterministic tiebreak), not a
    * window over the pair frame. At 100 TB the anchor side stays a
    * broadcast batch and the exact candidate scan swaps for the ANN
    * candidate generation (q41 SRP / q43 IVF) with this same exact
    * dot as the re-rank — the established recall-oracle pattern. */
  def q146HardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Spectral
    graft.functions.IntDot.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val y = Spectral.centeredCodes(emb, "vec_id", "embedding")
      .join(emb.select(col("vec_id"),
        col("label").cast("long").as("label")), "vec_id")
    val anchors = y.orderBy("vec_id").limit(100)
      .select(col("vec_id").as("a_id"), col("y").as("ya"),
        col("label").as("a_label"))
    y.select(col("vec_id").as("c_id"), col("y").as("yc"),
        col("label").as("c_label"))
      .crossJoin(broadcast(anchors))
      .filter(col("c_label") =!= col("a_label"))
      // r21: codegen'd int_dot kernel — same exact BIGINT dot as the
      // aggregate(zip_with(...)) HOF within Spectral's documented
      // |y| bounds, minus the interpreted-lambda tax (100 dots/row)
      .withColumn("dot", expr("int_dot(ya, yc)"))
      .groupBy(col("a_id"), col("a_label"))
      .agg(max(struct(col("dot"), (-col("c_id")).as("nc"),
        col("c_label"))).as("best"))
      .select(col("a_id"), col("a_label"),
        (-col("best.nc")).as("neg_id"),
        col("best.c_label").as("neg_label"),
        col("best.dot").as("dot"))
  }

  /** Cross-lingual near-duplicate detection — translated-contamination
    * hunting: pairs of documents in DIFFERENT languages whose
    * embeddings clear the q81 semantic-similarity gate. Byte-level
    * dedup (shingles, MinHash, edit distance) is structurally blind to
    * translations — the texts share no n-grams — while a multilingual
    * embedding puts a document and its translation close together;
    * this is the standard "same content, different language" leak
    * check between pretraining shards and across eval sets.
    *
    * Machinery is [[graft.operators.Similarity.semanticNearDupPairs]]
    * — q81's candidate generation (sign-band LSH over int8 codes) and
    * BIGINT cosine gate verbatim, emitted as pairs — composed with one
    * id-keyed join per side to the documents' lang column and a
    * lang≠lang filter. The lang join runs AFTER the gate, on the
    * gated-pair frame (tiny), never on the candidate volume. Same
    * scale posture as q81: ids-only through the LSH self-join,
    * bandBits grows with corpus size. */
  def q150CrossLingualPairs(spark: SparkSession, dir: String): DataFrame = {
    val pairs = semanticPairs(spark, dir)
    val lang = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    pairs
      .join(lang.select(col("doc_id").as("d1"), col("lang").as("lang1")), "d1")
      .join(lang.select(col("doc_id").as("d2"), col("lang").as("lang2")), "d2")
      .filter(col("lang1") =!= col("lang2"))
      .select("d1", "d2", "lang1", "lang2", "dot")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q150_crosslingual_pairs" -> (q150CrossLingualPairs _),
    "q146_hard_negatives" -> (q146HardNegatives _),
    "q130_label_centroid_sim" -> (q130LabelCentroidSim _),
    "q81_semantic_dedup" -> (q81SemanticDedup _),
    "q107_power_iteration" -> (q107PowerIteration _),
    "q109_pca2"       -> (q109Pca2 _),
    "q40_cosine_topk" -> (q40CosineTopK _),
    "q41_ann_topk"    -> (q41AnnTopK _),
    "q210_ann_signband" -> (q210AnnSignBand _),
    "q211_signband_recall" -> (q211SignBandRecall _),
    "q42_ann_neardup" -> (q42AnnNeardup _),
    "q43_ann_ivf"     -> (q43AnnIvf _),
    "q171_pq_topk"    -> (q171PqTopK _),
    "q172_pq_recall"  -> (q172PqRecall _),
    "q174_ivfpq_topk" -> (q174IvfPqTopK _),
    "q175_ivfpq_recall" -> (q175IvfPqRecall _),
    "q57_ann_recall"  -> (q57AnnRecall _),
    "q58_ivf_recall"  -> (q58IvfRecall _),
    "q59_neardup_recall" -> (q59NeardupRecall _),
    "q188_srp_semantic_recall" -> (q188SrpSemanticRecall _),
    "q65_hybrid_search" -> (q65HybridSearch _),
    "q122_rrf"        -> (q122Rrf _),
    "q74_quantize"    -> (q74Quantize _)
  )

  /** Shared CTE chain of the q107/q109 oracles: global affine codes →
    * floor-mean centering → two integer power steps ending in the
    * first direction `v2(d, v)` over centered rows `y(vec_id, d, y)`. */
  private val PowerPrefixSql: String =
    """WITH rng AS (
      |  SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS gmin,
      |    greatest((CAST(max(list_max(embedding)) AS DOUBLE) - CAST(min(list_min(embedding)) AS DOUBLE)) / 255.0,
      |             1e-30) AS gscale
      |  FROM embeddings),
      |codes AS MATERIALIZED (
      |  SELECT vec_id, i AS d,
      |    CAST(round((CAST(embedding[i+1] AS DOUBLE) - gmin) / gscale) AS BIGINT) AS c
      |  FROM embeddings, rng, UNNEST(range(len(embedding))) t(i)),
      |mu AS (SELECT d, sum(c) // count(*) AS m FROM codes GROUP BY d),
      |y AS MATERIALIZED (SELECT vec_id, codes.d AS d, c - m AS y FROM codes JOIN mu USING (d)),
      |p1 AS (SELECT vec_id, sum(y) AS p FROM y GROUP BY vec_id),
      |u1 AS (SELECT d, sum(y.y * p1.p) AS u FROM y JOIN p1 USING (vec_id) GROUP BY d),
      |m1 AS (SELECT greatest(max(abs(u)), 1) AS mx FROM u1),
      |v1 AS MATERIALIZED (SELECT d, CASE WHEN u < 0 THEN -(((-u) * 1000) // mx)
      |                      ELSE (u * 1000) // mx END AS v FROM u1, m1),
      |p2 AS (SELECT vec_id, sum(y.y * v1.v) AS p FROM y JOIN v1 USING (d) GROUP BY vec_id),
      |u2 AS (SELECT d, sum(y.y * p2.p) AS u FROM y JOIN p2 USING (vec_id) GROUP BY d),
      |m2 AS (SELECT greatest(max(abs(u)), 1) AS mx FROM u2),
      |v2 AS MATERIALIZED (SELECT d, CASE WHEN u < 0 THEN -(((-u) * 1000) // mx)
      |                      ELSE (u * 1000) // mx END AS v FROM u2, m2)""".stripMargin

  /** One sign-band bucket expression of the q81 oracle: the sign
    * pattern of dims [b·bits, (b+1)·bits) as an integer. */
  private def signBandSql(b: Int, bits: Int): String =
    (0 until bits).map(i =>
      s"(CASE WHEN embedding[${b * bits + i + 1}] >= 0 THEN ${1L << (bits - 1 - i)} ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")

  /** Shared CTE prefix of the q81/q150 oracles — quantize (q74's
    * proven formula), sign-band candidates, and the per-pair BIGINT
    * dot/self-products frame `p(d1, d2, dot, ss1, ss2)`. HUGEINT on
    * the DuckDB side where Spark uses LONG; identical values
    * (everything fits in 63 bits at 64 dims). */
  private def semanticPairsCte(bands: Int, bits: Int): String = {
    val bandCols = (0 until bands).map(b => s"${signBandSql(b, bits)} AS b$b").mkString(",\n  ")
    val bandUnion = (0 until bands)
      .map(b => s"SELECT vec_id, $b AS band, b$b AS bkt FROM u").mkString("\n       UNION ALL ")
    s"""WITH qp AS (SELECT vec_id, embedding,
       |  CAST(list_min(embedding) AS DOUBLE) AS qmin,
       |  greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0, 1e-30) AS qscale
       |  FROM embeddings),
       |u AS (SELECT vec_id,
       |  $bandCols,
       |  list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) - qmin) / qscale) AS BIGINT) - 128) AS c
       |  FROM qp),
       |bb AS ($bandUnion),
       |cand AS (SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
       |         FROM bb a JOIN bb b ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id),
       |s AS (SELECT vec_id, c, CAST(list_sum(list_transform(c, x -> x * x)) AS HUGEINT) AS ss FROM u),
       |p AS (SELECT d1, d2, CAST(list_dot_product(s1.c, s2.c) AS HUGEINT) AS dot,
       |        s1.ss AS ss1, s2.ss AS ss2
       |      FROM cand JOIN s s1 ON d1 = s1.vec_id JOIN s s2 ON d2 = s2.vec_id)""".stripMargin
  }

  /** q81 oracle: the full integer replay — the shared pairs prefix,
    * then the gate + keep-first rule. */
  private def q81OracleSql(bands: Int, bits: Int, numSqE4: Long): String =
    s"""${semanticPairsCte(bands, bits)},
       |pr AS (SELECT d2, min(d1) AS dup_of FROM p
       |       WHERE dot > 0 AND dot * dot * 10000 >= $numSqE4 * ss1 * ss2
       |       GROUP BY d2)
       |SELECT e.vec_id,
       |  CAST(CASE WHEN pr.dup_of IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
       |  pr.dup_of
       |FROM embeddings e LEFT JOIN pr ON e.vec_id = pr.d2""".stripMargin

  /** q150 oracle: the same pairs prefix, gated, joined to both docs'
    * languages, cross-language rows only; dot re-cast BIGINT so the
    * typed compare sees the same int64 Spark emits. */
  private def q150OracleSql(bands: Int, bits: Int, numSqE4: Long): String =
    s"""${semanticPairsCte(bands, bits)},
       |g AS (SELECT d1, d2, CAST(dot AS BIGINT) AS dot FROM p
       |      WHERE dot > 0 AND dot * dot * 10000 >= $numSqE4 * ss1 * ss2)
       |SELECT g.d1, g.d2, x.lang AS lang1, y.lang AS lang2, g.dot
       |FROM g
       |JOIN documents x ON g.d1 = x.doc_id
       |JOIN documents y ON g.d2 = y.doc_id
       |WHERE x.lang <> y.lang""".stripMargin

  val oracles: Map[String, String] = Map(
    "q81_semantic_dedup" -> q81OracleSql(bands = 8, bits = 6, numSqE4 = 2025L),
    "q150_crosslingual_pairs" ->
      q150OracleSql(bands = 8, bits = 6, numSqE4 = 2025L),

    // the q107 coding chain up to centered rows y(vec_id, d, y), then
    // the per-dim dot replay (DuckDB's set form of the in-row
    // zip_with), different-label filter, and the same
    // (dot desc, c_id) argmax Spark takes via max(struct(...))
    "q146_hard_negatives" ->
      """WITH rng AS (
        |  SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS gmin,
        |    greatest((CAST(max(list_max(embedding)) AS DOUBLE)
        |      - CAST(min(list_min(embedding)) AS DOUBLE)) / 255.0, 1e-30) AS gscale
        |  FROM embeddings),
        |codes AS MATERIALIZED (
        |  SELECT vec_id, i AS d,
        |    CAST(round((CAST(embedding[i+1] AS DOUBLE) - gmin) / gscale) AS BIGINT) AS c
        |  FROM embeddings, rng, UNNEST(range(len(embedding))) t(i)),
        |mu AS (SELECT d, sum(c) // count(*) AS m FROM codes GROUP BY d),
        |y AS MATERIALIZED (
        |  SELECT vec_id, codes.d AS d, c - m AS y
        |  FROM codes JOIN mu USING (d)),
        |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |anch AS (SELECT vec_id AS a_id FROM embeddings ORDER BY vec_id LIMIT 100),
        |dots AS (
        |  SELECT ya.vec_id AS a_id, yc.vec_id AS c_id,
        |    CAST(sum(ya.y * yc.y) AS BIGINT) AS dot
        |  FROM y ya JOIN y yc USING (d)
        |  WHERE ya.vec_id IN (SELECT a_id FROM anch)
        |  GROUP BY ya.vec_id, yc.vec_id),
        |f AS (
        |  SELECT d.a_id, la.label AS a_label, d.c_id,
        |    lc.label AS c_label, d.dot
        |  FROM dots d
        |  JOIN lab la ON la.vec_id = d.a_id
        |  JOIN lab lc ON lc.vec_id = d.c_id
        |  WHERE la.label <> lc.label),
        |r AS (SELECT a_id, a_label, c_id, c_label, dot,
        |        row_number() OVER (PARTITION BY a_id
        |                           ORDER BY dot DESC, c_id) AS rn
        |      FROM f)
        |SELECT a_id, a_label, c_id AS neg_id, c_label AS neg_label, dot
        |FROM r WHERE rn = 1""".stripMargin,

    // q107's global-affine coding CTE, floor-mean centroids per
    // (label, dim), exact integer dots; the cosine is the fixed
    // cast→sqrt→divide chain (each correctly rounded, so it hashes)
    "q130_label_centroid_sim" ->
      """WITH rng AS (
        |  SELECT CAST(min(list_min(embedding)) AS DOUBLE) AS gmin,
        |    greatest((CAST(max(list_max(embedding)) AS DOUBLE)
        |      - CAST(min(list_min(embedding)) AS DOUBLE)) / 255.0, 1e-30) AS gscale
        |  FROM embeddings),
        |codes AS (
        |  SELECT label, i AS d,
        |    CAST(round((CAST(embedding[i+1] AS DOUBLE) - gmin) / gscale) AS BIGINT) AS c
        |  FROM embeddings, rng, UNNEST(range(len(embedding))) t(i)),
        |cent AS (SELECT label, d, CAST(sum(c) // count(*) AS BIGINT) AS m
        |         FROM codes GROUP BY label, d),
        |dots AS (SELECT a.label AS l1, b.label AS l2,
        |           CAST(sum(a.m * b.m) AS BIGINT) AS dot
        |         FROM cent a JOIN cent b ON a.d = b.d AND a.label <= b.label
        |         GROUP BY 1, 2),
        |self AS (SELECT l1 AS l, dot AS selfdot FROM dots WHERE l1 = l2)
        |SELECT d.l1, d.l2, d.dot, s1.selfdot AS d1, s2.selfdot AS d2,
        |  CAST(d.dot AS DOUBLE) / sqrt(CAST(s1.selfdot * s2.selfdot AS DOUBLE)) AS cos_sim
        |FROM dots d JOIN self s1 ON d.l1 = s1.l JOIN self s2 ON d.l2 = s2.l
        |WHERE d.l1 < d.l2""".stripMargin,

    "q40_cosine_topk" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    row_number() OVER (
        |      PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |               c.vec_id ASC) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id < 10) t
        |WHERE rank <= 10""".stripMargin,

    // q57/q59–q61/q188's agreement rows are PINNED expected values
    // for the sf0.01 fixture + the fixed seeds (42): their ANN side
    // depends on Spark's xxhash64/SRP bucketing, which DuckDB cannot
    // reproduce, so the oracle is the known-correct constant (recall
    // written as the same integer division Spark performs —
    // bit-identical doubles). Recalls reflect the RecallProbe-tuned
    // dials on a deliberately-unclustered random fixture — the
    // hardest case for LSH; the clustered-fixture spec in
    // SimilaritySpec pins the near-1.0 case. Validity guard:
    // [[PinnedFixtureHash]] below is the fixture content hash these
    // constants were measured on; SimilaritySpec asserts it (and
    // recall floors), and `graft.RecallProbe` prints fresh
    // paste-ready rows + hash when the fixture regenerates.
    // q58/q172/q175 graduated to DERIVED oracles in r20 (their ANN
    // legs replay md5-seeded integer pipelines — see below).
    "q57_ann_recall" ->
      """SELECT CAST(100 AS BIGINT) AS n_exact, CAST(100 AS BIGINT) AS n_approx,
        |  CAST(81 AS BIGINT) AS n_hits,
        |  CAST(81 AS DOUBLE)/CAST(100 AS DOUBLE) AS recall""".stripMargin,

    // r20: FULL replays of the integer-exact ANN family — every
    // training draw (md5 hex order), k-means step (truncated integer
    // means), ADC distance, shortlist membership, and final rank is
    // re-derived in DuckDB from the raw parquet ([[IntAnnOracleSql]];
    // the q81 semanticDedup recipe applied to the whole index family)
    "q171_pq_topk" -> IntAnnOracleSql.q171Sql(),
    "q210_ann_signband" -> IntAnnOracleSql.q210Sql(),
    "q211_signband_recall" ->
      IntAnnOracleSql.agreementSql(IntAnnOracleSql.q210Sql()),
    "q174_ivfpq_topk" -> IntAnnOracleSql.q174Sql(),
    "q43_ann_ivf" -> IntAnnOracleSql.q43Sql(),

    // the recall rows ride the same replays: approx leg = the ANN
    // replay above, exact leg = q40's float-cosine replay, agreement
    // math re-computed in SQL — a drift FAILS the hash instead of
    // matching a stale pinned constant
    "q172_pq_recall" -> IntAnnOracleSql.agreementSql(IntAnnOracleSql.q171Sql()),
    "q175_ivfpq_recall" -> IntAnnOracleSql.agreementSql(IntAnnOracleSql.q174Sql()),
    "q58_ivf_recall" -> IntAnnOracleSql.agreementSql(IntAnnOracleSql.q43Sql()),
    "q59_neardup_recall" ->
      """SELECT CAST(59 AS BIGINT) AS n_exact, CAST(48 AS BIGINT) AS n_approx,
        |  CAST(48 AS BIGINT) AS n_hits,
        |  CAST(48 AS DOUBLE)/CAST(59 AS DOUBLE) AS recall""".stripMargin,

    // SRP semantic-pair recall vs the exact int8-gated pair set —
    // n_approx = n_hits (zero false positives) is structural: both
    // sides apply the identical BIGINT gate, so the pinned row
    // certifies candidate recall alone (0.66 at the fixture-tuned
    // 32×6 dials; 8×8 measured 0.18 — the q41 tuning story repeated)
    "q188_srp_semantic_recall" ->
      """SELECT CAST(67 AS BIGINT) AS n_exact, CAST(44 AS BIGINT) AS n_approx,
        |  CAST(44 AS BIGINT) AS n_hits,
        |  CAST(44 AS DOUBLE)/CAST(67 AS DOUBLE) AS recall""".stripMargin,

    // round() here: both engines see the SAME double (exact float
    // widening + one sub + one div), and ties-at-.5 round identically
    // away from zero on non-negative inputs; verified hash-green on
    // the pinned fixture
    "q74_quantize" ->
      """SELECT vec_id,
        |  CAST(list_min(embedding) AS DOUBLE) AS qmin,
        |  greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0,
        |           1e-30) AS qscale,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> CAST(round((CAST(x AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) /
        |      greatest((CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0, 1e-30))
        |      AS BIGINT) - 128)) AS BIGINT) AS q_sum
        |FROM embeddings""".stripMargin,

    // full integer replay of the two power steps: q74's proven code
    // formula, floor-mean centering (operands non-negative, so // and
    // Spark's div agree), sign-split truncating rescale divisions
    "q107_power_iteration" ->
      (PowerPrefixSql + """
        |SELECT vec_id, CAST(sum(y.y * v2.v) AS BIGINT) AS proj
        |FROM y JOIN v2 USING (d) GROUP BY vec_id""".stripMargin),

    // q107's chain + exact integer deflation (y2 = y*S - v*(y*v),
    // identically orthogonal to v) + the same two power steps on y2
    "q109_pca2" ->
      (PowerPrefixSql + """,
        |s1 AS (SELECT sum(v * v) AS s FROM v2),
        |pr1 AS MATERIALIZED (SELECT vec_id, sum(y.y * v2.v) AS p
        |        FROM y JOIN v2 USING (d) GROUP BY vec_id),
        |y2 AS MATERIALIZED (SELECT y.vec_id, y.d, y.y * s - v2.v * pr1.p AS y
        |       FROM y JOIN v2 USING (d) JOIN pr1 USING (vec_id), s1),
        |qp1 AS (SELECT vec_id, sum(y) AS p FROM y2 GROUP BY vec_id),
        |qu1 AS (SELECT d, sum(y2.y * qp1.p) AS u FROM y2 JOIN qp1 USING (vec_id) GROUP BY d),
        |qm1 AS (SELECT greatest(max(abs(u)), 1) AS mx FROM qu1),
        |qv1 AS MATERIALIZED (SELECT d, CASE WHEN u < 0 THEN -(((-u) * 1000) // mx)
        |                       ELSE (u * 1000) // mx END AS v FROM qu1, qm1),
        |qp2 AS (SELECT vec_id, sum(y2.y * qv1.v) AS p FROM y2 JOIN qv1 USING (d) GROUP BY vec_id),
        |qu2 AS (SELECT d, sum(y2.y * qp2.p) AS u FROM y2 JOIN qp2 USING (vec_id) GROUP BY d),
        |qm2 AS (SELECT greatest(max(abs(u)), 1) AS mx FROM qu2),
        |qv2 AS MATERIALIZED (SELECT d, CASE WHEN u < 0 THEN -(((-u) * 1000) // mx)
        |                       ELSE (u * 1000) // mx END AS v FROM qu2, qm2)
        |SELECT y2.vec_id, CAST(min(pr1.p) AS BIGINT) AS proj1,
        |       CAST(sum(y2.y * qv2.v) AS BIGINT) AS proj2
        |FROM y2 JOIN qv2 USING (d) JOIN pr1 ON y2.vec_id = pr1.vec_id
        |GROUP BY y2.vec_id""".stripMargin),

    "q65_hybrid_search" ->
      """SELECT doc_id, rank FROM (
        |  SELECT d.doc_id,
        |    row_number() OVER (
        |      ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
        |               d.doc_id ASC) AS rank
        |  FROM documents d
        |  JOIN embeddings e ON d.doc_id = e.vec_id
        |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE d.text LIKE '%spark%' AND d.doc_id != 0) t
        |WHERE rank <= 10""".stripMargin,

    // the q72 BM25 leg at k=20 + the q65 cosine leg without the
    // keyword filter, fused by integer reciprocal ranks (⌊10⁶/(60+r)⌋,
    // absent leg → rank 0, contribution 0)
    "q122_rrf" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |t AS (SELECT doc_id, unnest(w) AS term FROM d),
        |qt AS (SELECT doc_id, term FROM t
        |       WHERE term IN ('spark', 'join', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM qt GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM qt GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term,
        |        ((n_docs - df + 0.5) / (df + 0.5)) *
        |        ((tf * 1.2 + tf) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS sc
        |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |agg AS (SELECT doc_id,
        |          coalesce(sum(sc) FILTER (WHERE term = 'spark'), 0.0)
        |          + coalesce(sum(sc) FILTER (WHERE term = 'join'), 0.0)
        |          + coalesce(sum(sc) FILTER (WHERE term = 'window'), 0.0) AS score
        |        FROM s GROUP BY doc_id),
        |kw AS (SELECT doc_id, CAST(rank AS BIGINT) AS k_rank FROM (
        |         SELECT doc_id,
        |           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |         FROM agg) x
        |       WHERE rank <= 20),
        |vec AS (SELECT doc_id, CAST(rank AS BIGINT) AS v_rank FROM (
        |          SELECT e.vec_id AS doc_id,
        |            row_number() OVER (
        |              ORDER BY list_cosine_similarity(e.embedding, q.embedding) DESC,
        |                       e.vec_id ASC) AS rank
        |          FROM embeddings e
        |          CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |          WHERE e.vec_id != 0) t
        |        WHERE rank <= 20)
        |SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
        |  coalesce(k_rank, 0) AS k_rank,
        |  coalesce(v_rank, 0) AS v_rank,
        |  CAST(coalesce(1000000 // (60 + k_rank), 0)
        |       + coalesce(1000000 // (60 + v_rank), 0) AS BIGINT) AS rrf
        |FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id""".stripMargin
  )
}
