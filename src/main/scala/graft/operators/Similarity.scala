package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`), for similarity search and embedding-cosine dedup
  * in a training-data pipeline.
  *
  * Two float top-k paths, same output contract (query_id,
  * neighbor_id, rank):
  *   - [[bruteForceTopK]] — exact cosine against every corpus vector.
  *     The correctness baseline; O(|corpus|·|queries|) but fully
  *     distributed: queries broadcast, corpus streamed, per-query
  *     top-k via window.
  *   - [[annTopK]] — signed-random-projection LSH: vectors meet only
  *     inside equal (table, bucket) cells, so the corpus scan is
  *     replaced by bucket joins. The 100 TB path.
  *
  * The index families — IVF, PQ and IVF-PQ — live in
  * [[SimilarityInt]], integer-exact and DuckDB-replayable; this file
  * keeps the float baselines, the SRP-LSH family and the int8
  * pair/semantic-dedup operators.
  *
  * All per-row math goes through two native codegen'd expressions —
  * [[graft.functions.CosineSim]] (scoring) and
  * [[graft.functions.SrpBuckets]] (LSH bucketing). Both accumulate
  * strictly left-to-right, so scores are bit-deterministic across
  * partitionings; buckets are derived from (dim, tables, bits, seed)
  * on each executor with no driver round-trip. No UDFs anywhere.
  */
object Similarity {

  /** [[semanticDedup]]'s dimension ceiling: dot ≤ d·128², and the gate
    * compares dot²·10⁴ in BIGINT — d ≤ 1800 keeps the product under
    * 2⁶³ with margin (d=1854 is the exact overflow edge). */
  val MaxSemanticDedupDim = 1800

  /** Exact cosine similarity between two array<double> columns —
    * the higher-order-function reference formulation. Query paths use
    * the native `cosine_sim` (bit-identical, JIT'd); this stays as
    * the public Column-level API and the cross-check in specs. */
  def cosine(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private def registerFns(df: DataFrame): Unit = {
    graft.functions.CosineSim.register(df.sparkSession)
    graft.functions.SrpBuckets.register(df.sparkSession)
  }

  /** Exact top-k neighbors for each query vector.
    *
    * Scale notes: `queries` is broadcast (a query batch is small by
    * construction); the corpus never shuffles for scoring — only the
    * (|queries|·k-bounded) per-query window does. For huge query
    * batches, partition the batch and union. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    registerFns(corpus)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Per-table LSH bucket ids for a vector column: native SRP
    * projection (packed sign bits of seeded Gaussian hyperplanes).
    * call_function, not an expr() splice — `vecCol` is a
    * caller-supplied column name. */
  private def bucketsOf(vecCol: String, tables: Int, bits: Int, seed: Long): Column =
    call_function("srp_buckets", col(vecCol), lit(tables), lit(bits), lit(seed))

  /** SRP-LSH approximate top-k: same contract as [[bruteForceTopK]],
    * but neighbors are drawn from LSH bucket collisions only, then
    * exactly scored and ranked. Recall grows with `tables`; on
    * adversarially-uniform random corpora (no cluster structure) even
    * many tables recall imperfectly — that is a property of LSH, not
    * of this implementation, and the spec pins it against the
    * brute-force baseline. */
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, bits: Int = 8, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    registerFns(corpus)
    // Bucket with IDS ONLY: carrying the vectors through the
    // tables-way explode and the bucket join multiplies shuffle bytes
    // by `tables`; vectors are re-attached just for final scoring.
    def bucketed(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(bucketsOf(vecCol, tables, bits, seed)).as(Seq("table_id", "bucket")))

    val cq = bucketed(queries, "query_id")
    val cc = bucketed(corpus, "neighbor_id")
    val candidates = cc.join(cq.hint("broadcast"), Seq("table_id", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .dropDuplicates("query_id", "neighbor_id")
    scoreTopK(candidates, corpus, queries, k, idCol, vecCol)
  }

  /** Exact-score a candidate (query_id, neighbor_id) frame and keep
    * the per-query top-k — [[annTopK]]'s verification tail. */
  private def scoreTopK(candidates: DataFrame, corpus: DataFrame, queries: DataFrame,
                        k: Int, idCol: String, vecCol: String): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id").asc)
    candidates
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("cos", expr("cosine_sim(qv, cv)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank")
  }

  /** Per-vector affine int8 quantization: x ≈ qmin + (q+128)·qscale
    * with q ∈ tinyint — 4× smaller than float32, 8× smaller than
    * float64, which at 100 TB of embeddings is the difference between
    * a corpus that fits executor memory for list-scoring and one that
    * doesn't. Per-vector (not per-corpus) ranges keep outlier vectors
    * from crushing everyone else's resolution; a constant vector
    * degrades to scale 1 instead of dividing by zero (ANSI-safe).
    *
    * Columns added: `q array<tinyint>`, `qmin double`,
    * `qscale double`. All arithmetic is per-row HOF work — no shuffle,
    * fully parallel. [[dequantize]] reconstructs; the spec pins
    * reconstruction cosine ≥ 0.999 and top-k agreement on the
    * fixture. */
  def quantizeInt8(df: DataFrame, vecCol: String = "embedding"): DataFrame =
    df
      .withColumn("qmin", array_min(col(vecCol)).cast("double"))
      .withColumn("qscale",
        greatest((array_max(col(vecCol)).cast("double") - col("qmin")) / lit(255.0),
          lit(1e-30)))
      .withColumn("q", expr(
        s"transform($vecCol, x -> cast(round((cast(x as double) - qmin) / qscale) - 128 as tinyint))"))

  /** Reconstruct a double vector from [[quantizeInt8]]'s columns. */
  def dequantize(df: DataFrame, outCol: String = "dq"): DataFrame =
    df.withColumn(outCol,
      expr("transform(q, v -> qmin + (cast(v as double) + 128.0d) * qscale)"))

  /** Exact all-pairs cosine above a threshold — the brute-force
    * ORACLE leg for [[cosineNearDupPairs]] (same contract), O(n²) by
    * construction: every pair is scored. Correctness baseline and
    * recall denominator only — never the scale path; at real corpus
    * sizes use the LSH variant. */
  def bruteForcePairs(corpus: DataFrame, threshold: Double,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    registerFns(corpus)
    val a = corpus.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val b = corpus.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("cos", expr("cosine_sim(v1, v2)"))
      .filter(col("cos") >= threshold)
      .select("d1", "d2", "cos")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold — the
    * embedding leg of the dedup suite. LSH self-join candidates,
    * exact-cosine verification; O(collisions), never O(n²). */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double,
                         tables: Int = 8, bits: Int = 8, seed: Long = 42L,
                         idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    registerFns(corpus)
    // ids-only through the explode + self-join (see annTopK)
    val b = corpus.select(col(idCol).as("id"),
      posexplode(bucketsOf(vecCol, tables, bits, seed)).as(Seq("table_id", "bucket")))
    val pairs = PairPack.pairsFromPostings(b, Seq("table_id", "bucket"), "id")
      .select(col("a.id").as("d1"), col("b.id").as("d2"))
      .dropDuplicates("d1", "d2")
    val v1 = corpus.select(col(idCol).as("d1"), col(vecCol).as("v1"))
    val v2 = corpus.select(col(idCol).as("d2"), col(vecCol).as("v2"))
    pairs.join(v1, "d1").join(v2, "d2")
      .withColumn("cos", expr("cosine_sim(v1, v2)"))
      .filter(col("cos") >= threshold)
      .select("d1", "d2", "cos")
  }

  /** SemDeDup-style semantic dedup over the STORED int8 codes — no
    * float vector ever leaves the scan. Every decision is integer
    * arithmetic, so the whole kept/pruned verdict is engine- and
    * partitioning-deterministic (and the DuckDB oracle replays it
    * bit-for-bit — unlike float-cosine gates, where the last ulp is
    * engine-dependent and only agreement rows survive a hash check).
    *
    * Pipeline:
    *   1. quantize ([[quantizeInt8]]'s exact formula) → codes
    *      c ∈ [−128,127] and an integer self-product ss = Σc².
    *   2. candidate generation: `bands` sign-bit buckets — band b
    *      keys on the sign pattern of dims [b·bandBits, (b+1)·bandBits);
    *      vectors meet only inside an equal (band, bucket) cell. Sign
    *      tests on float32 are exact, so bucketing is deterministic
    *      (this is SRP-LSH with axis-aligned hyperplanes).
    *   3. gate: quantized cosine ≥ t, decided as
    *      dot>0 ∧ dot²·10⁴ ≥ simNumSqE4·ss₁·ss₂  (simNumSqE4 = t²·10⁴)
    *      — all in BIGINT (safe for dims ≤ ~1800: dot ≤ d·128²,
    *      dot²·10⁴ must stay under 2⁶³).
    *   4. keep rule: a vector is pruned iff ANY lower-id candidate
    *      passes the gate (keep-first; one join, no sequential greedy
    *      chain — the standard parallel relaxation).
    *
    * Scale shape: ids-only through the band explode and bucket
    * self-join (the LSH pattern of [[cosineNearDupPairs]]); codes join
    * back only for candidate pairs. `bandBits` must grow with corpus
    * size to keep bucket occupancy bounded (occupancy ≈ n/2^bandBits
    * per band); hot buckets (near-zero dims) salt like any skewed key.
    * At 100 TB the int8 codes are ¼ the bytes of float32 through every
    * shuffle — the reason dedup runs on codes, not vectors.
    *
    * Output: one row per input vector —
    * (idCol, kept BIGINT 1/0, dup_of BIGINT nullable = min pruning id).
    */
  def semanticDedup(corpus: DataFrame, bands: Int = 8, bandBits: Int = 6,
                    simNumSqE4: Long = 2025L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    pairsOnly: Boolean = false): DataFrame = {
    // dim bounds: vectors must have >= bands*bandBits dims (the sign
    // buckets read those positions; ANSI element_at throws past the
    // end — loud, not silent) and <= ~1800 dims (the BIGINT gate's
    // overflow ceiling, see step 3 below)
    require(bands >= 1 && bandBits >= 1 && bandBits <= 16,
      s"need bands >= 1 and bandBits in [1,16], got $bands/$bandBits")
    require(simNumSqE4 >= 0L && simNumSqE4 <= 10000L,
      s"simNumSqE4 is t^2 * 1e4, must be in [0,10000]: $simNumSqE4")
    graft.functions.IntDot.register(corpus.sparkSession)
    // enforce BOTH dim bounds up front (one head() row — the embedding
    // tables' uniform-dimension contract makes the first row
    // representative): past ~1800 dims the BIGINT gate would wrap
    // (non-ANSI) or fail the job mid-stage instead of erroring here,
    // and below bands*bandBits the sign buckets would read past the
    // array end
    corpus.select(col(vecCol)).head(1).headOption.foreach { r =>
      val d = r.getSeq[Any](0).size
      require(d <= MaxSemanticDedupDim,
        s"semanticDedup's integer gate (dot^2 * 1e4 in BIGINT) is safe " +
          s"only for dims <= $MaxSemanticDedupDim; got $d — reduce the " +
          "embedding dimension (e.g. a projection) or use " +
          "cosineNearDupPairs (float gate) instead")
      require(d >= bands * bandBits,
        s"vectors have $d dims but the sign bands read " +
          s"bands*bandBits = ${bands * bandBits} positions")
    }
    // codes come FROM [[quantizeInt8]] (not a re-derivation) so the
    // "q74's proven formula" claim is compile-time true — only the
    // tinyint→bigint widening happens here
    val coded = quantizeInt8(corpus, vecCol)
      .withColumn("c", expr("transform(q, v -> cast(v as bigint))"))
      .withColumn("ss", expr("int_dot(c, c)"))
    // sign-pattern bucket of band b over the ORIGINAL floats (sign of
    // a float compares exactly; the quantized code's sign would shift
    // with qmin)
    def bandBucket(b: Int): Column =
      (0 until bandBits).map { i =>
        when(element_at(col(vecCol), b * bandBits + i + 1) >= lit(0f),
          lit(1L << (bandBits - 1 - i))).otherwise(lit(0L))
      }.reduce(_ + _)
    val sigs = coded.select(col(idCol).as("vid"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).cast("long").as("band"), bandBucket(b).as("bkt"))): _*)).as("e"))
      .select(col("vid"), col("e.band").as("band"), col("e.bkt").as("bkt"))
    val cand = PairPack.pairsFromPostings(sigs, Seq("band", "bkt"), "vid")
      .select(col("a.vid").as("d1"), col("b.vid").as("d2"))
      .dropDuplicates("d1", "d2")
    val side1 = coded.select(col(idCol).as("d1"), col("c").as("c1"), col("ss").as("ss1"))
    val side2 = coded.select(col(idCol).as("d2"), col("c").as("c2"), col("ss").as("ss2"))
    val pruned = cand.join(side1, "d1").join(side2, "d2")
      .withColumn("dot", expr("int_dot(c1, c2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >= lit(simNumSqE4) * col("ss1") * col("ss2"))
    if (pairsOnly)
      pruned.select(col("d1"), col("d2"), col("dot"), col("ss1"), col("ss2"))
    else {
      val dupOf = pruned
        .groupBy(col("d2").as(idCol))
        .agg(min(col("d1")).as("dup_of"))
      corpus.select(col(idCol))
        .join(dupOf, Seq(idCol), "left")
        .select(col(idCol),
          col("dup_of").isNull.cast("long").as("kept"),
          col("dup_of"))
    }
  }

  /** Production sizing for [[semanticNearDupPairsSrp]]'s `bits` dial
    * (r17 — the r16 ladder documented the recipe in prose; this is
    * the [[graft.sources.WebArchive.fanoutFor]] convention of making
    * the recipe an artifact): `bits = ceil(log2(n · tables /
    * targetOccupancy))` holds expected bucket occupancy — and with it
    * the per-bucket candidate share — constant as the corpus grows,
    * which is exactly the ladder's measured 12 → 14 → 16 progression
    * (+2 bits per 4× data at n = 2000/8000/32000, tables = 8,
    * occupancy 4; ARCHITECTURE r16 ladder table). Cost grows as
    * tables × bits hyperplane projections per vector — linear in
    * bits, so the dial is cheap to grow where the sign-band family's
    * key space was CAPPED at 2^(d/bands). Clamped to [minBits, 62]
    * (the bucket key is one BIGINT bit pattern). */
  def srpBitsFor(n: Long, tables: Int = 8, targetOccupancy: Long = 4L,
                 minBits: Int = 8): Int = {
    require(n >= 0 && tables > 0 && targetOccupancy > 0 &&
      minBits >= 1 && minBits <= 62,
      s"need n >= 0, tables/occupancy > 0, minBits in [1,62]: " +
        s"$n/$tables/$targetOccupancy/$minBits")
    // overflow-safe: past Long.MaxValue/tables the key count already
    // saturates the 62-bit cap for any occupancy dial worth using
    val keys =
      if (n > Long.MaxValue / tables) Long.MaxValue
      else n * tables / targetOccupancy
    val ceilLog2 =
      if (keys <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(keys - 1)
    math.min(62, math.max(minBits, ceilLog2))
  }

  /** [[semanticNearDupPairs]] with SRP (seeded random hyperplane)
    * candidate buckets instead of raw sign bands — the documented
    * handoff PAST the sign family's dimension ceiling (r16 ladder
    * finding): sign bands read `bands × bandBits` raw dimension
    * signs, so their bucket key space is capped at 2^(d/bands) and
    * candidate volume goes n²-shaped once n outgrows it. SRP buckets
    * ([[graft.functions.SrpBuckets]], the q41 ANN machinery) project
    * onto seeded hyperplanes, so `bits` grows with n indefinitely —
    * the production dial is [[srpBitsFor]] (bits ≈ log2(n · tables /
    * target bucket occupancy), the ladder's 12→14→16). The DECISION
    * gate is byte-identical to
    * [[semanticDedup]]'s (same int8 codes, same BIGINT cosine
    * inequality), so the two variants differ only in candidate
    * recall; the float hyperplane projections are why this form has
    * no DuckDB replay (q81/q150 keep the sign-band form for the
    * oracle gate — a documented trade, not a gap). */
  def semanticNearDupPairsSrp(corpus: DataFrame, tables: Int = 8,
                              bits: Int = 12, seed: Long = 2025L,
                              simNumSqE4: Long = 2025L,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    graft.functions.SrpBuckets.register(corpus.sparkSession)
    graft.functions.IntDot.register(corpus.sparkSession)
    require(simNumSqE4 >= 0L && simNumSqE4 <= 10000L,
      s"simNumSqE4 is t^2 * 1e4, must be in [0,10000]: $simNumSqE4")
    corpus.select(col(vecCol)).head(1).headOption.foreach { r =>
      val d = r.getSeq[Any](0).size
      require(d <= MaxSemanticDedupDim,
        s"the integer gate (dot^2 * 1e4 in BIGINT) is safe only for " +
          s"dims <= $MaxSemanticDedupDim; got $d")
    }
    val coded = quantizeInt8(corpus, vecCol)
      .withColumn("c", expr("transform(q, v -> cast(v as bigint))"))
      .withColumn("ss", expr("int_dot(c, c)"))
    // (table, bucket) key via posexplode: bucket values are per-table
    // bit patterns, so the table index must ride the join key
    val sigs = coded.select(col(idCol).as("vid"),
        posexplode(call_function("srp_buckets",
          col(vecCol), lit(tables), lit(bits), lit(seed)))
          .as(Seq("band", "bkt")))
    val cand = PairPack.pairsFromPostings(sigs, Seq("band", "bkt"), "vid")
      .select(col("a.vid").as("d1"), col("b.vid").as("d2"))
      .dropDuplicates("d1", "d2")
    val side1 = coded.select(col(idCol).as("d1"), col("c").as("c1"), col("ss").as("ss1"))
    val side2 = coded.select(col(idCol).as("d2"), col("c").as("c2"), col("ss").as("ss2"))
    cand.join(side1, "d1").join(side2, "d2")
      .withColumn("dot", expr("int_dot(c1, c2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >= lit(simNumSqE4) * col("ss1") * col("ss2"))
      .select(col("d1"), col("d2"), col("dot"), col("ss1"), col("ss2"))
  }

  /** The EXACT gated pair set — every (d1 < d2) pair satisfying
    * [[semanticDedup]]'s int8 BIGINT cosine inequality, scored by an
    * all-pairs self-join. O(n²) by construction: the brute-force
    * ORACLE leg (the [[bruteForcePairs]] convention) serving as the
    * recall denominator for the LSH candidate variants; never the
    * scale path. */
  def semanticPairsExact(corpus: DataFrame, simNumSqE4: Long = 2025L,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(simNumSqE4 >= 0L && simNumSqE4 <= 10000L,
      s"simNumSqE4 is t^2 * 1e4, must be in [0,10000]: $simNumSqE4")
    graft.functions.IntDot.register(corpus.sparkSession)
    val coded = quantizeInt8(corpus, vecCol)
      .withColumn("c", expr("transform(q, v -> cast(v as bigint))"))
      .withColumn("ss", expr("int_dot(c, c)"))
    val a = coded.select(col(idCol).as("d1"), col("c").as("c1"), col("ss").as("ss1"))
    val b = coded.select(col(idCol).as("d2"), col("c").as("c2"), col("ss").as("ss2"))
    a.join(b, col("d1") < col("d2"))
      .withColumn("dot", expr("int_dot(c1, c2)"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >= lit(simNumSqE4) * col("ss1") * col("ss2"))
      .select(col("d1"), col("d2"), col("dot"), col("ss1"), col("ss2"))
  }

  /** [[semanticDedup]]'s keep-first rule over an externally-supplied
    * gated pair frame (d1 < d2) — lets callers memoize the expensive
    * pair leg once and fold it multiple ways. */
  def keepFirstFromPairs(corpus: DataFrame, pairs: DataFrame,
                         idCol: String = "vec_id"): DataFrame =
    corpus.select(col(idCol))
      .join(pairs.groupBy(col("d2").as(idCol))
        .agg(min(col("d1")).as("dup_of")), Seq(idCol), "left")
      .select(col(idCol),
        col("dup_of").isNull.cast("long").as("kept"),
        col("dup_of"))

  /** The gated near-dup PAIRS of [[semanticDedup]] — identical
    * candidate generation and BIGINT cosine gate, emitted as
    * (d1 < d2, dot, ss1, ss2) rows instead of being folded into the
    * keep-first rule. The building block for pair-level consumers:
    * cross-lingual near-dup detection (q150), cluster construction,
    * audit joins. */
  def semanticNearDupPairs(corpus: DataFrame, bands: Int = 8,
                           bandBits: Int = 6, simNumSqE4: Long = 2025L,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame =
    semanticDedup(corpus, bands, bandBits, simNumSqE4, idCol, vecCol,
      pairsOnly = true)

  /** Route decision for [[semanticNearDupPairsAuto]] — (family, dial):
    * `("signband", bandBits)` while the sign family's DIMENSION
    * CEILING admits the bandBits the occupancy dial wants, else
    * `("srp", bits)` with [[srpBitsFor]]'s dial. The wanted width is
    * `ceil(log2(n / signBandOccupancy))` (per-band bucket occupancy,
    * the same law as SRP's — occupancy ≈ n/2^bits); the ceiling is
    * `min(16, dim/bands)` because sign bands read RAW dimension signs
    * (bands × bandBits positions must exist) where SRP projects onto
    * seeded hyperplanes and grows indefinitely. The defaults
    * REPRODUCE the measured ladder exactly — the q150 fixture
    * (dim 64, 8 bands) routes (2000 → signband/6, 8000 → signband/8,
    * 32000 → srp/16): the first two are the dials the 1×/4× cells ran
    * zero-spill, the third is the cell where the capped sign form
    * spilled 5.6 GB and the SRP form spilled zero (ARCHITECTURE r17
    * ladder; the partition-count alternative was tested and REFUTED).
    * signBandOccupancy = 32 is the measured-fine 1× operating point —
    * sign-band tolerates deeper buckets than SRP's target-4 because
    * its per-band candidate volume n·occ stays small at small n. */
  def semanticRouteFor(n: Long, dim: Int, bands: Int = 8,
                       signBandOccupancy: Long = 32L, tables: Int = 8,
                       srpOccupancy: Long = 4L): (String, Int) = {
    require(n >= 0 && dim >= 1 && bands >= 1 && signBandOccupancy > 0,
      s"need n >= 0, dim/bands >= 1, occupancy > 0: $n/$dim/$bands/$signBandOccupancy")
    val maxBandBits = math.min(16, dim / bands)
    val keys = n / signBandOccupancy
    val wanted =
      if (keys <= 1L) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(keys - 1)
    if (wanted <= maxBandBits) ("signband", math.max(1, wanted))
    else ("srp", srpBitsFor(n, tables, srpOccupancy))
  }

  /** [[semanticNearDupPairs]] with the sign-band → SRP handoff made
    * AUTOMATIC (r18, VERDICT r17 item 5): the caller asks for gated
    * near-dup pairs at a volume, and [[semanticRouteFor]] picks the
    * candidate family — raw sign bands while their dimension ceiling
    * admits the occupancy-holding bit width (the oracle-replayable
    * form, zero extra cost), SRP hyperplane buckets past it (the
    * zero-spill form at the volume where the capped sign family
    * degrades to spilling its self-join sort). Both families feed the
    * IDENTICAL int8 BIGINT cosine gate, so the output schema and gate
    * semantics never change across the handoff — only candidate
    * recall characteristics do (equivalence with the directly-dialed
    * forms pinned in Round18Spec on both sides of the boundary).
    *
    * `nOpt`: the corpus size if the caller knows it (a catalog count
    * at 100 TB); None counts `idCol` (one column-pruned pass). */
  def semanticNearDupPairsAuto(corpus: DataFrame, bands: Int = 8,
                               simNumSqE4: Long = 2025L,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               tables: Int = 8, seed: Long = 2025L,
                               signBandOccupancy: Long = 32L,
                               srpOccupancy: Long = 4L,
                               nOpt: Option[Long] = None): DataFrame = {
    val n = nOpt.getOrElse(corpus.select(col(idCol)).count())
    val dim = corpus.select(col(vecCol)).head(1).headOption
      .map(_.getSeq[Any](0).size).getOrElse(0)
    require(dim >= 1, s"cannot route an empty corpus without dims")
    semanticRouteFor(n, dim, bands, signBandOccupancy, tables,
        srpOccupancy) match {
      case ("signband", bandBits) =>
        semanticNearDupPairs(corpus, bands, bandBits, simNumSqE4,
          idCol, vecCol)
      case (_, bits) =>
        semanticNearDupPairsSrp(corpus, tables, bits, seed, simNumSqE4,
          idCol, vecCol)
    }
  }
}
