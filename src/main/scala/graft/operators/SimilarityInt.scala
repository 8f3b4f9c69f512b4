package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._


/** The ANN index family — product quantization, IVF-flat and IVF-PQ
  * — in INTEGER-EXACT form: PQ/ADC (Jégou et al. TPAMI 2011 §IV),
  * IVF-flat, and IVFADC (§V) over integer-quantized NORMALIZED
  * vectors, where every training step, every distance, and the final
  * ranking are exact BIGINT arithmetic. Float k-means means and cosine
  * reranks carry engine-specific reductions no DuckDB oracle can
  * replay; here the full top-k output replays bit-for-bit in DuckDB
  * (the q81 `semanticDedup` recipe applied to the whole index
  * family). The registered index queries (q43 IVF, q171 PQ, q174
  * IVF-PQ) and the streamed index ([[graft.streaming.VectorIngest]])
  * all run on it.
  *
  * The coding: z_i = round(Scale · x_i / ‖x‖₂) — int codes of the
  * L2-NORMALIZED vector, so ‖z‖ ≈ Scale for every vector and squared
  * L2 over z ranks like cosine over x (on unit vectors L2² = 2 −
  * 2·cos, quantized); the exact-integer dot over z is the rerank
  * metric. The ONLY float work is the per-row coding chain (widen →
  * square → left-to-right sum → sqrt → divide → scale → round): every
  * op is a correctly-rounded IEEE-754 double op in a FIXED order, so
  * both engines compute bit-identical doubles and round them to the
  * same integers (the q74/q130 "fixed op chain" rule). Everything
  * after the coding is integer.
  *
  * Cross-engine determinism inventory (each item has a house
  * precedent): seeded draws order by md5 hex strings ([[graft.ops
  * .Md5Key]]'s convention — xxhash64 is engine-internal), k-means
  * centroid updates are sign-split TRUNCATING integer means
  * ([[Spectral]]'s rescale spelling), argmins tie-break on centroid
  * id ascending, shortlists and ranks tie-break on neighbor id
  * ascending. Quantization costs ~1e-4 relative precision on each
  * coordinate — far below the codebooks' own quantization error.
  *
  * Scale shape: codebooks and LUTs broadcast, the corpus side of
  * every shuffle carries ids + small ints only, training runs on
  * md5-bounded samples (corpus-size-free), and int64 codes are HALF
  * the bytes of float64 through every exchange.
  */
object SimilarityInt {

  /** Code scale: z ∈ [−Scale, Scale] per coordinate. 10⁴ keeps every
    * downstream product comfortably inside int64 — dot ≤ d·10⁸ (d ≤
    * ~9·10⁹ dims before overflow), per-sub d2 ≤ dsub·4·10⁸ — while
    * quantization noise (½ulp/Scale ≈ 5e-5 per coordinate) sits well
    * under PQ's own codebook error. */
  val Scale = 10000

  /** (vid, z array<bigint>): the integer-normalized coding. The norm
    * accumulates strictly left-to-right from a 0.0 seed (bitwise
    * equal to DuckDB's seedless list_reduce on non-negative terms);
    * constant/zero vectors keep direction 0 via the 1e-30 guard
    * instead of dividing by zero. */
  def zCodes(df: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame =
    df
      .withColumn("_nrm", expr(
        s"sqrt(aggregate(transform($vecCol, v -> cast(v as double) * v), " +
          "0d, (a, p) -> a + p))"))
      .select(col(idCol).as("vid"), expr(
        s"transform($vecCol, x -> cast(round(cast(x as double) / " +
          s"greatest(_nrm, 1e-30d) * $Scale.0d) as bigint))").as("z"))

  /** md5-hex draw key — lexicographic order on the lowercase hex IS
    * numeric order (fixed width), and both engines ship identical
    * md5, so `ORDER BY h, vid LIMIT n` is the same sample everywhere
    * (the [[graft.ops.Md5Key]] convention; seeds stream by
    * seed-suffix). */
  private def mdKey(id: Column, seed: Long): Column =
    md5(concat_ws(":", id.cast("string"), lit(seed.toString)))

  /** Exact squared-L2 / dot over two bigint arrays, in-row — the
    * native codegen'd kernels ([[graft.functions.IntL2Sq]]/
    * [[graft.functions.IntDot]]): the HOF `aggregate(zip_with(...))`
    * formulation they replace measured the whole q43 int-vs-float gap
    * (762 vs 224 cs at sf0.1 — interpreted lambda machinery per
    * (vector, centroid) pair; ARCHITECTURE r20). Identical exact
    * semantics, spec-pinned against the HOF form. */
  private def d2Sql(a: String, b: String): String = s"int_l2sq($a, $b)"
  private def dotSql(a: String, b: String): String = s"int_dot($a, $b)"

  private def registerKernels(df: DataFrame): Unit = {
    graft.functions.IntL2Sq.register(df.sparkSession)
    graft.functions.IntDot.register(df.sparkSession)
    graft.functions.BoundedMinKPairs.register(df.sparkSession)
  }

  /** Split a z vector into its m subvectors: (…, sub, sv) with sv =
    * dims [sub·d/m, (sub+1)·d/m). Dims must divide evenly by m —
    * ENFORCED in-plan with `raise_error` (a silent `div` would drop
    * the trailing `d mod m` dims and rank on a prefix of every
    * vector with no sign anything was lost). */
  private def subZ(df: DataFrame, m: Int): DataFrame =
    df
      .withColumn("_zck", when(expr(s"pmod(size(z), $m) != 0"),
        expr(s"cast(raise_error(concat('PQ-int: vector dim ', size(z), " +
          s"' not divisible by m=$m')) as array<bigint>)"))
        .otherwise(col("z")))
      .select(col("*"), explode(expr(
        s"transform(sequence(0, ${m - 1}), _s -> struct(_s as sub, " +
          s"slice(_zck, _s * (size(_zck) div $m) + 1, size(_zck) div $m) as sv))"))
        .as("p"))
      .withColumn("sub", col("p.sub")).withColumn("sv", col("p.sv"))
      .drop("p", "z", "_zck")

  /** Per-(vid, sub) nearest-centroid assignment: argmin exact d2,
    * cid-ascending tie-break — deterministic on every partitioning
    * AND replayable (row_number over (d2, cid) in the oracle).
    *
    * r22: IN-ROW argmin over the broadcast per-sub codebook array —
    * `array_min` over (d2, cid) structs is exactly the (d2 asc, cid
    * asc) argmin the old join-explode + `max_by(cid, (-d2, -cid))`
    * groupBy computed (struct ordering is lexicographic; cid is
    * unique), minus the ksub-way row explosion AND the per-call
    * groupBy exchange (guide §2.4) — one exchange per Lloyd step /
    * encode pass / list assignment gone, and every input column rides
    * through untouched (the IVFADC encode no longer needs its own
    * groupBy to carry list_id). The d2 kernel is the same codegen'd
    * int_l2sq; the transform's element count is ksub/nlist —
    * dimension-like, never corpus-like. */
  private def assignSub(subvecs: DataFrame, cents: DataFrame): DataFrame = {
    val cb = cents.groupBy("sub")
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("_cb"))
    subvecs.join(broadcast(cb), Seq("sub"))
      .withColumn("cid", expr(
        s"array_min(transform(_cb, c -> struct(${d2Sql("sv", "c.cvec")} AS d2, " +
          "c.cid AS cid))).cid"))
      .drop("_cb")
  }

  /** One integer Lloyd step: per-(sub, cid, pos) sign-split TRUNCATED
    * mean (`s div n` with an explicit negative branch — Spark's div
    * and DuckDB's `//` agree only on non-negative operands; the
    * [[Spectral]] rescale spelling). Empty centroids drop.
    *
    * r22: ONE aggregation per step — the assigned subvectors collect
    * per (sub, cid) and the per-position sums + truncated means run
    * in-row over that bounded list (≤ 256·ksub training rows total by
    * the draw bound, so a centroid's list is sample-sized, never
    * corpus-sized). The old spelling posexploded to (sub, cid, pos)
    * rows and paid a second groupBy + exchange per step to reassemble
    * the mean vector (guide §2.4). Element-for-element identical
    * integers: same per-position BIGINT sums, same sign-split `div n`
    * (n = the centroid's row count either way); the IntAnn oracles
    * replay every step. */
  private def lloydStep(train: DataFrame, cents: DataFrame): DataFrame =
    assignSub(train, cents)
      .groupBy("sub", "cid")
      .agg(collect_list(col("sv")).as("svs"))
      .select(col("sub"), col("cid"), expr(
        """transform(
          |  transform(sequence(1, size(element_at(svs, 1))),
          |    _i -> aggregate(svs, 0L, (_a, _s) -> _a + element_at(_s, _i))),
          |  _s -> CASE WHEN _s < 0 THEN -((-_s) div size(svs))
          |        ELSE _s div size(svs) END)""".stripMargin).as("cvec"))

  /** Integer PQ codebooks: (sub, cid, cvec array<bigint>) — cid is
    * the seed row's own vid (no global row_number needed). */
  case class IntCodebook(centroids: DataFrame, m: Int)

  /** Train integer PQ codebooks over a (vid, z) frame: md5-smallest
    * ksub seed rows, md5-bounded 256·ksub training sample (disjoint
    * seed stream), `iters` integer Lloyd steps. Memoized — the
    * codebook feeds several broadcasts, and an unpersisted plan would
    * re-run the whole Lloyd chain per consumer. */
  def pqTrainInt(z: DataFrame, m: Int, ksub: Int, iters: Int,
                 seed: Long, memoKey: String): IntCodebook = {
    require(m >= 1 && ksub >= 2 && iters >= 0,
      s"bad PQ-int dials: m=$m ksub=$ksub iters=$iters")
    registerKernels(z)
    // r22: the whole training pipeline — seed draw, eagerly
    // materialized sample, Lloyd steps — is constructed INSIDE the
    // memo thunk. The r21 form ran the eager `localCheckpoint(true)`
    // on the sample at DataFrame-CONSTRUCTION time, before Memo.of was
    // consulted, so a memo-hit call still paid the full-corpus md5
    // draw as dead work (VERDICT r21 item 1, the driver's
    // q171/q172/q43 regressions). A hit now costs nothing; a miss
    // runs byte-identical work to the r21 path.
    val done = graft.ops.Memo.of(z.sparkSession, memoKey) {
      val seeds = subZ(
        z.withColumn("h", mdKey(col("vid"), seed))
          .orderBy("h", "vid").limit(ksub).drop("h"), m)
        .select(col("sub"), col("vid").as("cid"), col("sv").as("cvec"))
      // r21: materialize the bounded training sample once — each Lloyd
      // step's lazy plan otherwise re-pays the corpus md5 top-n draw per
      // step (`train` is referenced once per iteration). The sample is
      // ≤ 256·ksub·m rows by construction, so the checkpoint is tiny.
      val train = subZ(
        z.withColumn("h", mdKey(col("vid"), seed + 1))
          .orderBy("h", "vid").limit(256 * ksub).drop("h"), m)
        .localCheckpoint(true)
      var cents = seeds
      for (_ <- 1 to iters) cents = lloydStep(train, cents)
      cents
    }
    IntCodebook(done, m)
  }

  /** Encode a (vid, z) frame against frozen codebooks:
    * (vid, sub, code) — m small ints per vector. */
  def pqEncodeInt(z: DataFrame, cb: IntCodebook): DataFrame = {
    registerKernels(z)
    assignSub(subZ(z, cb.m), cb.centroids)
      .select(col("vid"), col("sub"), col("cid").as("code"))
  }

  /** The shared integer rerank tail: exact z-dot the candidate pairs,
    * keep the per-query top-k — (query_id, neighbor_id, rank). */
  private def rerankByDot(candidates: DataFrame, z: DataFrame,
                          queriesZ: DataFrame, k: Int): DataFrame = {
    val qv = queriesZ.select(col("vid").as("query_id"), col("z").as("qz"))
    val cv = z.select(col("vid").as("neighbor_id"), col("z").as("cz"))
    // r22b: the top-k is the bounded-heap native aggregate
    // ([[graft.functions.BoundedMinKPairs]]) — k smallest (−dot,
    // neighbor_id) pairs IS `row_number over (dot desc, neighbor_id
    // asc) <= k` (pairs are unique per query; −dot never overflows:
    // |dot| ≤ d·Scale²), with ≤ k pairs of aggregate state at every
    // plan stage and map-side partials, instead of shuffling + sorting
    // every candidate row per query under a window (guide §2.5 — the
    // aggregate form the BoundedMinKPairs scaladoc documents). rank =
    // 1-based position in the ascending buffer, the window's number.
    candidates
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("dot", expr(dotSql("qz", "cz")))
      .groupBy("query_id")
      .agg(expr(s"bounded_min_k_pairs(-dot, neighbor_id, $k)").as("_sl"))
      .select(col("query_id"), posexplode(col("_sl")).as(Seq("_p", "_s")))
      .select(col("query_id"), col("_s.tag").as("neighbor_id"),
        (col("_p") + 1L).cast("long").as("rank"))
  }

  /** Integer ADC top-k (Jégou et al. §IV): one m×ksub exact-integer
    * distance table per query, adist = m BIGINT lookups summed
    * (order-free — integer addition is associative, so the sum is the
    * same on every partitioning), shortlist of `rerank` by (adist,
    * neighbor_id), exact z-dot rerank. Output contract (query_id,
    * neighbor_id, rank), as [[Similarity.bruteForceTopK]]. Every row
    * of the output replays in DuckDB. */
  def pqTopKInt(codes: DataFrame, cb: IntCodebook, z: DataFrame,
                queriesZ: DataFrame, k: Int, rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must cover k=$k")
    registerKernels(z)
    val table = subZ(queriesZ, cb.m)
      .withColumnRenamed("vid", "query_id")
      .join(broadcast(cb.centroids), Seq("sub"))
      .withColumn("d2", expr(d2Sql("sv", "cvec")))
      .select(col("query_id"), col("sub"), col("cid").as("code"), col("d2"))
    // r22b: shortlist via the bounded-heap aggregate (the rerankByDot
    // rationale): k smallest (adist, neighbor_id) IS the old
    // `row_number over (adist asc, neighbor_id asc) <= rerank` —
    // the corpus-sized ADC pair frame no longer re-shuffles + sorts
    // under a per-query window; the second aggregation's state is
    // ≤ rerank pairs with map-side partials.
    val shortlist = codes
      .select(col("vid").as("neighbor_id"), col("sub"), col("code"))
      .join(broadcast(table), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d2")).as("adist"))
      .groupBy("query_id")
      .agg(expr(s"bounded_min_k_pairs(adist, neighbor_id, $rerank)").as("_sl"))
      .select(col("query_id"), explode(expr("transform(_sl, s -> s.tag)"))
        .as("neighbor_id"))
    rerankByDot(shortlist, z, queriesZ, k)
  }

  /** Integer IVF index: full-dim centroids (cid, cvec) + clustered
    * lists (vid, z, list_id). Routing is argmin exact d2 — on the
    * fixed-norm z coding that IS cosine routing, minus the last-ulp
    * engine dependence. The lists carry each vector's z, so a search
    * over a materialized index needs no corpus re-scan. */
  case class IntIvfIndex(centroids: DataFrame, lists: DataFrame)

  /** Full-dim integer k-means + corpus clustering: centroids are the
    * md5-smallest `nlist` seed vectors (cid = the seed's vid), refined
    * by `iters` integer Lloyd steps over an md5-bounded 256·nlist
    * training sample (training cost is corpus-size-free); every
    * vector then joins its nearest centroid's list
    * ([[ivfAssignInt]]). */
  def ivfBuildInt(z: DataFrame, nlist: Int, iters: Int, seed: Long,
                  memoKey: String): IntIvfIndex = {
    require(nlist >= 1 && iters >= 0, s"bad IVF-int dials: $nlist/$iters")
    registerKernels(z)
    // r22: training constructed inside the memo thunk (the pqTrainInt
    // rationale — the eager sample checkpoint must not run on a hit)
    val done = graft.ops.Memo.of(z.sparkSession, memoKey) {
      // full-dim k-means = the m=1 subspace problem; reuse the sub
      // machinery with one subvector covering the whole vector
      val seeds = z.withColumn("h", mdKey(col("vid"), seed))
        .orderBy("h", "vid").limit(nlist)
        .select(lit(0).as("sub"), col("vid").as("cid"), col("z").as("cvec"))
      // r21: sample materialized once (the pqTrainInt rationale) —
      // ≤ 256·nlist rows, one corpus draw instead of one per Lloyd step
      val train = z.withColumn("h", mdKey(col("vid"), seed + 1))
        .orderBy("h", "vid").limit(256 * nlist)
        .select(lit(0).as("sub"), col("vid"), col("z").as("sv"))
        .localCheckpoint(true)
      var cents = seeds
      for (_ <- 1 to iters) cents = lloydStep(train, cents)
      cents.select(col("cid"), col("cvec"))
    }
    IntIvfIndex(done, ivfAssignInt(done, z))
  }

  /** Cluster (vid, z) into list rows (vid, z, list_id) against frozen
    * centroids (cid, cvec) — the list step of [[ivfBuildInt]] and the
    * per-batch append of a vector ingest. One broadcast in-row argmin
    * pass; the vectors never shuffle. */
  def ivfAssignInt(centroids: DataFrame, z: DataFrame): DataFrame = {
    registerKernels(z)
    assignSub(z.select(lit(0).as("sub"), col("vid"), col("z").as("sv")),
        centroids.select(lit(0).as("sub"), col("cid"), col("cvec")))
      .select(col("vid"), col("sv").as("z"), col("cid").as("list_id"))
  }

  /** Integer IVF-flat top-k: probe the `nprobe` d2-nearest lists per
    * query, exact z-dot their members, per-query top-k. Fully
    * replayable — candidate volume is nprobe/nlist of the corpus by
    * construction, a directly tunable recall/cost dial. */
  def ivfTopKInt(index: IntIvfIndex, queriesZ: DataFrame, z: DataFrame,
                 k: Int, nprobe: Int): DataFrame = {
    registerKernels(z)
    // r22: probe routing IN-ROW over the broadcast centroid array —
    // `array_sort` over (d2, cid) structs then the first nprobe is
    // exactly the old `row_number over (d2 asc, cid asc) <= nprobe`
    // crossJoin+window (struct order is lexicographic, cid unique),
    // minus the nlist-way row explosion and the per-search window
    // exchange+sort (guide §2.4; the VERDICT r21 probe/LUT-fusion
    // item). nlist elements per row — dimension-like.
    val cbAll = index.centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("_cb"))
    val probes = queriesZ
      .select(col("vid").as("query_id"), col("z").as("qz"))
      .crossJoin(broadcast(cbAll))
      .select(col("query_id"), explode(expr(
        s"slice(array_sort(transform(_cb, c -> struct(${d2Sql("qz", "c.cvec")} " +
          s"AS d2, c.cid AS cid))), 1, $nprobe)")).as("p"))
      .select(col("query_id"), col("p.cid").as("list_id"))
    val candidates = index.lists
      .select(col("vid").as("neighbor_id"), col("list_id"))
      .join(probes.hint("broadcast"), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    rerankByDot(candidates, z, queriesZ, k)
  }

  /** Integer IVFADC index: coarse centroids route, residual PQ codes
    * store — (vid, list_id, sub, code), m+1 small ints per vector. */
  case class IntIvfPqIndex(centroids: DataFrame, codebook: IntCodebook,
                           codes: DataFrame)

  /** Build: integer coarse k-means (seed / seed+1 streams), integer
    * residuals r = z − centroid (their magnitude IS the signal — not
    * re-coded), residual PQ codebooks (seed+2 / seed+3 streams), one
    * encode pass carrying list_id through the row. */
  def ivfPqBuildInt(z: DataFrame, nlist: Int, m: Int, ksub: Int,
                    iters: Int, seed: Long, memoKey: String): IntIvfPqIndex = {
    registerKernels(z)
    val ivf = ivfBuildInt(z, nlist, iters, seed, memoKey + ":coarse")
    // r21: materialize the residuals once — they are read three times
    // (PQ seed draw, PQ training draw, the encode pass), and each lazy
    // reference otherwise re-runs the full-corpus list assignment the
    // residuals derive from. One row per vector (m+1 small ints after
    // encode; d ints here), corpus-sized but narrow — the same
    // build-artifact stance as the memoized centroids.
    val resid = residuals(ivf.lists, ivf.centroids).localCheckpoint(true)
    val cb = pqTrainInt(resid.select("vid", "z"), m, ksub, iters,
      seed + 2, memoKey + ":pq")
    IntIvfPqIndex(ivf.centroids, cb, encodeResiduals(resid, cb))
  }

  /** Cluster + residual-encode (vid, z) against a FROZEN IVF-PQ index
    * (coarse centroids + residual codebook): (vid, list_id, sub, code)
    * rows — the per-batch append of a vector ingest, built from the
    * same list-assignment and encode steps as [[ivfPqBuildInt]]. */
  def ivfPqAssignInt(centroids: DataFrame, cb: IntCodebook,
                     z: DataFrame): DataFrame =
    encodeResiduals(residuals(ivfAssignInt(centroids, z), centroids), cb)

  /** Integer residuals r = z − its list's centroid over list rows
    * (vid, z, list_id): (vid, list_id, z = r). */
  private def residuals(lists: DataFrame, centroids: DataFrame): DataFrame =
    lists
      .join(broadcast(centroids), col("list_id") === col("cid"))
      .select(col("vid"), col("list_id"),
        expr("zip_with(z, cvec, (a, b) -> a - b)").as("z"))

  /** Encode residual rows (vid, list_id, z) against the codebook:
    * assignSub's in-row argmin — list_id rides through the row, so no
    * groupBy exchange is needed to carry it. */
  private def encodeResiduals(resid: DataFrame, cb: IntCodebook): DataFrame =
    assignSub(subZ(resid, cb.m), cb.centroids)
      .select(col("vid"), col("list_id"), col("sub"), col("cid").as("code"))

  /** Integer IVFADC search (Jégou et al. §V.B): nprobe d2-nearest
    * lists, one m×ksub RESIDUAL distance table per (query, probed
    * list), adist over probed code rows, shortlist, exact z-dot
    * rerank. Bit-replayable end to end. */
  def ivfPqTopKInt(index: IntIvfPqIndex, queriesZ: DataFrame,
                   z: DataFrame, k: Int, nprobe: Int,
                   rerank: Int): DataFrame = {
    require(rerank >= k, s"rerank window $rerank must cover k=$k")
    registerKernels(z)
    // r22: in-row probe routing (the ivfTopKInt form) — the sorted
    // struct carries cvec along so the probe's residual still derives
    // in the same projection; (d2, cid) decides the order before the
    // cvec field can ever be compared (cid is unique)
    val cbAll = index.centroids
      .agg(collect_list(struct(col("cid"), col("cvec"))).as("_cb"))
    val probes = queriesZ
      .select(col("vid").as("query_id"), col("z").as("qz"))
      .crossJoin(broadcast(cbAll))
      .select(col("query_id"), col("qz"), explode(expr(
        s"slice(array_sort(transform(_cb, c -> struct(${d2Sql("qz", "c.cvec")} " +
          s"AS d2, c.cid AS cid, c.cvec AS cvec))), 1, $nprobe)")).as("p"))
      .select(col("query_id").as("vid"), col("p.cid").as("list_id"),
        expr("zip_with(qz, p.cvec, (a, b) -> a - b)").as("z"))
    val table = subZ(probes, index.codebook.m)
      .join(broadcast(index.codebook.centroids), Seq("sub"))
      .withColumn("d2", expr(d2Sql("sv", "cvec")))
      .select(col("vid").as("query_id"), col("list_id"), col("sub"),
        col("cid").as("code"), col("d2"))
    // r22b: bounded-heap shortlist (the pqTopKInt rationale)
    val shortlist = index.codes
      .select(col("vid").as("neighbor_id"), col("list_id"), col("sub"),
        col("code"))
      .join(broadcast(table), Seq("list_id", "sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(col("d2")).as("adist"))
      .groupBy("query_id")
      .agg(expr(s"bounded_min_k_pairs(adist, neighbor_id, $rerank)").as("_sl"))
      .select(col("query_id"), explode(expr("transform(_sl, s -> s.tag)"))
        .as("neighbor_id"))
    rerankByDot(shortlist, z, queriesZ, k)
  }
}
