package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.ops.Memo

/** Graph operators: connected components (the dedup stage's
  * clustering step), PageRank, triangle census, label propagation,
  * k-core, coreness and k-truss, plus the term co-occurrence and user
  * co-engagement edge builds the queries bind them to. `edges` is a
  * directed-symmetric (src, dst) frame — both directions present, no
  * self-loops; connected components take a near-dup (d1, d2) pair
  * list instead. */
object Graph {

  /** Largest pair list [[connectedComponents]] labels on the driver.
    * A measured constant, not an option. On 4 vCPUs (`local[4]`, warm
    * JVM) the driver tier (bounded collect, union-find, local relation)
    * against [[distributedComponents]], at 1k / 16k / 64k / 256k edges:
    * clusters of five ids (the shallow near-dup shape) 0.06 / 0.11 /
    * 0.24 / 0.91 s vs 0.36 / 0.44 / 0.61 / 1.34 s; chains 0.05 / 0.08 /
    * 0.17 / 0.64 s vs 3.9 / 4.8 / 7.3 / 17.8 s. So the driver tier is
    * faster at every size measured, and the bound caps what the driver
    * holds: the labelled relation keeps 7.5 MB of heap after GC at 64k
    * clustered edges (4.1 MB for the chain) but 30 MB at 256k, and
    * labelling allocates about 1.7 KB per edge on the way. 65,536 pairs
    * of Long ids are 1 MB of ids, 10× under Spark's own 10 MB bound for
    * a driver-held relation (`spark.sql.autoBroadcastJoinThreshold`). */
  private[graft] val LocalMaxEdges: Int = 1 << 16

  /** Connected components over a near-dup pair list: label every
    * clustered doc with the smallest doc_id reachable from it —
    * the grouping step that turns pairwise near-dups into dedup
    * groups (keep `component_id`, drop the rest).
    *
    * Two tiers by graph size, one contract. One bounded collect
    * (`limit(LocalMaxEdges + 1)`) probes the pair list; at most
    * [[LocalMaxEdges]] pairs are labelled on the driver by
    * union-find ([[localComponents]]) and come back as a local
    * relation, so a batch's few hundred near-dup pairs cost the
    * probe's jobs and no more. A larger list goes to
    * [[distributedComponents]] through an eager checkpoint of the ids,
    * so `pairs` is evaluated twice above the bound, as often as the
    * distributed side alone evaluates it; ids that are neither Int
    * nor Long go there without a probe. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val ids = pairs.select("d1", "d2")
    val fields = ids.schema
    val idType = fields("d1").dataType
    val probe =
      if (idType == fields("d2").dataType && (idType == LongType || idType == IntegerType))
        Some(ids.limit(LocalMaxEdges + 1).collect())
      else None
    probe match {
      case Some(rows) if rows.length <= LocalMaxEdges =>
        val labels = localComponents(rows.map(r =>
          (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)))
        val id: Long => Any = if (idType == IntegerType) _.toInt else identity
        val nullable = fields("d1").nullable || fields("d2").nullable
        pairs.sparkSession.createDataFrame(
          labels.map { case (d, c) => Row(id(d), id(c)) }.toSeq.asJava,
          StructType(Seq(StructField("doc_id", idType, nullable),
            StructField("component_id", idType, nullable))))
      // The probe read `pairs` once; the eager checkpoint is the only
      // other read (the symmetric edges read their input twice).
      case Some(_) => distributedComponents(ids.localCheckpoint())
      case None => distributedComponents(ids)
    }
  }

  /** Union-find over a driver-held pair list: (id, smallest id
    * reachable from it) for every id of `pairs`. Ids are ranked once
    * (sorted), so the smaller root always wins a union and every root
    * is its component's minimum; `find` compresses the paths it walks. */
  private def localComponents(pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val ids = pairs.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i
      while (parent(j) != root) { val next = parent(j); parent(j) = root; j = next }
      root
    }
    for ((a, b) <- pairs) {
      val ra = find(java.util.Arrays.binarySearch(ids, a))
      val rb = find(java.util.Arrays.binarySearch(ids, b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    ids.indices.map(i => (ids(i), ids(find(i)))).toArray
  }

  /** The distributed tier of [[connectedComponents]], for pair lists
    * above [[LocalMaxEdges]]; same contract.
    *
    * Min-label propagation ([[minLabelRounds]]) to a fixpoint. Rounds
    * needed = graph diameter; near-dup clusters are shallow (dups of a
    * common original), so their changed counts fall at least by half
    * every round — from the node count, which stands in for round 0 —
    * and hit 0 in a few. The first round whose changed count fails to
    * halve the previous one marks a deep graph (a chain changes all
    * but two nodes in round 1, one node fewer each round after): the
    * cached symmetric edges go to [[connectedComponentsStars]] at once
    * (same contract, rounds independent of diameter), which still
    * throws IllegalStateException when its own rounds run out. A count
    * that keeps halving hands over after 20 rounds. */
  private[graft] def distributedComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .distinct().cache()
    val rounds = minLabelRounds(edges)
    @scala.annotation.tailrec
    def fixpoint(prevChanged: Long, round: Int): Option[DataFrame] = {
      val (labels, changed, nodes) = rounds.next()
      if (changed == 0) Some(labels)
      else if (round == 20 || 2 * changed > math.min(prevChanged, nodes)) None
      else fixpoint(changed, round + 1)
    }
    // A non-fixpoint exit would leave labels that look valid but are
    // not all component minima: hand the graph to star contraction.
    // Its first localCheckpoint is eager, so `edges` can go after it.
    try fixpoint(Long.MaxValue, 1)
      .map(_.select(col("node").as("doc_id"), col("label").as("component_id")))
      .getOrElse(connectedComponentsStars(edges.select(col("a").as("d1"), col("b").as("d2"))))
    finally edges.unpersist()
  }

  /** Min-label propagation rounds over symmetric (a, b) edges: each
    * element is one round's (node, label) frame, the number of labels
    * that round changed and the node count; 0 changed means the labels
    * are the component minima. Lazy: a round runs when it is pulled.
    *
    * `localCheckpoint` each round truncates the exploding lineage
    * (without it, round i re-executes rounds 1..i-1 and the job goes
    * quadratic). */
  private[graft] def minLabelRounds(edges: DataFrame): Iterator[(DataFrame, Long, Long)] = {
    // seed with round 1's fixpoint value directly — label₀(u) =
    // min(u, min Γ(u)) is what the first propagation round would
    // compute from identity labels, so starting here saves one full
    // join+materialize round
    val seed = edges.groupBy(col("a").as("node"))
      .agg(least(min(col("b")), col("a")).as("label"))
    Iterator.iterate((seed, -1L, -1L)) { case (labels, _, _) =>
      val neighborMin = edges.join(labels, edges("b") === labels("node"))
        .groupBy(edges("a").as("n2")).agg(min("label").as("nlabel"))
      // Carry the previous label through the propagation join so
      // convergence is read off the SAME materialized result — the
      // eager localCheckpoint is the round's only distributed job; the
      // counts below scan checkpointed partitions instead of re-running
      // a second join against the old labels.
      val updated = labels
        .join(neighborMin, labels("node") === neighborMin("n2"), "left")
        .select(col("node"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint()
      val counts = updated.agg(count(when(col("label") =!= col("old"), true)),
        count(lit(1))).collect().head
      (updated.select("node", "label"), counts.getLong(0), counts.getLong(1))
    }.drop(1)
  }

  /** Alternating large-star / small-star connected components
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same contract as [[connectedComponents]]: every node
    * of `pairs` labeled with the minimum reachable id.
    *
    * Why both exist: min-label propagation converges in O(diameter)
    * rounds — fine for shallow near-dup clusters, quadratic pain on
    * chain-shaped graphs. Star contraction converges in O(log²) rounds
    * regardless of diameter, at the cost of two shuffles per round —
    * so [[distributedComponents]] hands over to it once the min-label
    * changed count stops halving.
    *
    *   large-star: every neighbor v > u re-attaches to
    *     m = min(Γ(u) ∪ {u});
    *   small-star: every neighbor v ≤ u (plus u) attaches to the
    *     same m over the small side.
    *
    * Both steps only ever group by node and join ids — no payloads,
    * no driver state; convergence is an edge-multiset hash read off
    * the round's checkpointed result (one extra cheap action over
    * materialized partitions, not a recompute). */
  def connectedComponentsStars(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(
        greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
        .filter(col("a") =!= col("b")).distinct()

    // edges directed (a = larger, b = smaller) between rounds
    var edges = canon(pairs.select(col("d1").as("a"), col("d2").as("b")))
      .localCheckpoint()
    def signature(df: DataFrame): (Long, Long) = {
      // bit_xor fold: order-independent, no ANSI long-overflow (edges
      // are distinct, so xor cancellation can't mask a real change
      // that count doesn't already catch)
      val r = df.agg(
        count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(edges)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetrized neighborhood
      val sym = edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a")
        .agg(least(min(col("b")), col("a")).as("m"))
        .select(col("a").as("u"), col("m"))
      val afterLarge = canon(
        sym.join(mins, sym("a") === mins("u"))
          .filter(col("b") > col("a"))
          .select(col("b").as("a"), col("m").as("b")))
      // small-star over the (larger → smaller) directed edges
      val minsS = afterLarge.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("m"))
      val afterSmall = canon(
        afterLarge.join(minsS, afterLarge("a") === minsS("u"))
          .select(col("b").as("a"), col("m").as("b"))
          .union(afterLarge.select(col("a"), col("b")).join(
            minsS, col("a") === minsS("u")).select(col("a"), col("m").as("b"))))
        .localCheckpoint()
      val newSig = signature(afterSmall)
      converged = newSig == sig
      sig = newSig
      edges = afterSmall
      i += 1
    }
    // A non-fixpoint edge set here emits MULTIPLE (doc_id, component_id)
    // rows per node, and dedupCorpus's `component_id === doc_id` filter
    // would then keep/drop duplicates arbitrarily. Fail fast instead of
    // returning a silently-corrupt labeling.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStars: no fixpoint after $maxIter rounds; " +
        "the star projection would emit multiple labels per node")
    // fixpoint: stars (x, m) with m the component min
    edges.select(col("a").as("doc_id"), col("b").as("component_id"))
      .union(edges.select(col("b").as("doc_id"), col("b").as("component_id")))
      .distinct()
  }

  /** Term co-occurrence graph over (doc_id, text): a directed edge
    * between every two distinct terms of one doc, over each doc's
    * top-`maxTermsPerDoc` terms by tf (ties on the term string). Each
    * doc contributes at most maxTermsPerDoc·(maxTermsPerDoc−1)
    * directed edges regardless of its length (the bounded-blowup
    * property the spec pins with an adversarially long doc). */
  def coOccurrenceEdges(docs: DataFrame, maxTermsPerDoc: Int): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val t = tf
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
          .orderBy(col("tf").desc, col("term"))))
      .filter(col("rk") <= maxTermsPerDoc)
      .select("doc_id", "term")
    t.as("a").join(t.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.term") =!= col("b.term"))
      .select(col("a.term").as("src"), col("b.term").as("dst"))
      .distinct()
  }

  /** PageRank in deterministic FIXED-POINT arithmetic. Floating-point
    * PageRank sums in partition order — unusable under a cross-engine
    * hash gate; here ranks are integers scaled by 10¹², every
    * contribution and damping step is integer floor division, so
    * three iterations produce bit-identical BIGINTs on any engine or
    * cluster shape (the mass lost to flooring is deterministic too).
    *
    * Scale shape: each iteration is one join (edges ⋈ ranks, both
    * keyed on the node) + one map-side-combinable sum — the standard
    * distributed PageRank step; the iteration count is fixed (3), not
    * convergence-driven, so the job graph is static. `edges` is read
    * once per round plus once for the degrees, so callers persist it.
    * Output (term, deg, rank): one row per node, the node column named
    * after the term co-occurrence graph q101 ranks. */
  def pageRank(edges: DataFrame): DataFrame = {
    val SCALE = 1000000000000L
    // r22b: each iteration used to reference the carried rank frame
    // TWICE (once feeding contribs, once as the join's left side), so
    // with no cross-subplan CSE the plan DOUBLED per step — 2³ copies
    // of the deg/contrib subtree, 143 Exchange nodes in the initial
    // plan (AQE reuses the identical exchanges at runtime but re-runs
    // every post-shuffle operator per copy, the q109 lesson at the
    // join level). The static (term, deg, n) base is now an eagerly
    // checkpointed LEAF (|terms| rows, one tiny job) and the update
    // joins contribs back to it, so the carried frame is referenced
    // ONCE per step: 42 Exchanges, measured 4.8 -> 2.0 s on the
    // iteration leg at sf0.1, exceptAll-diff 0 (identical integer
    // arithmetic, and the oracle replays the unrolled rounds).
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nn = deg.agg(count(lit(1)).as("n"))
    val base = deg.crossJoin(broadcast(nn))
      .select(col("src").as("term"), col("deg"), col("n"))
      .localCheckpoint(true)
    var r = base.select(col("term"), col("deg"), col("n"),
      expr(s"${SCALE}L div n").as("rank"))
    for (_ <- 1 to 3) {
      val contribs = edges.join(r.select(col("term").as("src"),
          expr("rank div deg").as("contrib")), "src")
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      r = base.join(contribs, base("term") === contribs("dst"), "left")
        .select(col("term"), col("deg"), col("n"),
          expr(s"(15 * (${SCALE}L div n)) div 100 + (85 * coalesce(s, 0L)) div 100")
            .as("rank"))
    }
    r.select(col("term"), col("deg"), col("rank"))
  }

  /** Triangle census — the standard graph-cohesion statistic
    * (clustering coefficient's numerator; community density): one row
    * of (n_nodes, n_edges, n_triangles) BIGINTs.
    *
    * The plan is DEGREE ORIENTATION, the classic distributed
    * triangle-count move: orient every undirected edge from its
    * (degree, name)-smaller endpoint to its larger one — a total
    * order, so each triangle {a,b,c} has EXACTLY one source node a
    * with both out-edges a→b, a→c, and closes through the single
    * oriented edge b→c. Counting is then wedges-from-a semi-joined
    * against the oriented edge set: no double counting, no /6
    * correction, and — the scale property — each node generates
    * C(outdeg, 2) wedges where orientation bounds out-degree by
    * O(√m) on ANY graph (a hub of degree 10⁶ has out-degree only
    * toward HIGHER-degree nodes, of which there are few) — total
    * wedge work O(m^1.5) instead of the Σdeg² blowup a naive
    * wedge-on-any-node join pays on a skewed graph. All joins are
    * equi-joins on node ids; nothing global but the final count.
    *
    * Memo note: the oriented edge frame has three consumers (two
    * wedge legs + the closing semi-join), so it is memoized on the
    * input frame and populated before the wedge plan runs. */
  def triangleCensus(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    // undirected edge list: one row per unordered pair
    val und = edges.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"))
    val deg = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
    // orient by the (deg, name) total order; carry the order key of
    // both endpoints so the wedge join can compare b <ord c locally
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"),
        least(col("da"), col("db")).as("dlo"),
        greatest(col("da"), col("db")).as("dhi"))
    val o = Memo.of(spark,
      "triangle_oriented:" + Memo.frameKey(edges))(oriented)
    o.count() // populate before the 3-consumer plan (the q105 lesson)
    val wedges = o.as("x").join(o.as("y"), col("x.lo") === col("y.lo"))
      .filter(col("x.dhi") < col("y.dhi") ||
        (col("x.dhi") === col("y.dhi") && col("x.hi") < col("y.hi")))
      .select(col("x.hi").as("b"), col("y.hi").as("c"))
    val tri = wedges.join(o.select(col("lo").as("b"), col("hi").as("c")),
      Seq("b", "c"), "left_semi")
    und.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
      .crossJoin(broadcast(tri.agg(count(lit(1)).as("n_triangles"))))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Synchronous label-propagation iterations for community
    * detection (Raghavan et al. 2007) — mesoscale structure, the
    * "which topical cluster" signal mixing and near-dup triage
    * consume. Deterministic synchronous variant: every node simultaneously
    * adopts the most frequent label among its NEIGHBORS (count desc,
    * label asc — a total order, so the fixed-point-free oscillation
    * classic async LPA avoids by randomization is here simply
    * deterministic and the oracle unrolls the fixed iteration count,
    * the q101 convention). Labels init to the node's own id. Each
    * iteration is one edge join + one combinable count + one
    * `min_by((−count, label))` argmax — |edges|-row shuffles, and the
    * capped edge build keeps |edges| ∝ docs. Output (v, lbl). */
  def lpaCommunities(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 1 to iters) {
      labels = edges
        .join(labels.select(col("v").as("dst"), col("lbl")), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("src").as("v"))
        .agg(min_by(col("lbl"),
          struct((-col("c")).as("nc"), col("lbl"))).as("lbl"))
    }
    labels
  }

  /** Synchronous k-core peel: each round simultaneously drops every
    * node whose degree among the CURRENT survivors is < k, for a FIXED
    * `iters` rounds — the q181/q107 convention that lets the oracle
    * unroll the exact same rounds, so engine and oracle agree at ANY
    * round count and the fixpoint claim ("this is the true k-core")
    * is pinned separately by the crafted-graph spec, which also drives
    * the cascade (peeling one layer exposes the next — the behavior a
    * single degree filter cannot reproduce). k-core is the degeneracy
    * backbone (Seidman 1983; Batagelj & Zaveršnik 2003) — the standard
    * "dense engagement nucleus" signal.
    *
    * Each round references the survivor set ONCE (one dst-side
    * semi-join + one map-side-combinable degree count, ids only) —
    * NOT the textbook both-endpoints membership test, whose second
    * reference would DOUBLE the unresolved logical plan per round
    * (2^iters copies of the upstream edge build; measured as a
    * planner hang at 6 rounds before this form). The src-side test
    * is redundant by MONOTONICITY: survivor sets only shrink, so a
    * node dropped at round i has degree < k against a SUPERSET of
    * every later survivor set and can never re-qualify — the
    * single-reference round computes the identical set, and the
    * oracle's two-sided unrolled SQL certifies exactly that
    * equivalence on the fixture. Synchronous peel converges in
    * O(diameter)-ish rounds on real graphs (not the |V| rounds
    * sequential peel implies); production picks `iters` from the
    * ladder and verifies convergence by comparing round R to R−1,
    * exactly what the spec does. Output: (v, deg) — degree within
    * the final survivor set's inducing round. */
  def kCore(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    var surv = edges.select(col("src").as("v")).distinct()
      .withColumn("deg", lit(0L))
    for (_ <- 1 to iters) {
      surv = edges
        .join(surv.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .groupBy(col("src").as("v"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
    }
    surv
  }

  /** Full coreness decomposition (every node's core NUMBER, not one
    * fixed-k membership) via the distributed h-index fixpoint
    * (Montresor, De Pellegrini & Miorandi, "Distributed k-core
    * decomposition", 2011; Lü et al. 2016 for the h-operator
    * convergence proof): start every node at its degree, then each
    * round replace c(v) with the H-INDEX of its neighbors' current
    * values — the largest h such that ≥ h neighbors hold c ≥ h.
    * Estimates only ever DECREASE and the fixpoint is exactly the
    * coreness, so `{v : c(v) ≥ k}` at convergence equals [[kCore]]'s
    * k-core for every k simultaneously (the cross-operator law the
    * spec pins). Fixed `iters`, the [[kCore]]/q181 convention — the
    * oracle unrolls the identical rounds, so engine and oracle agree
    * at ANY round count and convergence is asserted separately.
    *
    * Each round references the carried frame ONCE (the kCore lesson):
    * one dst-side join, then the h-index as the [[graft.functions
    * .HIndex]] counting kernel over the per-node neighbor-value
    * multiset (r22 — the rank-window spelling `max(least(rank, c))`
    * it replaces is equivalent by the classic h-index identity,
    * spec-pinned, and paid a per-round in-partition Sort the counting
    * form does not need). The aggregation groups by node —
    * per-group state is the node's degree, bounded wherever the edge
    * build caps fan-out (q101's per-doc cap; the co-engagement
    * `maxUsersPerKey`); an uncapped hub makes exactly the one-reducer
    * group those caps exist for.
    *
    * FRONTIER RECOMPUTE: TESTED AND REFUTED (r19, the q127
    * convention of recording the measured road not taken). The
    * [[kTruss]] incremental lever looks like it should transfer —
    * v's h-index is a pure function of its neighbors' values, so
    * only nodes with a CHANGED neighbor need recomputing — and an
    * exact frontier variant (recompute `{v : ∃ neighbor in
    * changed}`, carry the rest, per-round localCheckpoint to cut the
    * three-way carried-frame reference) passed the randomized
    * equivalence spec. But on the deployed co-engagement graph the
    * frontier never shrinks: measured at sf0.01, `changed` falls
    * 134 → 120 → … → 1 while the frontier holds 150/150 of the nodes
    * through round 9 — the graph is DENSE (that is the point of a
    * floor-22 projection), so one changed node frontiers almost
    * everyone, the window volume never drops, and the variant's 24
    * per-round materializations turned a 9.1 s q201 into 14.0 s at
    * sf0.1 (driver-shape bench). Edge-axis incrementality (kTruss)
    * pays because REMOVALS localize; node-value ripples on a dense
    * graph do not. The lazy single-plan synchronous form below is
    * the measured winner. */
  def coreness(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be positive, got $iters")
    // r22: the kernel is order-insensitive, so a round is one
    // broadcast-able join + one hash aggregate over the cache's
    // src-partitioning — no Sort (the rank-window form had 12 in q201's
    // before-plan, one per round).
    graft.functions.HIndex.register(edges.sparkSession)
    var c = edges.groupBy(col("src").as("v")).agg(count(lit(1)).as("c"))
    for (_ <- 1 to iters) {
      c = edges
        .join(c.select(col("v").as("dst"), col("c").as("cv")), "dst")
        .groupBy(col("src").as("v"))
        .agg(expr("h_index(collect_list(cv))").as("c"))
    }
    c
  }

  /** k-truss peel — the EDGE-density axis of the graph family
    * (Cohen, "Trusses: cohesive subgraphs for social network
    * analysis", 2008): each round simultaneously drops every edge in
    * fewer than k−2 triangles among the CURRENT survivors, for a
    * fixed `iters` rounds (the kCore/q181 convention — the oracle
    * unrolls identical rounds, equality holds at any count,
    * convergence pinned separately). Where k-core certifies node
    * degrees, k-truss certifies that connections are EMBEDDED in
    * triangles — the standard community-backbone refinement
    * (a hub wired to k strangers survives the k-core and dies here).
    *
    * Per-edge support is |N(a) ∩ N(b)| computed as ONE in-row
    * `array_intersect` of the two endpoints' sorted adjacency arrays
    * — deliberately NOT the q118 wedge self-join: per round this
    * joins |E| rows against the |V|-row adjacency frame and does
    * bounded in-row work (arrays bounded by max degree, which the
    * edge-build caps bound), where the wedge join materializes a row
    * PER TRIANGLE PER EDGE — Σ-triangle volume that explodes on the
    * dense graphs truss analysis targets. A truss round inherently
    * references the carried edge frame THREE ways (two adjacency
    * sides + the edge list), so the kCore single-reference trick
    * cannot apply; the plan-doubling trap is cut at the LINEAGE layer
    * instead: each round ends in an eager `localCheckpoint`, so the
    * next round plans against a materialized leaf (the documented
    * iterative-algorithm discipline; production swaps in reliable
    * checkpointing when executor loss matters). Output: surviving
    * (a, b, support) with support as evaluated in the final round. */
  def kTruss(edges: DataFrame, k: Int, iters: Int): DataFrame = {
    require(k >= 3, s"k must be at least 3, got $k")
    require(iters >= 1, s"iters must be positive, got $iters")
    graft.functions.SortedIntersectCount.register(edges.sparkSession)
    // INCREMENTAL recompute (exact): an edge's support |N(a) ∩ N(b)|
    // can only change between rounds if a or b LOST an edge — i.e. is
    // an endpoint of a removed edge — because an untouched endpoint's
    // neighborhood is identical in the new survivor set. So round 1
    // computes every support; later rounds recompute only edges
    // incident to the previous round's removal endpoints and carry
    // every other edge's support forward (the carried value equals
    // the fresh value by the neighborhood-identity argument, so the
    // output — supports included — is bit-identical to the full
    // synchronous recompute the oracle replays; the randomized spec
    // pins it against an independent reference peel). Rounds after
    // convergence touch nothing and cost only empty joins.
    var und = edges.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b"), lit(0L).as("support"))
      .localCheckpoint(true)
    var removedV: DataFrame = null // (rv) — last round's removal endpoints
    var i = 1
    var converged = false
    while (i <= iters && !converged) {
      // r21: touched/untouched via TWO broadcastable left joins that
      // flag each edge's endpoints against removedV, instead of four
      // semi/anti joins — same partition of und (removedV is distinct,
      // so the left joins are row-preserving), half the join legs per
      // round (guide §2.4). removedV is a checkpointed leaf, so the
      // two references to `flagged` (touched below, untouched at the
      // union) re-run only broadcast-join work over leaves.
      val flagged =
        if (i == 1) null
        else und
          .join(removedV.select(col("rv").as("a"), lit(true).as("_fa")),
            Seq("a"), "left")
          .join(removedV.select(col("rv").as("b"), lit(true).as("_fb")),
            Seq("b"), "left")
          .withColumn("_tt",
            coalesce(col("_fa"), lit(false)) || coalesce(col("_fb"), lit(false)))
      val touched =
        if (i == 1) und
        else flagged.filter(col("_tt")).select("a", "b")
      val untouched =
        if (i == 1) und.limit(0)
        else flagged.filter(!col("_tt")).select("a", "b", "support")
      val sym = und.select(col("a").as("v"), col("b").as("w"))
        .unionAll(und.select(col("b").as("v"), col("a").as("w")))
      // r19: only TOUCHED edges read adjacency arrays, so build them
      // only for touched endpoints — the removal endpoints plus their
      // surviving partners (a superset of every touched edge's ends,
      // derived from removedV so the touched subplan isn't re-run).
      // EXACT: rec's inner joins find every array they ask for; the
      // arrays themselves are still built from the FULL survivor set.
      // This was the last full-|E| leg in the post-convergence margin
      // rounds: the collect_list shuffle now carries only the
      // frontier's rows, so an empty removal round costs empty work
      // in the adj build too, not just the support legs.
      val needed =
        if (i == 1) null
        else sym.join(removedV, col("v") === col("rv"), "left_semi")
          .select(col("w").as("v"))
          .unionAll(removedV.select(col("rv").as("v")))
          .distinct()
      val symNeeded = if (i == 1) sym else sym.join(needed, Seq("v"), "left_semi")
      val adj = symNeeded.groupBy("v")
        .agg(sort_array(collect_list(col("w"))).as("nb"))
      // r21: checkpoint the recomputed supports ONCE and derive kept/
      // dropped from the leaf — previously `und` (via kept) and
      // `removedV` (via dropped) each re-ran the whole rec subplan
      // (adjacency build + two array joins), doubling every round's
      // expensive leg (measured: 19 jobs and ~4.5 s per round at
      // sf0.1; the rec-leaf form halves the compute and most of the
      // jobs). Exact: same rows, computed once.
      // r21: adjacency arrays are sort_array output, so on BIGINT node
      // ids the support |N(a) ∩ N(b)| is one allocation-free merge per
      // edge (`sorted_intersect_count` — same count as
      // size(array_intersect) on sorted distinct-neighbor arrays); the
      // kernel is long-typed, so other id types (spec graphs use
      // strings) keep the builtin.
      val supportExpr =
        if (edges.schema("src").dataType ==
            org.apache.spark.sql.types.LongType)
          expr("sorted_intersect_count(na, nbb)")
        else size(array_intersect(col("na"), col("nbb"))).cast("long")
      val rec = touched
        .join(adj.select(col("v").as("a"), col("nb").as("na")), "a")
        .join(adj.select(col("v").as("b"), col("nb").as("nbb")), "b")
        .withColumn("support", supportExpr)
        .select("a", "b", "support")
        .localCheckpoint(true)
      val kept = rec.filter(col("support") >= k - 2)
      val dropped = rec.filter(col("support") < k - 2)
      und = untouched.select("a", "b", "support").unionAll(kept)
        .localCheckpoint(true)
      removedV = dropped.select(col("a").as("rv"))
        .unionAll(dropped.select(col("b").as("rv")))
        .distinct().localCheckpoint(true)
      // r19 EARLY EXIT — exact under the fixed-iters contract: a
      // round with no removals leaves und (supports included)
      // bit-identical, so every later round is the identity and the
      // output equals the full `iters` unroll the oracle replays at
      // ANY remaining count. The emptiness probe is a limit-1 action
      // on the just-checkpointed removal frame (~free), and it
      // deletes the margin rounds' whole cost — at sf0.1 the truss
      // converges in round 3 of 7, so 4 of 7 rounds vanish. Only
      // kTruss gets this: it already materializes per round; kCore/
      // coreness are single lazy plans where a per-round action
      // would force exactly the materialization the coreness
      // frontier refutation priced.
      converged = removedV.isEmpty
      i += 1
    }
    und
  }

  /** User co-engagement graph: an undirected edge between two users
    * for every pair sharing at least `minShared` distinct `props.k`
    * engagement keys — the standard bipartite user–item projection
    * (users, keys, the DISTINCT (user, key) incidence frame; the
    * share floor is what keeps the projection from degenerating into
    * the complete graph). Emitted directed-symmetric (both
    * directions, no self-loops), the q101 edge convention every graph
    * operator here consumes.
    *
    * The projection is PREFIX-FILTERED (r18, the q197 machinery in
    * its constant-overlap form — Chaudhuri et al., SSJoin, ICDE'06):
    * a pair needs |K_u ∩ K_v| ≥ c, so each user indexes only the
    * first |K_u| − c + 1 keys of the shared (key-df asc, key asc)
    * canonical order — any qualifying pair's canonically-smallest
    * common key sits inside BOTH prefixes, so the meet is lossless —
    * and candidates verify EXACTLY by one in-row `array_intersect`
    * of the two full key arrays. vs the naive self-join + pair-count
    * aggregate this replaces: the naive form shuffles the FULL meet
    * volume Σ_k |U_k|² through a hash aggregate (measured 22.9 s of
    * q198's 27.8 s single-pass at sf0.1 — the fixture's 100-key
    * universe makes every key hot), while here the join moves only
    * prefix meets, `distinct` replaces the count (cheaper: no
    * per-pair counter state, map-side dedup), and the intersection
    * count happens once per CANDIDATE PAIR on two ≤|K|-element
    * arrays instead of once per meet row. Users with fewer than c
    * keys can never qualify and drop before the join.
    *
    * Scale: per-key fan-out is still the quadratic axis —
    * `maxUsersPerKey` caps it ([[Dedup]]'s
    * `maxShingleDocFreq` twin): keys engaging more than the cap drop
    * from the incidence frame before anything else (a key half the
    * user base touches is boilerplate affinity, not signal — and it
    * alone would contribute |U|²/8 pair rows). None preserves exact
    * projection semantics for the oracle.
    *
    * Output (src, dst, n_shared) where n_shared = |K_u ∩ K_v| ≥
    * minShared; graph operators read `src, dst`.
    * The count is the verification intersection the projection
    * already computes — emitting it makes ONE projection serve every
    * floor above its own (r19): `n_shared ≥ c'` on a floor-c frame
    * equals the floor-c' projection exactly for any c' ≥ c, because
    * the prefix filter is lossless at c and the attached count is the
    * exact intersection — which is how q202's floor-32 graph is now
    * derived from the q198/q201 floor-22 memo instead of paying a
    * second projection join (equivalence spec-pinned). */
  def coEngagementEdgesShared(events: DataFrame, minShared: Long,
                              maxUsersPerKey: Option[Int] = None): DataFrame = {
    require(minShared >= 1, s"minShared must be positive, got $minShared")
    graft.functions.SortedIntersectCount.register(events.sparkSession)
    val uk = events.select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .filter(col("k").isNotNull)
      .distinct()
    val pruned = maxUsersPerKey match {
      case None => uk
      case Some(cap) =>
        val hot = uk.groupBy("k").agg(count(lit(1)).as("nu"))
          .filter(col("nu") > cap).select("k")
        uk.join(hot, Seq("k"), "left_anti")
    }
    // canonical (key-df asc, key asc) order per user; users below the
    // floor can never reach c shared keys
    val kdf = pruned.groupBy("k").agg(count(lit(1)).as("kdf"))
    val arrs = pruned.join(kdf, "k")
      .groupBy("user_id")
      .agg(array_sort(collect_list(struct(col("kdf"), col("k")))).as("ks"))
      .withColumn("nk", size(col("ks")).cast("long"))
      .filter(col("nk") >= minShared)
    val prefixes = arrs.select(col("user_id"),
        explode(expr(s"slice(ks, 1, int(nk - $minShared + 1))")).as("p"))
      .select(col("user_id"), col("p.k").as("k"))
    // r22: the candidate `distinct` is the projection's biggest
    // exchange (~14M prefix-meet rows at sf0.1) — packed to one
    // BIGINT per pair when the probed id bound allows
    // ([[graft.operators.PairPack]]; guide §2.3 "narrower types").
    // The probe runs once per projection build and the memoized
    // coengShared22 frame is that build's only query-path caller.
    val cands = PairPack.distinctPairs(
      PairPack.pairsFromPostings(prefixes, Seq("k"), "user_id")
        .select(col("a.user_id").as("u"), col("b.user_id").as("v")),
      "u", "v", packed = PairPack.fits32(events, "user_id"))
    // r21: key arrays re-sorted BY VALUE once per user (tiny frame, ~
    // |users| rows) so verification is one allocation-free merge per
    // candidate pair (`sorted_intersect_count`) instead of
    // size(array_intersect)'s per-pair hash set + result array —
    // measured as ~7 s of the 12.8 s cold projection at sf0.1
    // (1.1M pairs × two ~100-element arrays). Same count exactly:
    // the keys are distinct per user, and the kernel counts distinct
    // matches on any sorted input.
    val flat = arrs.select(col("user_id"),
      array_sort(expr("transform(ks, s -> s.k)")).as("kk"))
    val p = cands
      .join(flat.select(col("user_id").as("u"), col("kk").as("k1")), "u")
      .join(flat.select(col("user_id").as("v"), col("kk").as("k2")), "v")
      .withColumn("n_shared", expr("sorted_intersect_count(k1, k2)"))
      .filter(col("n_shared") >= minShared)
      .select("u", "v", "n_shared")
    // r22b: both directions emitted IN-ROW (explode of a 2-element
    // array) instead of `p.unionAll(p.select(swapped))` — the union
    // referenced the whole projection twice, and with no cross-subplan
    // CSE each branch re-ran the verification stage (the two broadcast
    // joins + sorted_intersect_count over every candidate pair; AQE
    // stage reuse dedups the candidate EXCHANGE but not the
    // post-shuffle operators). One explode row-doubles the SAME pass;
    // row multiset identical (spec-pinned).
    p.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst"), col("n_shared")),
        struct(col("v").as("src"), col("u").as("dst"), col("n_shared"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.n_shared").as("n_shared"))
  }
}
