package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOf, Graph, Maintenance, Multimodal, PairPack, Sketches}
import graft.streaming.EventStreams

/** Event-time window inventory over `events`, plus multimodal
  * plumbing queries. The window queries run the SAME expressions the
  * streaming path uses (EventStreams), in batch mode — so the DuckDB
  * oracle indirectly pins the streaming semantics too.
  */
object EventQueries {

  /** Tumbling 1h event-time window aggregation (T-extension, §2.10). */
  def q50Tumbling(spark: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingAgg(Tables.events(spark, dir), "1 hour")

  /** Sliding 1h/30m window counts. */
  def q51Sliding(spark: SparkSession, dir: String): DataFrame =
    EventStreams.slidingAgg(Tables.events(spark, dir), "1 hour", "30 minutes")

  /** Gap-based session windows per user (30 min). */
  def q52Sessions(spark: SparkSession, dir: String): DataFrame =
    EventStreams.sessionAgg(Tables.events(spark, dir), "30 minutes")

  /** Multimodal plumbing: binary payload + metadata + stub decode over
    * text-derived assets. Oracle covers the REAL plumbing columns
    * (byte lengths, metadata) — stub-derived columns are spec-tested. */
  def q53MultimodalMeta(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageStub(
        Multimodal.assetsFromText(Tables.documents(spark, dir)))
      .select(
        col("asset_id"), col("modality"),
        length(col("payload")).cast("long").as("payload_bytes"),
        col("meta.n_bytes").cast("long").as("meta_bytes"),
        col("meta.origin").as("origin"))

  /** Perceptual image-hash arithmetic under the oracle gate: aHash
    * (8×8 block-mean threshold) and dHash (9×8 gradient signs) over
    * DETERMINISTIC doc_id-derived luminance grids, via the same
    * [[graft.functions.ImageCore]] bit-assembly the real
    * `javax.imageio` decode path uses ([[Multimodal.imageHashes]]).
    * The parquet fixtures carry no image bytes, so the oracle
    * certifies the hash ARITHMETIC (integer-exact in both engines —
    * bit i iff vᵢ·64 ≥ Σv; gradient sign per 9-wide row) while real
    * decode is spec-verified against synthesized PNG/BMP/JPEG
    * payloads (Round9Spec). Grid values are pure integer arithmetic
    * on doc_id — engine-portable, no float, no hash functions. */
  def q134ImageHash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.AHash64Gray.register(spark)
    graft.functions.DHash64Gray.register(spark)
    def grid(n: Int) =
      s"transform(sequence(0, ${n - 1}), " +
        "i -> pmod(doc_id * 2654435761L + cast(i as bigint) * 40503L, 256L))"
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr(s"ahash64_gray(${grid(64)})").as("ahash"),
      expr(s"dhash64_gray(${grid(72)})").as("dhash"))
  }

  /** Image near-dup pairs under the oracle gate: q134's deterministic
    * grid family restructured to PLANT near-duplicates — every doc in
    * cluster `doc_id div 16` shares one base 8×8 luminance pattern,
    * perturbed in a single doc-specific cell (+128 mod 256), so
    * intra-cluster pairs sit at hamming ≈ 2–4 on their aHashes while
    * cross-cluster pairs sit near 32. Cluster WIDTH is pinned at 16
    * docs whatever the corpus size (`div 16`, the ScaleProbe stance —
    * a `pmod(doc_id, K)` key grows every clique with the corpus, so
    * pair OUTPUT goes quadratic in scale and the bench measures
    * planted-fixture growth, not engine overhead; real corpora's
    * duplicate cliques don't widen just because the corpus does, and
    * when they do, the exact-dedup pre-pass collapses them first —
    * Dedup.exactDedup's documented ordering). The Spark side runs the
    * REAL scale path ([[Multimodal.hashNearDupPairs]]: sign-band
    * buckets, candidates only inside equal 8-bit slices,
    * pigeonhole-exact recall at bands=8 > maxHamming=4, never O(n²));
    * the DuckDB oracle brute-forces every pair with xor + bit_count
    * over the same integer hash assembly — certifying the banded join
    * finds EXACTLY the brute-force pair set, the recall claim itself. */
  def q136ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.AHash64Gray.register(spark)
    val grid = clusterGridSql("doc_id div 16", "pmod(doc_id, 64)")
    // memoized: [[Multimodal.hashNearDupPairs]] SELF-JOINS its input,
    // and without materialization each side re-evaluates the whole
    // grid-synthesis + hash expression chain — and, worse, the
    // 4-chained-transform expression tree rides into both join
    // branches of an already large plan (analysis + codegen of the
    // duplicated tree measured as the bulk of this query's bench
    // cost; the 8-byte hash frame itself is tiny). In production the
    // hash frame is a materialized column of the asset table anyway —
    // hashing once at ingest is the whole point of a fingerprint.
    val hashed = Memo.of(spark, s"image_hashes_synth:$dir") {
      Tables.documents(spark, dir).select(
        col("doc_id").as("asset_id"),
        expr(s"ahash64_gray($grid)").as("ahash"))
    }
    // keyBands=2: slice-pair bucket keys (16 effective bits) — the
    // corpus-size dial that keeps candidate volume linear once n
    // outgrows the 2^8 single-slice key space; recall stays
    // pigeonhole-exact since 8 − 4 ≥ 2
    Multimodal.hashNearDupPairs(hashed, maxHamming = 4, bands = 8,
        keyBands = 2)
      .select(col("id1").as("d1"), col("id2").as("d2"), col("hamming"))
  }

  /** Synthetic 64-cell luminance grid for a cluster key, perturbed in
    * one doc-specific cell: the base pattern is a splitmix-style
    * integer mix (multiply → xor-shift → multiply → xor-shift, all
    * exact BIGINT ops both engines replay) of (cluster·64 + cell) —
    * an AFFINE generator is provably wrong here: its cell values form
    * arithmetic progressions mod 256, so distinct clusters land on
    * near-identical aHashes and "near-dup" stops meaning anything
    * (measured: 50k docs collapsed onto 2.5k hashes, 68M
    * hamming-≤-4 pairs; the mixed grid gives 49k distinct hashes and
    * only the planted intra-cluster pairs). Shared by q136 and
    * ScaleProbe's banded near-dup probe. */
  def clusterGridSql(clusterSql: String, perturbSql: String): String = {
    val seqN = s"transform(sequence(0, 63), i -> " +
      s"($clusterSql) * 64 + cast(i as bigint) + 1)"
    s"transform(${splitmixChainSql(seqN)}, (d, i) -> " +
      s"pmod(d + if(i = ($perturbSql), 128L, 0L), 256L))"
  }

  /** The audio analogue of [[clusterGridSql]]: a 65-window energy
    * envelope (magnitudes mod 2¹⁶, the q137 regime) shared by every
    * doc in a cluster except one perturb-position window boosted by
    * 2¹⁵ — so cluster members land a few gradient-sign bits apart and
    * near-dup pair output grows linearly with docs, the [[q136ImageNearDup]]
    * scaling regime for [[graft.operators.Multimodal.hashNearDupPairs]]
    * over `ehash64_energy`. */
  def clusterEnvelopeSql(clusterSql: String, perturbSql: String): String = {
    val seqN = s"transform(sequence(0, 64), i -> " +
      s"($clusterSql) * 65 + cast(i as bigint) + 1)"
    s"transform(${splitmixChainSql(seqN)}, (d, i) -> " +
      s"pmod(d + if(i = ($perturbSql), 32768L, 0L), 65536L))"
  }

  /** The splitmix-style mix of an array of positive BIGINT seeds:
    * multiply → xor-shift(16) → multiply → xor-shift(16), all inside
    * 2³² — four chained list transforms, every op exact in both
    * engines (`^`/`div` in Spark, `xor`/`//` in DuckDB). */
  private def splitmixChainSql(seqSql: String): String = {
    val m1 = s"transform($seqSql, n -> pmod(n * 2654435761L, 4294967296L))"
    val m2 = s"transform($m1, a -> a ^ (a div 65536))"
    val m3 = s"transform($m2, b -> pmod(b * 40503L, 4294967296L))"
    s"transform($m3, c -> c ^ (c div 65536))"
  }

  /** Acoustic-fingerprint arithmetic under the oracle gate (the q134
    * convention carried to AUDIO): the 64-bit energy-gradient hash —
    * bit i iff energy(i+1) > energy(i) over a 65-window envelope —
    * computed by the same [[graft.functions.AudioCore]] bit assembly
    * the real `javax.sound.sampled` WAV decode path uses
    * ([[Multimodal.audioHashes]]), here over DETERMINISTIC
    * doc_id-derived envelopes (splitmix-mixed, mod 2¹⁶ — energy-like
    * magnitudes). The parquet fixtures carry no audio bytes, so the
    * oracle certifies the hash ARITHMETIC while real decode
    * (PCM 8/16-bit, mono mixdown, endianness) is spec-verified
    * against synthesized WAV payloads (AudioCodecSpec). */
  def q137AudioHash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.EHash64Energy.register(spark)
    val seqN = "transform(sequence(0, 64), i -> " +
      "doc_id * 65 + cast(i as bigint) + 1)"
    val env = s"transform(${splitmixChainSql(seqN)}, d -> pmod(d, 65536L))"
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr(s"ehash64_energy($env)").as("ehash"))
  }

  /** As-of join: every event enriched with the user's most recent
    * signup value at event time (union+window composition — one
    * shuffle, no range-join explosion). */
  def q54AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val state = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("rts"), col("value").as("state_val"))
    AsOf.asofJoinLast(
        ev.select(col("event_id"), col("user_id"), col("ts")),
        state, key = "user_id", leftTime = "ts", rightTime = "rts",
        valueCols = Seq("state_val"))
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
        col("state_val"))
  }

  /** Keyed interval (range) join: signup → purchase attribution within
    * 2 hours per user — batch mode of the stream-stream join shape
    * (same expressions; the streaming variant is spec-driven with
    * MemoryStreams). */
  def q55IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    EventStreams.intervalJoin(signups, purchases, "user_id", "2 hours")
      .select(col("user_id"),
        col("l_event_id").as("signup_id"),
        col("r_event_id").as("purchase_id"))
  }

  /** Left-outer variant of q55: every signup appears, unconverted ones
    * null-padded — the funnel/attribution report shape. Same
    * expressions the streaming left-outer path uses (watermark-closed
    * emission is spec-driven; batch is the oracle). */
  def q64IntervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"))
    EventStreams.intervalJoin(signups, purchases, "user_id", "2 hours",
        joinType = "left_outer")
      .select(col("user_id"),
        col("l_event_id").as("signup_id"),
        col("r_event_id").as("purchase_id"))
  }

  /** Windowed top-k: the 2 most frequent event types per tumbling
    * hour — the "trending items per window" report. Rank keys are
    * (count desc, type asc): integer-exact ordering, so the window
    * rank survives the cross-engine hash gate. One aggregation +
    * one per-window window function; the rank's partition key is the
    * window start, so parallelism = number of windows. */
  def q69WindowTopk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("window_start")
      .orderBy(col("n_events").desc, col("event_type").asc)
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 2)
  }

  /** Unique users + event volume per tumbling hour — the audience
    * dashboard row. Exact countDistinct (batch analytics; a streaming
    * variant would use approx_count_distinct, whose HLL sketch no
    * cross-engine oracle can replay). */
  def q70WindowUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_users"), col("n_events"))

  /** Heavy hitters: exact top-10 users by event volume, each checked
    * against the one-pass Misra-Gries frequent-items sketch
    * (`stat.freqItems`). The sketch's CONTENTS are partition-order
    * dependent and stay out of the hash; its GUARANTEE is conditional
    * — every item with frequency ABOVE the support threshold appears —
    * and `hh_covered` asserts exactly that conditional: a top user
    * below support·N vacuously passes (measured: sf0.1's rank-10 user
    * sits under the 0.001 share and is legitimately absent), a top
    * user above support that the sketch missed is a real failure. One
    * row per top user, all-integer output; the sketch side is a
    * broadcast of one tiny array row, no collect. */
  def q75HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val support = 0.001
    val ev = Tables.events(spark, dir)
    val hh = ev.stat.freqItems(Seq("user_id"), support)
      .select(col("user_id_freqItems").as("hh"))
    val total = ev.agg(count(lit(1)).as("n_total"))
    ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id").asc).limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_events").desc, col("user_id").asc)).cast("long"))
      .crossJoin(broadcast(hh))
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("n_events"), col("rank"),
        (col("n_events").cast("double") <= lit(support) * col("n_total") ||
          array_contains(col("hh"), col("user_id")))
          .cast("long").as("hh_covered"))
  }

  /** Z-order (Morton) clustering code over (user_id, hour-of-day) —
    * the layout key [[graft.operators.Maintenance.zorderWrite]] sorts
    * by. The query materializes the full derivation — min/max
    * normalization to 8-bit buckets, then the bit interleave — so the
    * oracle replays every step in integer-exact SQL; the layout
    * EFFECT (file pruning on either dimension, not just the leading
    * one) is measured in MaintenanceSpec. */
  def q78ZorderCode(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id").cast("long").as("u"),
        hour(col("ts")).cast("long").as("h"))
    val mm = e.agg(
      min(col("u")).as("mn1"), max(col("u")).as("mx1"),
      min(col("h")).as("mn2"), max(col("h")).as("mx2"))
    e.crossJoin(broadcast(mm))
      .select(col("event_id"),
        Maintenance.scaleToBits(col("u"), col("mn1"), col("mx1"), 8).as("b1"),
        Maintenance.scaleToBits(col("h"), col("mn2"), col("mx2"), 8).as("b2"))
      .withColumn("zb", Maintenance.mortonCode(col("b1"), col("b2"), 8))
  }

  /** The Morton interleave as portable SQL — the oracle-side mirror of
    * [[graft.operators.Maintenance.mortonCode]]. */
  private def zInterleaveSql(c1: String, c2: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($c1 >> $i) & 1) << ${2 * i + 1})",
      s"((($c2 >> $i) & 1) << ${2 * i})")).mkString(" | ")

  /** RANGE-frame window over event-time days: trailing-7-day revenue
    * and volume per day — the moving-aggregate report. RANGE (value
    * bounds over day numbers), not ROWS: gap days must still widen the
    * frame, which a row-count frame gets wrong. Revenue is integer
    * cents (round(value·100) — same IEEE double op both engines) so
    * the running sums are order-free exact integers; the window input
    * is the DAILY aggregate, bounded by calendar days, so the
    * unpartitioned ordered window is safe at any corpus scale (the
    * per-event table never flows through a single partition). */
  def q86RangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day_int"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day_int")
      .agg(sum(col("cents")).as("day_cents"), count(lit(1)).as("n_events"))
    val w7 = Window.orderBy(col("day_int")).rangeBetween(-6, 0)
    daily.select(col("day_int"), col("day_cents"), col("n_events"),
      sum(col("day_cents")).over(w7).as("c7_cents"),
      sum(col("n_events")).over(w7).as("n7_events"))
  }

  /** Ordered funnel: view → signup-after-view → purchase-after-signup,
    * per user, counted per stage. Each stage is "first qualifying
    * event at-or-after the previous stage's first time" — the
    * classic product-analytics funnel, NOT a bag-of-events AND (order
    * matters: a purchase before the signup doesn't convert).
    *
    * Scale shape: three aggregates all keyed on user_id — the stage
    * joins are co-partitioned on the same key, so after the first
    * exchange the chain reuses the partitioning (no new shuffle per
    * stage); stage frames only ever shrink. Timestamps and counts
    * only — deterministic. */
  def q89Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("t1"))
    val t2 = ev.join(t1, "user_id")
      .filter(col("event_type") === "signup" && col("ts") >= col("t1"))
      .groupBy("user_id").agg(min(col("ts")).as("t2"))
    val t3 = ev.join(t2, "user_id")
      .filter(col("event_type") === "purchase" && col("ts") >= col("t2"))
      .groupBy("user_id").agg(min(col("ts")).as("t3"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"), col("n_users"))
    stage("1_view", t1)
      .unionByName(stage("2_signup_after_view", t2))
      .unionByName(stage("3_purchase_after_signup", t3))
  }

  /** Cohort retention: users cohorted by FIRST-PURCHASE day, counted
    * as retained when they have any event `offset` days later
    * (offsets 0–7) — the (cohort × offset) retention matrix. All
    * integer day arithmetic; (user, day) pairs are de-duplicated
    * BEFORE the cohort join, so the join input is bounded by
    * users × active-days, not raw event volume — the shape that
    * matters when events are 100 TB but users × days is not. */
  def q90CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        col("event_type"))
    val cohort = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    ev.select("user_id", "day").distinct()
      .join(cohort, "user_id")
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .filter(col("day_offset").between(0, 7))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Exact distinct users per event type via the SALTED two-stage
    * decomposition ([[graft.operators.Skew.saltedDistinctCount]], 8
    * buckets): the aggregation-side skew tool, proven row-identical to
    * the plain `count(DISTINCT ...)` by the oracle — which IS the
    * plain form, so the gate certifies the decomposition, not just the
    * numbers. */
  def q91SaltedDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Skew.saltedDistinctCount(
      Tables.events(spark, dir), key = "event_type", value = "user_id",
      buckets = 8)

  /** Event-transition matrix (the Markov/path-analysis shape): count
    * (this event type → user's next event type) pairs, with the share
    * of each source type's outgoing transitions. The sequencing window
    * orders by (ts, event_id) — a unique key, so `lead` is
    * deterministic under ties; per-user partitions keep the window
    * parallel. Counts are integers; the share is one int/int IEEE
    * division. */
  def q92Transitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val out = Window.partitionBy("from_type")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_out",
        col("n").cast("double") / sum(col("n")).over(out).cast("double"))
  }

  /** SCD type-2 dimension build: turn the signup change log into
    * validity intervals — one row per (user, version) with
    * [eff_from, eff_to) and eff_to NULL on the current row. The
    * whole derivation is one per-user window (lead + row_number over
    * (ts, event_id)); timestamps leave as strings per the oracle-parity
    * rule. The warehouse pattern for slowly-changing dimensions,
    * entirely shuffle-once. */
  def q93Scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "signup")
      .select(col("user_id"), col("value"), col("ts"), col("event_id"))
      .select(col("user_id"), col("value"),
        row_number().over(w).cast("long").as("version"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("eff_from_s"),
        date_format(lead(col("ts"), 1).over(w), "yyyy-MM-dd HH:mm:ss").as("eff_to_s"))
  }

  /** Point-in-time snapshot (time-travel read): each user's signup
    * `value` in effect AS OF 2024-01-15 00:00:00 — the "what did the
    * dimension look like on date X" query every SCD2 table exists to
    * answer. The efficient plan is NOT interval containment over the
    * q93 table: filter events to `ts <= T` (the predicate reaches the
    * scan; on a date-partitioned production table this is partition
    * pruning, reading only the pre-T history) and take the latest
    * per user by the unique (ts, event_id) order — one key-partitioned
    * window over the pre-T slice. Equivalence with q93's interval
    * form (`eff_from ≤ T < eff_to`) is spec-pinned, so the fast read
    * provably answers the SCD2 question. */
  def q159AsOfSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .filter(col("event_type") === "signup" &&
        col("ts") <= lit("2024-01-15 00:00:00").cast("timestamp"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("eff_from_s"))
  }

  /** Rolling 7-day active users (DAU/WAU per day) — the sliding
    * DISTINCT shape. Unlike q86's trailing sums, distinct does NOT
    * decompose over window frames (a RANGE frame can't merge distinct
    * sets), so the exact path is a range join: the bounded calendar
    * (distinct days) joins the de-duplicated (user, day) grid on
    * day ∈ [d−6, d], then counts distinct per day. Join volume is
    * days × 7-day user-days — bounded by users × days, never raw event
    * volume. At extreme scale the approximate alternative is mergeable
    * HLL sketches per day (the q73 family); this is the exact form. */
  def q94RollingActive(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .distinct()
    val days = ud.select(col("day").as("d")).distinct()
    val dau = ud.groupBy(col("day").as("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = broadcast(days).join(ud,
        col("day").between(col("d") - 6, col("d")))
      .groupBy("d").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "d").select(col("d").as("day_int"), col("dau"), col("wau"))
  }

  /** [[q94RollingActive]]'s MERGEABLE-SKETCH form (r19 VERDICT item
    * 7) — the documented extreme-scale swap made a registered, gated
    * query, in the regime-ROUTED shape because a real DAU series
    * lives on both sides of HLL's raw floor: per day, BOTH bounded
    * sketches build once — the k=64 KMV head set and the 256-register
    * HLL table — and each day's WAU state is the trailing window's
    * MERGE under each sketch's own law (KMV: min-k of the unioned
    * heads, exact by Beyer §4 because every union head is a head of
    * its own day; HLL: elementwise register max). The range join
    * moves days × 7 × (64 + ≤256) sketch rows where q94's exact form
    * moves days × 7 × |active users/day| user-day rows — that volume
    * swap is the operator: at 100 TB the exact path's user-day grid
    * is the shuffle that stops fitting, the sketch path's is constant
    * per day. Each (day, window) estimate routes by the q195 rule
    * (HLL raw ≤ 5m/2 with empty registers → KMV, the small-range
    * hole where this fixture's ~150-active days actually sit — raw
    * HLL reads ~10× low there, measured r20), and every estimate,
    * route decision, and merge replays in DuckDB under the full hash
    * gate. Agreement with exact q94 is spec-pinned (Round20Spec). */
  def q209RollingActiveSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    graft.functions.BoundedMinKDistinct.register(spark)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
    val heads = Sketches.kmvHeads(ev, "day", "user_id", k = 64)
    val regs = Sketches.hllRegisters(ev, "day", "user_id", b = 8)
    val days = regs.select(col("day").as("d")).distinct()
    val wheads = broadcast(days)
      .join(heads, col("day").between(col("d") - 6, col("d")))
      .select(col("d"), explode(col("hs")).as("hv"))
      .groupBy(col("d").as("day"))
      .agg(expr("bounded_min_k_distinct(hv, 64)").as("hs"))
    val wregs = broadcast(days)
      .join(regs, col("day").between(col("d") - 6, col("d")))
      .groupBy(col("d").as("day"), col("j"))
      .agg(max(col("mr")).as("mr"))
    def routed(hf: DataFrame, rf: DataFrame): DataFrame =
      Sketches.kmvEstimateFromHeads(hf, "day", 64)
        .select(col("day"), col("est_distinct").as("est_kmv"))
        .join(Sketches.hllEstimateFromRegisters(rf, "day", b = 8)
          .select(col("day"), col("v_zero"),
            col("est_distinct").as("est_hll")), "day")
        .withColumn("route",
          when(col("est_hll") <= lit(Sketches.hllRouteFloor(8)) && col("v_zero") > 0,
            lit("kmv")).otherwise(lit("hll")))
        .withColumn("est",
          when(col("route") === "kmv", col("est_kmv"))
            .otherwise(col("est_hll")))
    val dau = routed(heads, regs)
      .select(col("day"), col("est").as("dau_est"),
        col("route").as("dau_route"))
    val wau = routed(wheads, wregs)
      .select(col("day"), col("est").as("wau_est"),
        col("route").as("wau_route"))
    dau.join(wau, "day")
      .select(col("day").as("day_int"), col("dau_est"), col("dau_route"),
        col("wau_est"), col("wau_route"))
  }

  /** Latest-row-per-key compaction (the CDC/upsert-merge read shape):
    * each user's most recent event wins, ordered by the unique
    * (ts, event_id) so ties cannot flap. One window shuffle on the
    * key; at scale this is exactly the merge-on-read compaction a
    * change-capture table needs — and the same rank<=1 window
    * [[graft.operators.Maintenance.compactParquet]]'s sorted variant
    * would push into a file rewrite. */
  def q95LatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts_s"))
  }

  /** Forward-fill / LOCF (last observation carried forward): error
    * events carry no reading (their value nulls out), and each event
    * sees its user's most recent non-null reading — `last(...,
    * ignoreNulls)` over the unique (ts, event_id) row frame. The
    * gap-repair primitive for sensor/metric streams; leading nulls
    * stay null (nothing to carry). Values pass through untouched (no
    * arithmetic), so raw doubles are hash-safe. */
  def q99ForwardFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("v",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      .select(col("event_id"), col("user_id"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
  }

  /** Dense-calendar gap fill: big-ticket purchase revenue per day has
    * genuine empty days (value ≥ 300 is rare) — generate the full
    * [min, max] day calendar with `sequence`, left-join the daily
    * aggregate, and carry the last known value across the gaps
    * (q99's LOCF over the calendar). `is_gap` marks synthesized days.
    * The time-series completion every reporting layer needs; the
    * calendar is bounded by days, so the unpartitioned fill window is
    * safe at any event volume. */
  def q100GapFill(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && col("value") >= 300)
      .select(
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("day").agg(sum(col("cents")).as("day_cents"))
    val cal = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day_int"))
    val w = Window.orderBy("day_int")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily.withColumnRenamed("day", "day_int"), Seq("day_int"), "left")
      .select(col("day_int"),
        last(col("day_cents"), ignoreNulls = true).over(w).as("filled_cents"),
        col("day_cents").isNull.cast("long").as("is_gap"))
  }

  /** ANSI error-handling surface: `try_cast` turns malformed input
    * into NULL instead of a job-killing exception — the posture a
    * 100 TB ingest needs (one bad row must not fail a stage; count it,
    * don't crash on it). The JSON-extracted numeric parses, the
    * event-type word doesn't, and the per-type tallies prove both
    * paths; under plain ANSI CAST the same query would throw.
    *
    * The parse is try_cast→DOUBLE, an explicit finite-range gate, then
    * floor→BIGINT — in BOTH engines — because the direct paths
    * diverge twice: a string→BIGINT try_cast truncates '1.5' in Spark
    * but ROUNDS it in DuckDB, and on '1e999'-style overflow strings
    * Spark's floor(double)→LONG SATURATES to Long.MaxValue while
    * DuckDB's floor stays a double whose try_cast nulls. The range
    * gate (|d| < 9.2e18, comfortably inside the BIGINT domain) nulls
    * ±inf and near-overflow doubles identically in both engines, and
    * NaN fails the comparison into NULL the same way. */
  private val FiniteGate =
    "case when %s > -9.2e18 and %s < 9.2e18 then %s end"
  private def floorParse(src: String): String = {
    val d = s"try_cast($src as double)"
    s"try_cast(floor(${FiniteGate.format(d, d, d)}) as bigint)"
  }
  def q103TryCast(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        expr(floorParse("get_json_object(props, '$.k')")).as("k_num"),
        expr(floorParse("event_type")).as("bad_num"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(col("k_num")).as("n_parsed"),
        sum(col("k_num")).as("k_sum"),
        count(col("bad_num")).as("n_bad_parsed"))

  /** Per-user ordered funnel stage via [[graft.streaming.EventStreams
    * .funnelStateBuffered]] in BATCH mode — the oracle leg for the
    * watermark-buffered streaming funnel: in batch there is no
    * watermark, end-of-data releases everything, and the fold over the
    * full sorted history equals the greedy earliest-chain the SQL
    * replays (each stage takes the MINIMUM eligible timestamp — the
    * fold's first-eligible-in-sorted-order IS that minimum). q89
    * aggregates the same chaining into stage counts; this exposes the
    * per-user assignment, so the stateful operator itself sits under
    * the cross-engine hash gate. */
  def q104FunnelStages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[graft.streaming.EventStreams.Event]
    graft.streaming.EventStreams
      .funnelStateBuffered(evs, Seq("view", "signup", "purchase"))
      .toDF()
      .select(col("user_id"), col("stage"))
  }

  /** Last-touch attribution: each purchase is credited to the user's
    * most recent PRECEDING non-purchase event (the "channel"), then
    * channels roll up to attributed-purchase counts and revenue — the
    * marketing-analytics sibling of the as-of join (q54 matches on a
    * dimension table; this matches within one ordered stream).
    *
    * One window, no join: last(channel, ignoreNulls) over
    * (user, time) rows-preceding frames carries the latest
    * non-purchase type forward to each purchase row. Partitioned by
    * user — parallel at any scale, the q99 LOCF shape. First-touch
    * would be the same window with first(); multi-touch would explode
    * a preceding-rows frame. Order ties break on event_id (the q92
    * determinism stance); revenue sums in exact DECIMAL. Purchases
    * with no preceding touch report as the 'direct' channel — kept,
    * not dropped, so the counts reconcile to total purchases. */
  def q113Attribution(spark: SparkSession, dir: String): DataFrame =
    attribution(Tables.events(spark, dir))

  /** The operator core over any (event_id, ts, user_id, event_type,
    * value) frame — q113 binds it to the fixture. */
  def attribution(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("revenue"))
  }

  /** Rolling z-score anomaly flags per user — "is this event's value
    * an outlier against the user's own recent baseline?", the
    * per-entity drift tripwire a metrics pipeline runs continuously.
    *
    * The baseline is the 5 PRECEDING events (current row excluded —
    * an outlier must not dilute its own baseline); rows without a
    * full 5-event history are OMITTED from the output (not emitted
    * unflagged) — consumers joining flags back to the stream read
    * absent as not-assessed via a left join, and the spec pins the
    * absence. The z-test runs entirely in
    * INTEGER arithmetic: values become cents via floor(value·100)
    * (floor, not cast — Spark's double→bigint cast truncates toward
    * zero where DuckDB rounds, the q103 divergence), the frame sums
    * S = Σc and Q = Σc² are exact BIGINTs, and |x − μ| > k·σ is
    * compared SQUARED with both sides pre-multiplied by n²:
    * (n·c − S)² > k²·(n·Q − S²) — no division, no sqrt, no float
    * anywhere, so the flag is bit-stable cross-engine (a float
    * stddev_samp would differ in last ulps and flip boundary flags).
    * k = 3. Scale: one partitioned window, frame size constant —
    * the q99 LOCF shape; nothing global. */
  def q116RollingAnomaly(spark: SparkSession, dir: String): DataFrame =
    rollingAnomaly(Tables.events(spark, dir))

  /** The operator core over any (event_id, ts, user_id, value)
    * frame. */
  def rollingAnomaly(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-5, -1)
    events
      .withColumn("c", floor(col("value") * lit(100.0)).cast("long"))
      .withColumn("bn", count(lit(1)).over(w))
      .withColumn("s", sum(col("c")).over(w))
      .withColumn("q", sum(col("c") * col("c")).over(w))
      .filter(col("bn") === 5)
      .withColumn("dev", col("bn") * col("c") - col("s"))
      .withColumn("var_n2", col("bn") * col("q") - col("s") * col("s"))
      .withColumn("is_anomaly",
        (col("dev") * col("dev") > lit(9L) * col("var_n2")).cast("int"))
      .select(col("event_id"), col("user_id"), col("c").as("cents"),
        col("dev"), col("var_n2"), col("is_anomaly"))
  }

  /** Dyadic-weight EWMA smoothing per user — the "recent-history
    * smoothed value" a metrics pipeline attaches to every live event
    * (alerting thresholds, display smoothing, drift baselines).
    *
    * A true EWMA is an infinite recurrence (y += α·(x − y)) — float
    * state folded in arrival order, doubly hash-gate-fatal (ulp drift
    * AND order sensitivity). This is the FINITE dyadic form: an
    * 8-event window with weights 128,64,…,1 (newest first), i.e.
    * α = 1/2 truncated after 8 taps, all in exact BIGINT cents
    * arithmetic. num = Σ cᵢ·2^(7−i) over lag i = 0..7, den = 255
    * constant; rows without 8 full events are OMITTED (the q116
    * stance — absent means not-assessed). Emitting num plus the
    * floored quotient keeps everything the hash sees integral.
    *
    * Scale: one partitioned window with a constant 8-tap frame of
    * lag()s — the q99/q116 shape, co-partitioned with every other
    * per-user window in the suite, nothing global, no join. */
  def q120Ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaSmoothed(Tables.events(spark, dir))

  /** The operator core over any (event_id, ts, user_id, value) frame. */
  def ewmaSmoothed(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val taps = 8
    val withCents =
      events.withColumn("c", floor(col("value") * lit(100.0)).cast("long"))
    val lagged = (0 until taps).foldLeft(withCents) { (df, i) =>
      df.withColumn(s"_l$i", lag(col("c"), i).over(w))
    }
    val num = (0 until taps)
      .map(i => col(s"_l$i") * lit(1L << (taps - 1 - i)))
      .reduceLeft(_ + _)
    lagged
      .filter(col(s"_l${taps - 1}").isNotNull)
      .withColumn("ewma_num", num)
      .select(col("event_id"), col("user_id"), col("c").as("cents"),
        col("ewma_num"),
        // FLOOR quotient, not truncation: Spark's `div` truncates
        // toward zero where DuckDB's `//` floors — they differ on
        // negative cents. Subtracting the (always non-negative) pmod
        // first makes the division exact, so both semantics agree.
        expr("(ewma_num - pmod(ewma_num, 255)) div 255").as("ewma_cents"))
  }

  /** Gap-based sessionization with STABLE session ids: per user,
    * a new session starts when the gap to the previous event exceeds
    * 30 min; sessions are numbered 1..k in time order and reported
    * with start/end/duration/size. Complements q52's
    * `session_window` aggregation: that one merges windows inside a
    * black-box operator (streaming-capable, ids implicit); this one
    * derives an EXPLICIT session_id any engine can replay — the id
    * events get tagged with for downstream joins (funnels, attribution,
    * per-session features).
    *
    * Plan: everything is one shuffle on user_id — the lag, the
    * running sum, and the final group-by all share the same
    * partitioning, so Catalyst plans a single exchange. Timestamps
    * ride as epoch-micros BIGINTs (integer min/max/diff; no
    * timestamp-annotation drift in the hash). */
  def q125Sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionTaggedEvents(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_us", col("end_us") - col("start_us"))

  /** q125's derivation up to (but not including) the per-session
    * roll-up: every event tagged with its user's stable session_id.
    * Shared by q125 and q131 — both windows and the downstream
    * group-bys key on user_id, so the whole chain is one exchange. */
  private def sessionTaggedEvents(spark: SparkSession, dir: String): DataFrame =
    sessionTag(Tables.events(spark, dir))

  /** The tagging core over any (event_id, ts, user_id, event_type)
    * frame — public so the operator composes over crafted frames and
    * streams' batch legs, not just the fixture read. */
  def sessionTag(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(w).isNull ||
          col("us") - lag(col("us"), 1).over(w) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(cum))
  }

  /** Path analysis: the corpus's top-20 within-session event-type
    * TRIGRAMS — the "common user journeys" statistic product analytics
    * runs on every funnel's raw material. Sequences are per
    * [[sessionTag]] session (the q125 ids), ordered by the total
    * (us, event_id) order, so every engine folds the same journey
    * strings; trigram extraction is the q128/q145 one-in-row-transform
    * stance — no positional self-join of the event stream.
    *
    * Scale: the collect_list per session is bounded by session length
    * (the 30-minute gap bounds how much one key can accumulate — the
    * same bound the streaming session state relies on), rides the ONE
    * user_id exchange the tagging windows already made, and
    * `array_sort` on a session-sized struct array is in-row work. The
    * trigram roll-up keys on ≤ |event types|³ strings — bounded,
    * map-side-combinable — and the final top-20 under a total order is
    * TakeOrderedAndProject, never a global sort of the path space. */
  def pathTrigrams(events: DataFrame, k: Int = 20): DataFrame =
    sessionTag(events)
      .groupBy("user_id", "session_id")
      .agg(array_sort(collect_list(
        struct(col("us"), col("event_id"), col("event_type")))).as("evs"))
      .select(expr("transform(evs, e -> e.event_type)").as("t"))
      .filter(size(col("t")) >= 3)
      .select(explode(expr(
        "transform(sequence(0, size(t) - 3), i -> concat_ws('>', " +
          "element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3)))"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("path")).limit(k)

  def q152PathTrigrams(spark: SparkSession, dir: String): DataFrame =
    pathTrigrams(Tables.events(spark, dir))

  /** Median-of-means robust mean: per event type, hash `value`'s rows
    * into 16 fixed buckets (seed-keyed md5 of event_id — a pure
    * function of the row, so the estimate survives repartition and
    * engine swap where a partition-index bucketing would not), take
    * each bucket's floor-mean in integer cents, and report the exact
    * discrete median of the bucket means beside the plain mean. One
    * adversarial heavy row corrupts ONE bucket; the median of 16
    * bucket means ignores it — the estimator's whole point, and the
    * robust-statistics primitive (sub-Gaussian mean estimation)
    * behind outlier-proof metric pipelines.
    *
    * All arithmetic is the q120 floor-division idiom (pmod-subtract ≡
    * DuckDB `//` on any sign), so the hash gate certifies the
    * estimator, not an engine's rounding. Scale: the bucket fold is a
    * combinable (type, bucket) count/sum — every partition reduces to
    * ≤ 16 rows per type before the shuffle, the same bounded-counter
    * stance as q129's histogram sketch — and the median window orders
    * a ≤ 16-row aggregate per type, never raw volume. */
  def medianOfMeans(events: DataFrame, buckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bm = events
      .withColumn("hx",
        expr("substr(md5(cast(event_id as string) || ':mom'), 1, 2)"))
      .select(col("event_type"),
        expr("cast(floor(value * 100) as bigint)").as("c"),
        expr(s"(${Md5Key.hexToLongSpark("hx", 2)}) % $buckets").as("bkt"))
      .groupBy("event_type", "bkt")
      .agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
      .withColumn("bmean", expr("(s - pmod(s, n)) div n"))
    val w = Window.partitionBy("event_type")
    bm
      .withColumn("rk", row_number().over(w.orderBy(col("bmean"), col("bkt"))))
      .withColumn("nb", count(lit(1)).over(w))
      .withColumn("ts", sum(col("s")).over(w))
      .withColumn("tn", sum(col("n")).over(w))
      .filter(col("rk") === expr("(nb + 1) div 2"))
      .select(col("event_type"), col("tn").as("n_events"),
        expr("(ts - pmod(ts, tn)) div tn").as("mean_cents"),
        col("bmean").as("mom_cents"))
  }

  def q153MedianOfMeans(spark: SparkSession, dir: String): DataFrame =
    medianOfMeans(Tables.events(spark, dir))

  /** Audience overlap matrix: for every unordered event-type pair, the
    * distinct-user intersection and exact integer Jaccard permille —
    * "how much do viewers and purchasers overlap", the cohort-overlap
    * statistic behind funnel design and campaign targeting.
    *
    * Scale: the frame that self-joins is the DISTINCT (type, user)
    * projection — ≤ |event types| rows per user, so a user contributes
    * at most C(T, 2) pair rows where T is the (bounded, enum-like)
    * event-type domain: the fan-out is capped BY THE SCHEMA, the safe
    * variant of the shingle self-joins that need an explicit df cap.
    * The distinct, the self-join, and the pair count all key on
    * user_id — one exchange; the type-size lookups broadcast (T rows). */
  def q155AudienceOverlap(spark: SparkSession, dir: String): DataFrame =
    audienceOverlap(Tables.events(spark, dir))

  def audienceOverlap(events: DataFrame): DataFrame = {
    val tu = events
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
    PairPack.pairsFromPostings(tu, Seq("user_id"), "event_type")
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("event_type").as("t1"),
        col("n").as("n1"))), Seq("t1"))
      .join(broadcast(sizes.select(col("event_type").as("t2"),
        col("n").as("n2"))), Seq("t2"))
      .withColumn("jaccard_permille",
        expr("n_common * 1000 div (n1 + n2 - n_common)"))
      .select("t1", "t2", "n_common", "n1", "n2", "jaccard_permille")
  }

  /** Lag-1 autocorrelation of daily event volume per type — "does
    * today's volume predict tomorrow's", the seasonality/momentum
    * screen run before fitting any forecast. Pairs are strictly
    * consecutive calendar days (a gap day breaks the pair — lag over
    * observed days would silently correlate across holes); Pearson r
    * from DECIMAL-exact sufficient statistics with double only in the
    * final formula — q88's stance, which the hash gate already
    * certified cross-engine.
    *
    * Scale: raw events fold to the (type, day) count aggregate first
    * — the lag window and everything after it order a calendar-sized
    * frame, never event volume (the windows-over-aggregates rule);
    * counts are staged DECIMAL(19,0) before multiplication so a
    * 10¹⁰-event day cannot wrap the Σxy accumulator. */
  def q156VolumeAutocorr(spark: SparkSession, dir: String): DataFrame =
    volumeAutocorr(Tables.events(spark, dir))

  def volumeAutocorr(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val pairs = daily
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .withColumn("px", lag(col("cnt"), 1).over(w))
      .filter(col("prev_day") === col("day") - 1)
      .select(col("event_type"),
        col("px").cast("decimal(19,0)").as("x"),
        col("cnt").cast("decimal(19,0)").as("y"))
    pairs
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("dsx"), sum(col("y")).as("dsy"),
        sum(col("x") * col("y")).as("dsxy"),
        sum(col("x") * col("x")).as("dsxx"),
        sum(col("y") * col("y")).as("dsyy"))
      .select(col("event_type"), col("n_pairs"),
        col("dsx").cast("double").as("sx"), col("dsy").cast("double").as("sy"),
        col("dsxy").cast("double").as("sxy"),
        col("dsxx").cast("double").as("sxx"),
        col("dsyy").cast("double").as("syy"))
      .withColumn("r",
        (col("n_pairs") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n_pairs") * col("sxx") - col("sx") * col("sx")) *
         sqrt(col("n_pairs") * col("syy") - col("sy") * col("sy"))))
  }

  /** Session-scoped conversion: fold each session to (length,
    * converted?) and roll up conversion volume by session-length
    * bucket (lengths ≥ 10 pool into one tail bucket — an unbounded
    * bucket key would make the output cardinality data-dependent).
    * The product question behind it: do longer sessions convert more?
    * Everything after [[sessionTaggedEvents]] is two combinable
    * aggregations co-partitioned on user_id then on a ≤ 10-row key —
    * no new exchange of raw events. */
  def q131SessionConversion(spark: SparkSession, dir: String): DataFrame =
    sessionTaggedEvents(spark, dir)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
      .groupBy(expr("least(n_events, 10)").as("len_bucket"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("converted")).as("n_converted"))

  /** Conversion latency: per user, the time from first 'view' to the
    * first 'purchase' AT OR AFTER it; one summary row with the exact
    * discrete median and ceil-rank p90 over converted users (q108's
    * rank-pick arithmetic — `(n+1) div 2` / `(9n+9) div 10` on BIGINT
    * micros, no interpolation, no float).
    *
    * Scale: the conditional mins fold raw events to ONE row per user
    * (combinable, co-partitioned); the rank windows then order only
    * the converted-users frame — a user-cardinality aggregate, never
    * raw event volume (the q86/q100 windows-over-aggregates stance).
    * The final global pick is a 2-row filter on that frame. Unlike
    * the day-bounded window cases, converted-user cardinality is
    * UNBOUNDED — at 10⁸–10⁹ users the exact rank is a single-task
    * sort, which is the price of exactness; at that scale swap in
    * [[q129HistQuantile]]'s bounded mergeable histogram sketch over
    * `latency_us` (≤ 128 counters, no global sort, quantile read off
    * the cumulative histogram) and keep this exact form for the
    * per-slice frames that fit one task. */
  def q132ConversionLatency(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstViews = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("us"))).as("first_view"))
      .filter(col("first_view").isNotNull)
    val lat = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .filter(col("event_type") === "purchase")
      .join(firstViews, "user_id")
      .filter(col("us") >= col("first_view"))
      .groupBy("user_id")
      .agg(min(col("us") - col("first_view")).as("latency_us"))
    val w = Window.orderBy(col("latency_us"), col("user_id"))
    val ranked = lat
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    ranked
      .filter(col("rk") === expr("(n + 1) div 2") ||
        col("rk") === expr("(9 * n + 9) div 10"))
      .groupBy(col("n").as("n_converted"))
      .agg(min(when(col("rk") === expr("(n + 1) div 2"), col("latency_us")))
          .as("median_latency_us"),
        min(when(col("rk") === expr("(9 * n + 9) div 10"), col("latency_us")))
          .as("p90_latency_us"))
  }

  /** Histogram-sketch median: per event type, the approximate p50
    * from a 128-bin equal-width integer histogram — the MERGEABLE,
    * bounded-state quantile estimator. Exact per-group quantiles
    * (q96/q115) need a total sort of the group; at 100 TB the sketch
    * path aggregates each partition to ≤ 128 counters, merges
    * counters associatively (map-side combine does it for free), and
    * reads the quantile off the cumulative histogram — one tiny
    * shuffle, state independent of row count, and streaming-friendly
    * (counter merge is the textbook mergeable-summary property).
    *
    * Error is bounded by construction: the true median lies in
    * `p50_bin`, so |p50_lo_cents − exact| < one bin width = range/128
    * (spec-asserted against the exact median). All arithmetic is the
    * q117 integer-binning shape — `((c − mn) · 128) div (mx − mn + 1)`
    * on floor-cents — plus an integer lower-edge reconstruction; no
    * float ever enters, so the sketch itself sits under the
    * cross-engine hash gate (approx_percentile, by contrast, is
    * engine-internal and can never face one). */
  def q129HistQuantile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("c"))
    val rng = c.groupBy("event_type").agg(
      min(col("c")).as("mn"), max(col("c")).as("mx"),
      count(lit(1)).as("n"))
    val binned = c.join(broadcast(rng), "event_type")
      .withColumn("bin", expr("((c - mn) * 128) div (mx - mn + 1)"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("bc"))
    val w = Window.partitionBy("event_type").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("cum", sum(col("bc")).over(w))
      .join(broadcast(rng), "event_type")
      .filter(col("cum") * 2 >= col("n"))
      .groupBy(col("event_type"), col("n"), col("mn"), col("mx"))
      .agg(min(col("bin")).as("p50_bin"))
      .withColumn("p50_lo_cents",
        expr("mn + (p50_bin * (mx - mn + 1)) div 128"))
      .select("event_type", "n", "mn", "mx", "p50_bin", "p50_lo_cents")
  }

  /** KMV (k-minimum-values) distinct-cardinality sketch: estimated
    * distinct users per event type from ONLY the k = 64 smallest
    * distinct md5-derived hashes — the bounded-state, mergeable swap
    * for exact `count(DISTINCT)` at extreme scale, where the exact
    * answer's per-key state is proportional to the key's cardinality
    * ([[graft.operators.Skew.saltedDistinctCount]] spreads that state;
    * this query replaces it with O(k) per group, full stop).
    *
    * The sketch state is [[graft.functions.BoundedMinKDistinct]]'s
    * buffer verbatim: ≤ k distinct hashes in every agg-buffer row at
    * every plan stage, map-side partials already capped, merge =
    * set-union-then-recap (associative, commutative — Mergeable
    * Summaries, PODS 2012). Estimator: exact count when the group's
    * cardinality is below k (the sketch then holds ALL distinct
    * hashes); else `(k−1)·M div h_k` with M = 2^60 the hash space and
    * h_k the k-th smallest distinct hash — Beyer et al., SIGMOD 2007.
    * Relative error ~1/√(k−2) ≈ 13% at k = 64; dial k for precision.
    *
    * Cross-engine determinism is the whole design: the hash is the
    * first 15 hex chars of md5 turned into a BIGINT by the SHARED
    * [[Md5Key.hex15ToLong]] polynomial (same SQL text both engines),
    * the k minima are a pure function of the value set, and the
    * estimator is one integer division — so the SKETCH ITSELF sits
    * under the DuckDB hash gate, unlike engine-internal HLL
    * (`approx_count_distinct`) which no oracle can replay. The
    * `greatest(h_k, 1)` guard keeps the division total (md5 = 0^15 has
    * probability 2^-60 per value but would divide by zero under ANSI).
    * Numerator (k−1)·2^60 ≈ 7.3e19 overflows int64, so it stages
    * through DECIMAL here / HUGEINT in DuckDB — the q124 convention.
    *
    * The arithmetic lives in
    * [[graft.operators.Sketches.kmvDistinctEstimate]]: the IDENTICAL
    * aggregate also runs as a continuously-maintained streaming view
    * (Complete mode keeps the k-capped buffer per group in the state
    * store), spec'd stream ≡ batch across micro-batches. */
  def q141KmvDistinct(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvEstimateFromHeads(
      kmvUserHeads(spark, dir), "event_type", k = 64)
      .orderBy("event_type")

  /** The per-event-type KMV sketch of user_id — 5 rows of ≤ 64 hashes,
    * the corpus-sized pass q141 (cardinality) and q160 (pair algebra)
    * both build on. Deliberately NOT memoized: Memo persists, and
    * caching this frame MEASURED SLOWER than recomputing it —
    * +0.3–0.5 s of InMemoryRelation build (array-column columnar
    * serialization + the extra stage) against a ~0.2 s aggregate,
    * paid by BOTH consumers since the bench clears the memo between
    * passes. The memo contract is for legs whose rebuild dwarfs the
    * cache write (q34's pair set, q40's top-k); a sub-second bounded
    * aggregate is the opposite case, so the two consumers share the
    * PLAN, not a cache. */
  private def kmvUserHeads(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvHeads(
      Tables.events(spark, dir), "event_type", "user_id", k = 64)

  /** Distinct ACTIVE USER-DAYS per event type, HyperLogLog-sketched —
    * the classic corpus-cardinality ask where exact counting is the
    * 100 TB trap (`count(distinct user||day)` shuffles the full
    * distinct universe; the register sketch shuffles ≤ 256 six-bit
    * rows per group however large the input). The complement of
    * q141's KMV on the state/error dial: KMV holds k=64 64-bit heads
    * (±13 %, exact below k), HLL holds 256 registers (±6.5 %, raw
    * regime only — the fixture's ~1.6k/~16k user-days per type at
    * Verify/bench SFs sit well above the 2.5·m floor, and `v_zero`
    * is emitted so the wrong regime is visible, not silent). Like
    * q141 the ESTIMATE itself sits under the DuckDB hash gate: md5
    * hashing via [[Md5Key]], ranks via integer `length(bin(w))`,
    * the harmonic mean in scaled-integer arithmetic, α as an exact
    * rational ([[graft.operators.Sketches.hllEstimateFromRegisters]]).
    * Register-table-vs-independent-reimplementation and the
    * elementwise-max merge law are pinned in Round17Spec (the q35
    * lesson: certify the engine's sampler, not a lookalike). */
  def q191HllUserDays(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllDistinctEstimate(
      Tables.events(spark, dir), "event_type",
      "concat(cast(user_id as string), ':', date_format(ts, 'yyyy-MM-dd'))",
      b = 8)
      .orderBy("event_type")

  /** HLL-side user-day overlap per event-type pair — q160's audience
    * algebra at HLL's state point: union from the elementwise-max
    * register vectors (exact sketch algebra), intersection by
    * inclusion–exclusion (clamped; noisier than KMV's ρ estimator by
    * design — the documented trade is 256 six-bit registers of state
    * against intersection precision). Shares the register-build PLAN
    * with q191 (the q141/q160 convention: a sub-second bounded
    * aggregate is cheaper to recompute than to cache); the pair side
    * is C(5,2) broadcast rows of 256-entry vectors, and every
    * estimator is the same integer rational as q191's, so the whole
    * frame hash-replays (q194). The q194-vs-q191 per-group estimator
    * consistency (est_t1/est_t2 == q191's est_distinct) is pinned in
    * Round17Spec. */
  def q194HllOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.hllPairAlgebra(
      graft.operators.Sketches.hllRegisters(
        Tables.events(spark, dir), "event_type",
        "concat(cast(user_id as string), ':', date_format(ts, 'yyyy-MM-dd'))",
        b = 8),
      "event_type", b = 8)
      .orderBy("t1", "t2")

  /** Regime-ROUTED distinct estimation over a fixture that straddles
    * both regimes at every SF (r18): "big:" groups count user-DAYS
    * per event type (the q191 key — ~1.6k/~16k distinct at
    * Verify/bench SFs, well above HLL's 5m/2 = 640 raw floor) and
    * "small:" groups count `user_id mod 40` (≤ 40 distinct — inside
    * KMV's k=64 EXACT band and inside the HLL small-range hole), so
    * [[graft.operators.Sketches.adaptiveDistinct]] must route the two
    * families differently and the ROUTE DECISION itself is a gated
    * column: the oracle recomputes both estimators and the boundary
    * rule, and a route flip on any group is a hash mismatch. This
    * turns the v_zero/n_heads telemetry q191/q141 emit into behavior —
    * the VERDICT r17 "documentation → behavior" item. */
  def q195AdaptiveDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val big = ev.select(
      concat(lit("big:"), col("event_type")).as("grp"),
      expr("concat(cast(user_id as string), ':', date_format(ts, 'yyyy-MM-dd'))")
        .as("key"))
    val small = ev.select(
      concat(lit("small:"), col("event_type")).as("grp"),
      pmod(col("user_id"), lit(40)).cast("string").as("key"))
    graft.operators.Sketches.adaptiveDistinct(
        big.unionByName(small), "grp", "key", k = 64, b = 8)
      .orderBy("grp")
  }

  /** [[q195AdaptiveDistinct]]'s PAIR analog (r18): routed set-algebra
    * over the same two-regime fixture — small×small pairs sit in the
    * HLL small-range hole (their union is ≤ 80 keys, v_zero_union
    * high) and route to KMV's exact/ρ algebra, while any pair
    * touching a "big:" group unions past the 5m/2 floor and routes to
    * the HLL register algebra. The oracle recomputes BOTH pair
    * algebras (the q160 and q194 replay patterns over one shared hash
    * CTE) and the boundary rule, so all four estimates, the union
    * regime telemetry, and the per-pair route decision sit under one
    * hash gate — a route flip on any of the 45 pairs is a mismatch. */
  def q196AdaptiveOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val big = ev.select(
      concat(lit("big:"), col("event_type")).as("grp"),
      expr("concat(cast(user_id as string), ':', date_format(ts, 'yyyy-MM-dd'))")
        .as("key"))
    val small = ev.select(
      concat(lit("small:"), col("event_type")).as("grp"),
      pmod(col("user_id"), lit(40)).cast("string").as("key"))
    graft.operators.Sketches.adaptivePairAlgebra(
        big.unionByName(small), "grp", "key", k = 64, b = 8)
      .orderBy("t1", "t2")
  }

  /** The ONE co-engagement projection the whole graph family reads
    * (r19): the floor-22 frame WITH its exact n_shared column,
    * memoized — q198/q201 project it to (src, dst), q202 derives its
    * floor-32 graph as `n_shared >= 32` (exact, see
    * [[Graph.coEngagementEdgesShared]]) instead of paying a second
    * projection join. The projection join is the expensive leg and
    * every peel round's lineage references it — memoized so the peel
    * rounds (and a Bench pass's repeats) pay it once, the q181
    * pr_edges pattern.
    *
    * r21: materialized HASH-PARTITIONED BY src AND SORTED (src, dst)
    * — the cached frame's output partitioning/ordering then satisfies
    * every peel round's requirement on the edge side (kCore's
    * groupBy(src) and coreness's Window partitionBy src run exchange-
    * free over the cache; the per-round dst join's other side is the
    * tiny survivor/value frame AQE broadcasts at runtime), so the
    * 1.5M-row frame is shuffled ONCE at materialization instead of
    * once or twice per round (guide §2.4: two operations keyed the
    * same way share one exchange — here 18 rounds share it). Measured
    * at sf0.1/local[32]: kCore 8.0→6.3 s, coreness 16.1→12.6 s,
    * kTruss 9.25 vs 11.4 s, repartition+sort adds ~0.5 s once.
    * Partition count = the session's shuffle partitions (scale-
    * adaptive: the bench dials it to the core count, a cluster sets
    * its own), explicit so AQE does not re-coalesce the cached
    * layout out from under the rounds' distribution requirement.
    *
    * The projection is cut from the cached plan by an EAGER
    * localCheckpoint before the repartition: caching `repartition(
    * projection)` directly pinned the cached plan's output
    * partitioning, which suppressed AQE inside the projection
    * (runtime broadcasts, coalescing) and DOUBLED the cold build —
    * measured 18–22 s vs 10–12 s as-is at sf0.1; with the checkpoint
    * the projection runs as its own fully-adaptive query and the
    * cached plan is a trivial Exchange+Sort over a leaf (~2 s). The
    * checkpoint blocks are not recomputable on executor loss — the
    * kTruss per-round discipline; production swaps in reliable
    * checkpointing where that matters. */
  private def coengShared22(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"coeng_edges_shared:$dir:minShared=22") {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      Graph.coEngagementEdgesShared(Tables.events(spark, dir), minShared = 22L)
        .localCheckpoint(true)
        .repartition(p, col("src"))
        .sortWithinPartitions("src", "dst")
    }

  /** k-core of the user co-engagement graph
    * ([[Graph.coEngagementEdgesShared]] at the shared≥22 floor,
    * [[Graph.kCore]] at k=70 for 6 synchronous rounds): the dense engagement nucleus — the cohort
    * whose members each share deep engagement with ≥ 70 OTHER
    * nucleus members, the standard community-backbone signal (and
    * the graph family's density axis, next to q101/q118/q181). On
    * the sf0.01 fixture the peel genuinely cascades: 150 users →
    * 121 survivors over 4 rounds (rounds 5–6 are fixpoint no-ops,
    * measured while dialing), so the oracle's 6 unrolled rounds
    * certify the synchronous-update algebra, not just a degree
    * filter. Output deg_in_core is each survivor's degree within the
    * core-inducing round — integer-exact on both engines. */
  def q198KCore(spark: SparkSession, dir: String): DataFrame = {
    val e = coengShared22(spark, dir).select("src", "dst")
    Graph.kCore(e, k = 70, iters = 6)
      .select(col("v").as("user_id"), col("deg").as("deg_in_core"))
  }

  /** Full coreness decomposition over the same co-engagement graph
    * ([[Graph.coreness]], 12 h-index rounds — the sf0.01
    * fixture converges in 11, measured while dialing, so round 12 is
    * the fixpoint margin): every user's core NUMBER in one pass,
    * where q198 answers one fixed k. The two queries share the
    * memoized edge frame, and their consistency is a law:
    * `{v : coreness ≥ 70}` must equal q198's 70-core — on this
    * fixture both are the same 121 users (the spec pins the law on a
    * crafted graph; the oracle pins both sides' arithmetic
    * independently). All integer: degrees, ranks, h-indexes. */
  def q201Coreness(spark: SparkSession, dir: String): DataFrame = {
    val e = coengShared22(spark, dir).select("src", "dst")
    Graph.coreness(e, iters = 12)
      .select(col("v").as("user_id"), col("c").as("coreness"))
  }

  /** k-truss backbone of the co-engagement graph
    * ([[Graph.kTruss]] at k=6, 7 rounds, over the shared≥32
    * floor — much thinner than q198/q201's floor-22 graph on purpose:
    * the truss certifies triangle embedding, the deliberately-dense
    * floor-22 fixture leaves nothing to peel, and the floor-32 graph
    * cascades 443 → 184 edges over 6 productive rounds at sf0.01
    * (measured while dialing) while keeping the sf0.1 bench leg at
    * 42k edges. Completes the graph family's axes:
    * degree (k-core/coreness) certifies how MANY ties a member has,
    * the truss certifies the ties are mutually REINFORCED — a user
    * wired to 10 strangers survives the 10-core and dies here. All
    * integer: adjacency intersections and the k−2 gate. */
  def q202KTruss(spark: SparkSession, dir: String): DataFrame = {
    // the floor-32 graph IS the floor-22 memo at n_shared >= 32 (r19)
    // — monotone and exact, one projection for the whole family
    val e = coengShared22(spark, dir)
      .filter(col("n_shared") >= 32L).select("src", "dst")
    Graph.kTruss(e, k = 6, iters = 7)
      .select(col("a").as("u1"), col("b").as("u2"), col("support"))
  }

  /** Sketch-side audience overlap: distinct-user union, intersection,
    * and Jaccard per event-type pair estimated from the q141 KMV
    * sketches alone — the 100 TB swap for q155's EXACT overlap, which
    * self-joins the full distinct (type, user) frame on user_id. Here
    * the corpus is reduced ONCE to 5 rows × ≤ 64 hashes (a bounded
    * native aggregate with map-side-capped state), and every pair
    * estimate is O(k log k) in-row array algebra on a broadcast frame:
    * at 10⁹ users the exact self-join shuffles the full user universe,
    * the sketch path still moves 5 × 64 BIGINTs.
    *
    * Error: ±1/√(k−2) ≈ 13 % relative at k = 64 on union cardinality,
    * the q141 dial; the intersection inherits union error × ρ's
    * binomial noise (Beyer et al., SIGMOD 2007 §4). The fixture
    * estimate-vs-exact gap is pinned in SketchAlgebraSpec against
    * q155's exact Jaccard. Every estimator column is integer
    * arithmetic over [[Md5Key]] hashes — a pure function of the user
    * id SETS — so unlike engine-internal sketch ops the ESTIMATES
    * themselves sit under the DuckDB hash gate. */
  def q160KmvOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sketches.kmvPairAlgebra(
      kmvUserHeads(spark, dir), "event_type", k = 64)
      .orderBy("t1", "t2")

  /** Misra–Gries heavy hitters with the THEOREM as data, in the
    * biting regime: per event type, an 8-counter MG summary over the
    * ~34-value value-decile key (`floor(value/10)` — the fixture's
    * exponential-ish value column makes the low deciles true heavy
    * hitters), certified against exact per-key counts re-derived
    * next to it. MG counter VALUES are partition-order-dependent
    * once decrements fire (inherent to the algorithm), so the
    * hash-gateable columns are the ones its worst-case guarantees
    * fix on EVERY path (Misra & Gries 1982; Agarwal et al., PODS
    * 2012 for the merge):
    *
    *   `n_total`       — exact group count (plain aggregate);
    *   `n_heavy_true`  — exact |{keys: f·(k+1) > n}| (the support
    *                     threshold, integer-exact as f·9 > n);
    *   `n_heavy_found` — of those, how many the summary kept:
    *                     theorem ⇒ ALL of them ⇒ = n_heavy_true;
    *   `n_over_est`    — kept counters exceeding their true count:
    *                     theorem ⇒ 0 (MG never overestimates);
    *   `n_bound_viol`  — kept counters under-estimating by more than
    *                     `(n − Σc) div (k+1)` (the residual bound,
    *                     computed FROM the summary): theorem ⇒ 0.
    *
    * The DuckDB oracle computes n_total/n_heavy_true exactly and pins
    * the theorem columns — so a broken update, merge, or serialization
    * path that voids any guarantee flips a 0 and fails the hash gate.
    * Scale: MG state is ≤ k counters per group at every plan stage
    * (map-side partials included); the exact side here is the
    * CERTIFICATE harness, fixture-affordable like q143's — production
    * runs the summary alone. q75 covers the engine-internal
    * `freqItems` variant; this puts the summary itself under the
    * oracle gate. */
  def q162MgCertificate(spark: SparkSession, dir: String): DataFrame =
    mgCertificate(
      Tables.events(spark, dir)
        .select(col("event_type"),
          expr("cast(floor(value / 10) as bigint)").as("key")),
      k = 8)

  /** [[q162MgCertificate]]'s certificate over any (event_type, key)
    * frame — separated so a spec can feed a decrement-cancelling
    * group (k+1 distinct singletons empties the summary entirely) and
    * assert the zeros row survives. */
  def mgCertificate(keyed: DataFrame, k: Int): DataFrame = {
    graft.functions.MisraGries.register(keyed.sparkSession)
    val mg = keyed
      .groupBy("event_type")
      .agg(expr(s"misra_gries(key, $k)").as("mg"),
        count(lit(1)).as("n_total"))
      // the residual underestimate bound, computed from the summary
      .withColumn("d_bound",
        expr(s"(n_total - aggregate(mg, 0L, (acc, e) -> acc + e.c)) " +
          s"div ${k + 1}"))
      // explode_OUTER: a group whose summary came back EMPTY (every
      // counter decrement-cancelled — possible whenever no key is
      // heavy) must still emit its row; the theorem columns below all
      // pass through null c_est/key as 0 via their when().otherwise(0)
      // arms, matching the oracle's zeros row. Plain explode dropped
      // the group and would fail the gate on such a fixture.
      .select(col("event_type"), col("n_total"), col("d_bound"),
        explode_outer(col("mg")).as("e"))
      .select(col("event_type"), col("n_total"), col("d_bound"),
        col("e.v").as("key"), col("e.c").as("c_est"))
    val exact = keyed.groupBy("event_type", "key")
      .agg(count(lit(1)).as("f"))
    mg.join(exact, Seq("event_type", "key"), "left")
      .groupBy("event_type", "n_total")
      .agg(
        sum(when(col("c_est") > coalesce(col("f"), lit(0L)), 1L)
          .otherwise(0L)).as("n_over_est"),
        sum(when(coalesce(col("f"), lit(0L)) - col("c_est") > col("d_bound"),
          1L).otherwise(0L)).as("n_bound_viol"),
        sum(when(col("f") * (k + 1) > col("n_total"), 1L).otherwise(0L))
          .as("n_heavy_found"))
      .join(
        exact
          .join(broadcast(exact.groupBy("event_type")
            .agg(sum(col("f")).as("nt"))), Seq("event_type"))
          .groupBy("event_type")
          .agg(sum(when(col("f") * (k + 1) > col("nt"), 1L).otherwise(0L))
            .as("n_heavy_true")),
        Seq("event_type"))
      .select(col("event_type"), col("n_total"), col("n_heavy_true"),
        col("n_heavy_found"), col("n_over_est"), col("n_bound_viol"))
      .orderBy("event_type")
  }

  /** Count-min sketch with the overestimate guarantee ITSELF under
    * the oracle gate. d = 3 hash rows × w = 64 buckets of exact
    * BIGINT counters estimate any user's event count as
    * `min_r counter(r, h_r(user))` — never below the true count
    * (every occurrence increments all 3 of its buckets; collisions
    * only add). The sketch is 192 counters per... everything: counter
    * rows are a map-side-combinable `groupBy(r, bucket)` count, so at
    * 100 TB the full corpus reduces to 192 BIGINTs per partition
    * before any shuffle, and sketches of two corpora merge by adding
    * counters — the frequency-estimation complement of q141's KMV
    * (distinct counts) and q129's histogram (quantiles), and the
    * deterministic, ORACLE-REPLAYABLE alternative to q75's
    * engine-internal `stat.freqItems`.
    *
    * Hashes are disjoint 4-hex slices of one md5 digest per row
    * (the r18 single-digest convention) through the shared
    * [[Md5Key.hexToLongAt]] polynomial mod w, so DuckDB rebuilds the
    * identical 192 counters. The query emits, per user: exact count
    * (fixture-affordable — the oracle needs it to certify the bound),
    * the sketch estimate via a BROADCAST join of the 192-row sketch,
    * and `over_by = est − exact ≥ 0` — the guarantee as data. The
    * d=3 row expansion is an in-row `posexplode` of a 3-element
    * array: 3× row volume into a 192-group aggregate, no per-row
    * state anywhere. */
  def q143CountMin(spark: SparkSession, dir: String): DataFrame = {
    // sketch build extracted to [[graft.operators.Sketches]] (r9) so
    // the streaming view shares the exact counter construction; this
    // query wires the probe side and the over_by >= 0 certificate
    import graft.operators.Sketches
    val ev = Tables.events(spark, dir).select(col("user_id"))
    val sketch = Sketches.countMinCounters(ev, "user_id", tag = "cm",
      d = 3, w = 64)
    val exact = ev.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
    val probes = Sketches.withCmBuckets(exact, "user_id", tag = "cm",
      d = 3, w = 64, carry = Seq("user_id", "n_exact"))
    probes.join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("user_id"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .withColumn("over_by", col("n_est") - col("n_exact"))
  }

  /** Seasonal-naive forecast backtest: score the two standard no-model
    * baselines — "tomorrow = today" (lag-1) and "tomorrow = same day
    * last week" (lag-7, the seasonal naive of the M-competitions) —
    * against realized daily volume per event type, and report which
    * baseline a real forecaster would have to beat. This is the
    * capacity-planning sanity check run BEFORE fitting any model:
    * if lag-7 wins, the series is weekly-seasonal; if lag-1 wins,
    * it's momentum-driven (q156 measures the same structure as
    * autocorrelation; this prices it in forecast-error units).
    *
    * Both baselines are CALENDAR arithmetic (day − 1 / day − 7 as
    * epoch-day integers, the q156 convention), never row offsets —
    * a gap day scores no forecast rather than silently borrowing the
    * wrong origin; inner joins keep exactly the days where both
    * baselines exist, so the comparison is apples-to-apples on one
    * shared support. Errors are integer sums of absolute deviations
    * (no float in the hash gate); `winner` is the three-way verdict.
    *
    * Scale: the corpus reduces ONCE to the (type, day) daily frame —
    * map-side-combinable, calendar-sized output — and everything
    * after (two self-joins, final agg) runs on |types|·|days| rows.
    * No windows at all: the baselines are equi-joins on shifted keys,
    * which co-partition on (event_type, day) in one exchange. */
  def q164ForecastBacktest(spark: SparkSession, dir: String): DataFrame =
    seasonalBacktest(Tables.events(spark, dir))

  def seasonalBacktest(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .agg(count(lit(1)).as("cnt"))
    val l1 = daily.select(col("event_type"), (col("day") + 1).as("day"),
      col("cnt").as("fc1"))
    val l7 = daily.select(col("event_type"), (col("day") + 7).as("day"),
      col("cnt").as("fc7"))
    daily.join(l1, Seq("event_type", "day"))
      .join(l7, Seq("event_type", "day"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("cnt") - col("fc1"))).as("sae_lag1"),
        sum(abs(col("cnt") - col("fc7"))).as("sae_lag7"))
      .withColumn("winner",
        when(col("sae_lag7") < col("sae_lag1"), "lag7")
          .when(col("sae_lag1") < col("sae_lag7"), "lag1")
          .otherwise("tie"))
      .orderBy("event_type")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q164_forecast_backtest" -> (q164ForecastBacktest _),
    "q152_path_trigrams"  -> (q152PathTrigrams _),
    "q153_median_of_means" -> (q153MedianOfMeans _),
    "q155_audience_overlap" -> (q155AudienceOverlap _),
    "q156_volume_autocorr" -> (q156VolumeAutocorr _),
    "q159_asof_snapshot"  -> (q159AsOfSnapshot _),
    "q143_count_min"      -> (q143CountMin _),
    "q141_kmv_distinct"   -> (q141KmvDistinct _),
    "q191_hll_user_days"  -> (q191HllUserDays _),
    "q194_hll_overlap"    -> (q194HllOverlap _),
    "q195_adaptive_distinct" -> (q195AdaptiveDistinct _),
    "q196_adaptive_overlap" -> (q196AdaptiveOverlap _),
    "q198_kcore"          -> (q198KCore _),
    "q201_coreness"       -> (q201Coreness _),
    "q202_ktruss"         -> (q202KTruss _),
    "q160_kmv_overlap"    -> (q160KmvOverlap _),
    "q162_mg_certificate" -> (q162MgCertificate _),
    "q129_hist_quantile"  -> (q129HistQuantile _),
    "q125_sessionize"     -> (q125Sessionize _),
    "q131_session_conversion" -> (q131SessionConversion _),
    "q132_conversion_latency" -> (q132ConversionLatency _),
    "q113_attribution"    -> (q113Attribution _),
    "q116_rolling_anomaly" -> (q116RollingAnomaly _),
    "q120_ewma"           -> (q120Ewma _),
    "q104_funnel_stages"  -> (q104FunnelStages _),
    "q94_rolling_active"  -> (q94RollingActive _),
    "q209_rolling_active_sketch" -> (q209RollingActiveSketch _),
    "q95_latest_per_key"  -> (q95LatestPerKey _),
    "q103_try_cast"       -> (q103TryCast _),
    "q99_forward_fill"    -> (q99ForwardFill _),
    "q100_gap_fill"       -> (q100GapFill _),
    "q86_range_frame"     -> (q86RangeFrame _),
    "q89_funnel"          -> (q89Funnel _),
    "q90_cohort_retention" -> (q90CohortRetention _),
    "q91_salted_distinct" -> (q91SaltedDistinct _),
    "q92_transitions"     -> (q92Transitions _),
    "q93_scd2"            -> (q93Scd2 _),
    "q50_tumbling_window" -> (q50Tumbling _),
    "q78_zorder_code"     -> (q78ZorderCode _),
    "q75_heavy_hitters"   -> (q75HeavyHitters _),
    "q69_window_topk"     -> (q69WindowTopk _),
    "q70_window_users"    -> (q70WindowUsers _),
    "q51_sliding_window"  -> (q51Sliding _),
    "q52_session_window"  -> (q52Sessions _),
    "q55_interval_join"   -> (q55IntervalJoin _),
    "q64_interval_join_outer" -> (q64IntervalJoinOuter _),
    "q53_multimodal_meta" -> (q53MultimodalMeta _),
    "q134_image_hash"     -> (q134ImageHash _),
    "q136_image_near_dup" -> (q136ImageNearDup _),
    "q137_audio_hash"     -> (q137AudioHash _),
    "q54_asof_join"       -> (q54AsofJoin _)
  )

  /** One synchronous k-core round of the q198 oracle: survivors of
    * `prev` whose degree among edges with BOTH endpoints in `prev` is
    * ≥ k — MATERIALIZED because each round references its predecessor
    * twice (one join per endpoint). */
  private def kcIterSql(prev: String, next: String, k: Int): String =
    s"""$next AS MATERIALIZED (
       |  SELECT e.src AS v, CAST(count(*) AS BIGINT) AS deg
       |  FROM e JOIN $prev a ON e.src = a.v JOIN $prev b ON e.dst = b.v
       |  GROUP BY e.src HAVING count(*) >= $k)""".stripMargin

  /** One h-index round of the q201 oracle: each node's new value is
    * max(least(rank, neighbor c)) over its neighbors' descending
    * current values — the identical arithmetic the engine round runs
    * ([[Graph.coreness]]). */
  private def corIterSql(prev: String, next: String): String =
    s"""$next AS MATERIALIZED (
       |  SELECT src AS v, max(least(rn, cv)) AS c FROM (
       |    SELECT e.src, p.c AS cv,
       |      row_number() OVER (PARTITION BY e.src ORDER BY p.c DESC) AS rn
       |    FROM e JOIN $prev p ON e.dst = p.v)
       |  GROUP BY src)""".stripMargin

  /** One synchronous truss round of the q202 oracle: support of each
    * surviving edge = its endpoints' common-neighbor count within the
    * survivors (the wedge join — fixture-affordable at sf0.01, where
    * the engine's in-row array-intersect form is the scale shape),
    * kept at support ≥ k−2. */
  private def ktIterSql(prev: String, next: String, k: Int): String =
    s"""s_$prev AS MATERIALIZED (SELECT a AS v, b AS w FROM $prev
       |                         UNION ALL SELECT b, a FROM $prev),
       |$next AS MATERIALIZED (
       |  SELECT u.a, u.b, CAST(count(*) AS BIGINT) AS support
       |  FROM $prev u
       |  JOIN s_$prev x ON x.v = u.a
       |  JOIN s_$prev y ON y.v = u.b AND y.w = x.w
       |  GROUP BY u.a, u.b HAVING count(*) >= ${k - 2})""".stripMargin

  val oracles: Map[String, String] = Map(
    // the floor-32 projection, then 7 unrolled synchronous truss
    // rounds (fixture cascades over 6 productive rounds; 1 margin)
    "q202_ktruss" ->
      s"""WITH uk AS MATERIALIZED (
         |  SELECT DISTINCT user_id, TRY_CAST(props->>'$$.k' AS BIGINT) AS k
         |  FROM events WHERE TRY_CAST(props->>'$$.k' AS BIGINT) IS NOT NULL),
         |p AS (SELECT a.user_id AS u, b.user_id AS v
         |      FROM uk a JOIN uk b ON a.k = b.k AND a.user_id < b.user_id
         |      GROUP BY 1, 2 HAVING count(*) >= 32),
         |t0 AS MATERIALIZED (SELECT u AS a, v AS b FROM p),
         |${(0 until 7).map(i => ktIterSql(s"t$i", s"t${i + 1}", 6))
            .mkString(",\n")}
         |SELECT a AS u1, b AS u2, support FROM t7""".stripMargin,

    // the q198 projection CTEs, degree init, then 12 unrolled h-index
    // rounds (fixture converges in 11; round 12 is the margin)
    "q201_coreness" ->
      s"""WITH uk AS MATERIALIZED (
         |  SELECT DISTINCT user_id, TRY_CAST(props->>'$$.k' AS BIGINT) AS k
         |  FROM events WHERE TRY_CAST(props->>'$$.k' AS BIGINT) IS NOT NULL),
         |p AS (SELECT a.user_id AS u, b.user_id AS v
         |      FROM uk a JOIN uk b ON a.k = b.k AND a.user_id < b.user_id
         |      GROUP BY 1, 2 HAVING count(*) >= 22),
         |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM p
         |                   UNION ALL SELECT v AS src, u AS dst FROM p),
         |c0 AS MATERIALIZED (SELECT src AS v, CAST(count(*) AS BIGINT) AS c
         |                    FROM e GROUP BY src),
         |${(0 until 12).map(i => corIterSql(s"c$i", s"c${i + 1}"))
            .mkString(",\n")}
         |SELECT v AS user_id, c AS coreness FROM c12""".stripMargin,

    // the co-engagement projection (DISTINCT user/key incidence,
    // shared>=22 pair floor, symmetric emit) then kCore's 6 rounds
    // unrolled — each round MATERIALIZED, the q181/q101 convention
    "q198_kcore" ->
      s"""WITH uk AS MATERIALIZED (
         |  SELECT DISTINCT user_id, TRY_CAST(props->>'$$.k' AS BIGINT) AS k
         |  FROM events WHERE TRY_CAST(props->>'$$.k' AS BIGINT) IS NOT NULL),
         |p AS (SELECT a.user_id AS u, b.user_id AS v
         |      FROM uk a JOIN uk b ON a.k = b.k AND a.user_id < b.user_id
         |      GROUP BY 1, 2 HAVING count(*) >= 22),
         |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM p
         |                   UNION ALL SELECT v AS src, u AS dst FROM p),
         |s0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM e),
         |${kcIterSql("s0", "s1", 70)},
         |${kcIterSql("s1", "s2", 70)},
         |${kcIterSql("s2", "s3", 70)},
         |${kcIterSql("s3", "s4", 70)},
         |${kcIterSql("s4", "s5", 70)},
         |${kcIterSql("s5", "s6", 70)}
         |SELECT v AS user_id, deg AS deg_in_core FROM s6""".stripMargin,

    // q125's session tagging verbatim (carrying event_type), each
    // session's type sequence under the total (us, event_id) order,
    // the same one-list-transform trigram build, and the same
    // (cnt desc, path) total order on the LIMIT
    "q152_path_trigrams" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        |           FROM events),
        |s AS (SELECT user_id, us, event_id, event_type,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |          AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |x AS (SELECT user_id, us, event_id, event_type,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS session_id
        |      FROM s),
        |q AS (SELECT list(event_type ORDER BY us, event_id) AS t
        |      FROM x GROUP BY user_id, session_id),
        |p AS (SELECT unnest(list_transform(range(len(t) - 2),
        |        i -> t[i+1] || '>' || t[i+2] || '>' || t[i+3])) AS path
        |      FROM q WHERE len(t) >= 3)
        |SELECT path, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY path ORDER BY cnt DESC, path LIMIT 20""".stripMargin,

    // same pre-T filter + latest-per-user rank under the unique
    // (ts desc, event_id desc) order
    "q159_asof_snapshot" ->
      """SELECT user_id, value, strftime(ts, '%Y-%m-%d %H:%M:%S') AS eff_from_s
        |FROM (SELECT user_id, value, ts,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events
        |      WHERE event_type = 'signup'
        |        AND ts <= TIMESTAMP '2024-01-15 00:00:00')
        |WHERE rn = 1""".stripMargin,

    // the distinct (type, user) projection self-joined on user_id,
    // unordered pairs by type order, integer Jaccard permille
    "q155_audience_overlap" ->
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |       FROM tu GROUP BY 1),
        |p AS (SELECT a.event_type AS t1, b.event_type AS t2,
        |        CAST(count(*) AS BIGINT) AS n_common
        |      FROM tu a JOIN tu b
        |        ON a.user_id = b.user_id AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.n_common, s1.n AS n1, s2.n AS n2,
        |  (p.n_common * 1000) // (s1.n + s2.n - p.n_common)
        |    AS jaccard_permille
        |FROM p JOIN sz s1 ON p.t1 = s1.event_type
        |JOIN sz s2 ON p.t2 = s2.event_type""".stripMargin,

    // same epoch-day fold, strictly-consecutive-day pairs via lag +
    // gap filter, q88's decimal-exact sums -> double final formula
    "q156_volume_autocorr" ->
      """WITH d AS (SELECT event_type,
        |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY 1, 2),
        |p AS (SELECT event_type,
        |        lag(day) OVER w AS prev_day, lag(cnt) OVER w AS x, day, cnt AS y
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |q AS (SELECT event_type, CAST(x AS DECIMAL(19,0)) AS x,
        |        CAST(y AS DECIMAL(19,0)) AS y
        |      FROM p WHERE prev_day = day - 1),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |        CAST(sum(x * y) AS DOUBLE) AS sxy,
        |        CAST(sum(x * x) AS DOUBLE) AS sxx,
        |        CAST(sum(y * y) AS DOUBLE) AS syy
        |      FROM q GROUP BY event_type)
        |SELECT event_type, n_pairs, sx, sy, sxy, sxx, syy,
        |  (n_pairs * sxy - sx * sy) /
        |  (sqrt(n_pairs * sxx - sx * sx) * sqrt(n_pairs * syy - sy * sy)) AS r
        |FROM s""".stripMargin,

    // same seed-keyed md5 bucket coin, floor cents, floor bucket means
    // (// floors where Spark div truncates — the Spark side subtracts
    // pmod first so both floor), lower-median pick at rank (nb+1)//2
    "q153_median_of_means" ->
      s"""WITH e AS (SELECT event_type,
         |        CAST(floor(value * 100) AS BIGINT) AS c,
         |        substr(md5(cast(event_id as string) || ':mom'), 1, 2) AS hx
         |      FROM events),
         |b AS (SELECT event_type, c,
         |        (${Md5Key.hexToLong("hx", 2)}) % 16 AS bkt
         |      FROM e),
         |m AS (SELECT event_type, bkt, CAST(sum(c) AS BIGINT) AS s,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM b GROUP BY 1, 2),
         |bm AS (SELECT event_type, bkt, s, n, s // n AS bmean FROM m),
         |r AS (SELECT event_type, bkt, s, n, bmean,
         |        row_number() OVER (PARTITION BY event_type
         |                           ORDER BY bmean, bkt) AS rk,
         |        count(*) OVER (PARTITION BY event_type) AS nb,
         |        CAST(sum(s) OVER (PARTITION BY event_type) AS BIGINT) AS ts,
         |        CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tn
         |      FROM bm)
         |SELECT event_type, tn AS n_events, ts // tn AS mean_cents,
         |  bmean AS mom_cents
         |FROM r WHERE rk = (nb + 1) // 2""".stripMargin,

    // the count-min sketch rebuilt counter-for-counter: same
    // single-digest md5 bucket hashes (hash r = the disjoint 4-hex
    // slice at 1-based offset 1+4r of ONE md5 per row — the r18
    // engine convention), same 192 exact BIGINT counters, same
    // min-over-rows estimate — the over_by ≥ 0 guarantee is certified
    // by hash equality, not trusted. The slice offset is the SQL
    // expression 1 + 4*rs.r so one digit polynomial serves all d rows.
    "q143_count_min" -> {
      val poly = (hx: String) => (0 until 4).map { i =>
        s"(instr('0123456789abcdef', substr($hx, 4 * rs.r + ${1 + i}, 1)) - 1) " +
          s"* CAST(${BigInt(16).pow(3 - i)} AS BIGINT)"
      }.mkString("(", " + ", ")")
      s"""WITH rs AS (SELECT unnest([0, 1, 2]) AS r),
         |eh AS (SELECT user_id, md5(cast(user_id as string) || ':cm') AS hx
         |       FROM events),
         |h AS (SELECT e.user_id, rs.r,
         |        (${poly("e.hx")}) % 64 AS b
         |      FROM eh e CROSS JOIN rs),
         |sk AS (SELECT r, b, CAST(count(*) AS BIGINT) AS cnt
         |       FROM h GROUP BY r, b),
         |ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM events GROUP BY user_id),
         |xh AS (SELECT user_id, n_exact,
         |         md5(cast(user_id as string) || ':cm') AS hx FROM ex),
         |pr AS (SELECT xh.user_id, xh.n_exact, rs.r,
         |        (${poly("xh.hx")}) % 64 AS b
         |       FROM xh CROSS JOIN rs)
         |SELECT pr.user_id, pr.n_exact, min(sk.cnt) AS n_est,
         |  min(sk.cnt) - pr.n_exact AS over_by
         |FROM pr JOIN sk USING (r, b)
         |GROUP BY pr.user_id, pr.n_exact""".stripMargin
    },

    // the KMV sketch replayed exactly: same md5-prefix hash (the
    // shared instr-polynomial — identical SQL text both engines, so
    // even a 60-bit prefix collision collapses identically), distinct
    // hv per group, k-th smallest via row_number, same HUGEINT-staged
    // (k−1)·2^60 // h_k estimator Spark stages through DECIMAL
    // calendar-join backtest: both baselines are shifted-key equi-joins
    // over the daily frame, errors integer-exact
    "q164_forecast_backtest" ->
      """WITH d AS (SELECT event_type,
        |        date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM events GROUP BY 1, 2)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(a.cnt - l1.cnt)) AS BIGINT) AS sae_lag1,
        |  CAST(sum(abs(a.cnt - l7.cnt)) AS BIGINT) AS sae_lag7,
        |  CASE WHEN sum(abs(a.cnt - l7.cnt)) < sum(abs(a.cnt - l1.cnt))
        |         THEN 'lag7'
        |       WHEN sum(abs(a.cnt - l1.cnt)) < sum(abs(a.cnt - l7.cnt))
        |         THEN 'lag1'
        |       ELSE 'tie' END AS winner
        |FROM d a
        |JOIN d l1 ON a.event_type = l1.event_type AND l1.day = a.day - 1
        |JOIN d l7 ON a.event_type = l7.event_type AND l7.day = a.day - 7
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin,

    // replays the full KMV pair algebra: per-type k-min heads via
    // row_number over the shared md5 polynomial, the pair union's
    // first k (itself a valid union sketch — Beyer et al. §4), and
    // the integer estimators, HUGEINT-staged like q141's.
    "q160_kmv_overlap" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |             substr(md5(cast(user_id as string)), 1, 15) AS hx
         |           FROM events),
         |v AS (SELECT DISTINCT event_type,
         |        ${Md5Key.hex15ToLong("hx")} AS hv
         |      FROM h),
         |r AS (SELECT event_type, hv,
         |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
         |      FROM v),
         |heads AS (SELECT event_type, hv FROM r WHERE rn <= 64),
         |types AS (SELECT DISTINCT event_type FROM heads),
         |pairs AS (SELECT a.event_type AS t1, b.event_type AS t2
         |          FROM types a JOIN types b ON a.event_type < b.event_type),
         |mem AS (SELECT p.t1, p.t2, hd.hv,
         |          max(CASE WHEN hd.event_type = p.t1 THEN 1 ELSE 0 END) AS in1,
         |          max(CASE WHEN hd.event_type = p.t2 THEN 1 ELSE 0 END) AS in2
         |        FROM pairs p JOIN heads hd
         |          ON hd.event_type = p.t1 OR hd.event_type = p.t2
         |        GROUP BY p.t1, p.t2, hd.hv),
         |urk AS (SELECT t1, t2, hv, in1, in2,
         |          row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
         |        FROM mem),
         |agg AS (SELECT t1, t2,
         |          CAST(count(*) AS BIGINT) AS n_u,
         |          CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_i,
         |          max(hv) AS h_k
         |        FROM urk WHERE rn <= 64 GROUP BY t1, t2),
         |est AS (SELECT t1, t2, n_u, n_i,
         |          CASE WHEN n_u < 64 THEN n_u
         |               ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |                      // greatest(h_k, 1) AS BIGINT)
         |          END AS est_union
         |        FROM agg)
         |SELECT t1, t2, n_u AS n_union_heads, est_union,
         |  n_i AS n_inter_heads,
         |  CAST(CAST(n_i AS HUGEINT) * est_union // greatest(n_u, 1)
         |       AS BIGINT) AS est_inter,
         |  CAST(n_i * 1000 // greatest(n_u, 1) AS BIGINT)
         |    AS jaccard_est_permille
         |FROM est ORDER BY t1, t2""".stripMargin,

    // exact side computed for real; the three theorem columns are
    // pinned (found = true, violations = 0) — Misra & Gries 1982 /
    // PODS 2012 make them path-independent, so a broken update/merge/
    // serialize flips one and fails the hash gate.
    "q162_mg_certificate" ->
      """WITH keyed AS (SELECT event_type,
        |                 CAST(floor(value / 10) AS BIGINT) AS key
        |               FROM events),
        |ex AS (SELECT event_type, key, CAST(count(*) AS BIGINT) AS f
        |       FROM keyed GROUP BY event_type, key),
        |tot AS (SELECT event_type, CAST(sum(f) AS BIGINT) AS n_total
        |        FROM ex GROUP BY event_type),
        |hv AS (SELECT e.event_type,
        |         CAST(sum(CASE WHEN e.f * 9 > t.n_total THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_heavy_true
        |       FROM ex e JOIN tot t USING (event_type)
        |       GROUP BY e.event_type)
        |SELECT t.event_type, t.n_total, h.n_heavy_true,
        |  h.n_heavy_true AS n_heavy_found,
        |  CAST(0 AS BIGINT) AS n_over_est,
        |  CAST(0 AS BIGINT) AS n_bound_viol
        |FROM tot t JOIN hv h USING (event_type)
        |ORDER BY t.event_type""".stripMargin,

    "q141_kmv_distinct" ->
      s"""WITH h AS (SELECT DISTINCT event_type,
         |             substr(md5(cast(user_id as string)), 1, 15) AS hx
         |           FROM events),
         |v AS (SELECT DISTINCT event_type,
         |        ${Md5Key.hex15ToLong("hx")} AS hv
         |      FROM h),
         |r AS (SELECT event_type, hv,
         |        CAST(row_number() OVER (PARTITION BY event_type ORDER BY hv) AS BIGINT) AS rn,
         |        CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nd
         |      FROM v)
         |SELECT event_type, least(nd, 64) AS n_heads,
         |  min(CASE WHEN rn = 64 THEN hv END) AS kth_hash,
         |  CASE WHEN nd < 64 THEN nd
         |       ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |              // greatest(min(CASE WHEN rn = 64 THEN hv END), 1) AS BIGINT)
         |  END AS est_distinct
         |FROM r GROUP BY event_type, nd
         |ORDER BY event_type""".stripMargin,

    // q191's register CTEs extended with pair algebra: union registers
    // by greatest() over a dense (pair x 256) grid, the same HUGEINT
    // harmonic estimator, inclusion-exclusion intersection clamped at 0
    "q194_hll_overlap" ->
      s"""WITH k AS (SELECT event_type,
         |             substr(md5(cast(user_id as string) || ':' ||
         |                        strftime(ts, '%Y-%m-%d')), 1, 15) AS hx
         |           FROM events),
         |v AS (SELECT event_type, ${Md5Key.hex15ToLong("hx")} AS hv FROM k),
         |b AS (SELECT event_type, hv // ${Sketches.hllRegisterSplit(8)} AS j,
         |             hv % ${Sketches.hllRegisterSplit(8)} AS w FROM v),
         |reg AS (SELECT event_type, j,
         |          max(CASE WHEN w = 0 THEN 53
         |                   ELSE 53 - length(bin(w)) END) AS mr
         |        FROM b GROUP BY event_type, j),
         |g AS (SELECT DISTINCT event_type FROM reg),
         |pairs AS (SELECT a.event_type AS t1, b2.event_type AS t2
         |          FROM g a JOIN g b2 ON a.event_type < b2.event_type),
         |grid AS (SELECT t1, t2, t.j FROM pairs CROSS JOIN range(256) t(j)),
         |rr AS (SELECT gr.t1, gr.t2,
         |         coalesce(r1.mr, 0) AS m1, coalesce(r2.mr, 0) AS m2
         |       FROM grid gr
         |       LEFT JOIN reg r1 ON r1.event_type = gr.t1 AND r1.j = gr.j
         |       LEFT JOIN reg r2 ON r2.event_type = gr.t2 AND r2.j = gr.j),
         |s AS (SELECT t1, t2,
         |        sum((1::BIGINT << (62 - m1))::HUGEINT) AS s1,
         |        sum((1::BIGINT << (62 - m2))::HUGEINT) AS s2,
         |        sum((1::BIGINT << (62 - greatest(m1, m2)))::HUGEINT) AS su,
         |        CAST(sum(CASE WHEN greatest(m1, m2) = 0 THEN 1 ELSE 0 END)
         |             AS BIGINT) AS vz
         |      FROM rr GROUP BY t1, t2),
         |e AS (SELECT t1, t2, vz,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * s1) AS BIGINT) AS est_t1,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * s2) AS BIGINT) AS est_t2,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * su) AS BIGINT) AS est_union
         |      FROM s)
         |SELECT t1, t2, est_t1, est_t2, est_union,
         |  greatest(est_t1 + est_t2 - est_union, 0) AS est_inter,
         |  vz AS v_zero_union,
         |  CAST(greatest(est_t1 + est_t2 - est_union, 0)::HUGEINT * 1000
         |    // greatest(est_union, 1) AS BIGINT) AS jaccard_est_permille
         |FROM e ORDER BY t1, t2""".stripMargin,

    // the PAIR analog: one shared hash CTE feeds the q160 KMV pair
    // algebra AND the q194 HLL pair algebra, the union regime
    // telemetry (v_zero_union over the elementwise-max grid) picks
    // the route per pair, and all four estimates + the decision sit
    // under the hash gate
    "q196_adaptive_overlap" ->
      s"""WITH src AS (
         |  SELECT 'big:' || event_type AS grp,
         |         cast(user_id as string) || ':' ||
         |           strftime(ts, '%Y-%m-%d') AS key
         |  FROM events
         |  UNION ALL
         |  SELECT 'small:' || event_type AS grp,
         |         cast(user_id % 40 as string) AS key FROM events),
         |h AS (SELECT DISTINCT grp, substr(md5(key), 1, 15) AS hx FROM src),
         |v AS (SELECT DISTINCT grp, ${Md5Key.hex15ToLong("hx")} AS hv FROM h),
         |r AS (SELECT grp, hv,
         |        row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn
         |      FROM v),
         |heads AS (SELECT grp, hv FROM r WHERE rn <= 64),
         |types AS (SELECT DISTINCT grp FROM v),
         |prs AS (SELECT a.grp AS t1, b2.grp AS t2
         |        FROM types a JOIN types b2 ON a.grp < b2.grp),
         |mem AS (SELECT p.t1, p.t2, hd.hv,
         |          max(CASE WHEN hd.grp = p.t1 THEN 1 ELSE 0 END) AS in1,
         |          max(CASE WHEN hd.grp = p.t2 THEN 1 ELSE 0 END) AS in2
         |        FROM prs p JOIN heads hd
         |          ON hd.grp = p.t1 OR hd.grp = p.t2
         |        GROUP BY p.t1, p.t2, hd.hv),
         |urk AS (SELECT t1, t2, hv, in1, in2,
         |          row_number() OVER (PARTITION BY t1, t2 ORDER BY hv) AS rn
         |        FROM mem),
         |agg AS (SELECT t1, t2,
         |          CAST(count(*) AS BIGINT) AS n_u,
         |          CAST(sum(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END)
         |               AS BIGINT) AS n_i,
         |          max(hv) AS h_k
         |        FROM urk WHERE rn <= 64 GROUP BY t1, t2),
         |kst AS (SELECT t1, t2, n_u AS n_union_heads,
         |          CASE WHEN n_u < 64 THEN n_u
         |               ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |                      // greatest(h_k, 1) AS BIGINT)
         |          END AS est_union_kmv, n_u, n_i
         |        FROM agg),
         |kmv AS (SELECT t1, t2, n_union_heads, est_union_kmv,
         |          CAST(CAST(n_i AS HUGEINT) * est_union_kmv
         |               // greatest(n_u, 1) AS BIGINT) AS est_inter_kmv
         |        FROM kst),
         |bb AS (SELECT grp, hv // ${Sketches.hllRegisterSplit(8)} AS j,
         |              hv % ${Sketches.hllRegisterSplit(8)} AS w FROM v),
         |reg AS (SELECT grp, j,
         |          max(CASE WHEN w = 0 THEN 53
         |                   ELSE 53 - length(bin(w)) END) AS mr
         |        FROM bb GROUP BY grp, j),
         |grid AS (SELECT t1, t2, t.j FROM prs CROSS JOIN range(256) t(j)),
         |rr AS (SELECT gr.t1, gr.t2,
         |         coalesce(r1.mr, 0) AS m1, coalesce(r2.mr, 0) AS m2
         |       FROM grid gr
         |       LEFT JOIN reg r1 ON r1.grp = gr.t1 AND r1.j = gr.j
         |       LEFT JOIN reg r2 ON r2.grp = gr.t2 AND r2.j = gr.j),
         |s AS (SELECT t1, t2,
         |        sum((1::BIGINT << (62 - m1))::HUGEINT) AS s1,
         |        sum((1::BIGINT << (62 - m2))::HUGEINT) AS s2,
         |        sum((1::BIGINT << (62 - greatest(m1, m2)))::HUGEINT) AS su,
         |        CAST(sum(CASE WHEN greatest(m1, m2) = 0 THEN 1 ELSE 0 END)
         |             AS BIGINT) AS vz
         |      FROM rr GROUP BY t1, t2),
         |e AS (SELECT t1, t2, vz,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * s1) AS BIGINT) AS est_t1,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * s2) AS BIGINT) AS est_t2,
         |        CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |          // (${Sketches.hllAlphaDen(8)} * su) AS BIGINT) AS est_union_hll
         |      FROM s),
         |hll AS (SELECT t1, t2, vz AS v_zero_union, est_union_hll,
         |          greatest(est_t1 + est_t2 - est_union_hll, 0)
         |            AS est_inter_hll
         |        FROM e)
         |SELECT k.t1, k.t2, n_union_heads, est_union_kmv, est_inter_kmv,
         |  v_zero_union, est_union_hll, est_inter_hll,
         |  CASE WHEN est_union_hll <= ${Sketches.hllRouteFloor(8)} AND v_zero_union > 0
         |       THEN 'kmv' ELSE 'hll' END AS route,
         |  CASE WHEN est_union_hll <= ${Sketches.hllRouteFloor(8)} AND v_zero_union > 0
         |       THEN est_union_kmv ELSE est_union_hll END AS est_union,
         |  CASE WHEN est_union_hll <= ${Sketches.hllRouteFloor(8)} AND v_zero_union > 0
         |       THEN est_inter_kmv ELSE est_inter_hll END AS est_inter
         |FROM kmv k JOIN hll USING (t1, t2) ORDER BY k.t1, k.t2""".stripMargin,

    // both sketches AND the route boundary replayed: one shared
    // md5→hex15 hash CTE feeds the q141 KMV estimator and the q191
    // HLL estimator per group, then the published small-range rule
    // (est_raw <= 5m/2 AND v_zero > 0 -> KMV) picks the route — a
    // route flip on any group is a hash mismatch, so the DECISION is
    // certified, not just the estimates
    "q195_adaptive_distinct" ->
      s"""WITH src AS (
         |  SELECT 'big:' || event_type AS grp,
         |         cast(user_id as string) || ':' ||
         |           strftime(ts, '%Y-%m-%d') AS key
         |  FROM events
         |  UNION ALL
         |  SELECT 'small:' || event_type AS grp,
         |         cast(user_id % 40 as string) AS key FROM events),
         |h AS (SELECT DISTINCT grp, substr(md5(key), 1, 15) AS hx FROM src),
         |v AS (SELECT DISTINCT grp, ${Md5Key.hex15ToLong("hx")} AS hv FROM h),
         |r AS (SELECT grp, hv,
         |        CAST(row_number() OVER (PARTITION BY grp ORDER BY hv) AS BIGINT) AS rn,
         |        CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS nd
         |      FROM v),
         |kv AS (SELECT grp, least(nd, 64) AS n_heads,
         |         CASE WHEN nd < 64 THEN nd
         |              ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |                     // greatest(min(CASE WHEN rn = 64 THEN hv END), 1) AS BIGINT)
         |         END AS est_kmv
         |       FROM r GROUP BY grp, nd),
         |b AS (SELECT grp, hv // ${Sketches.hllRegisterSplit(8)} AS j,
         |             hv % ${Sketches.hllRegisterSplit(8)} AS w FROM v),
         |reg AS (SELECT grp, j,
         |          max(CASE WHEN w = 0 THEN 53
         |                   ELSE 53 - length(bin(w)) END) AS mr
         |        FROM b GROUP BY grp, j),
         |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_regs_hit,
         |        sum(((1::BIGINT << (62 - mr)))::HUGEINT) AS s_hit
         |      FROM reg GROUP BY grp),
         |hl AS (SELECT grp, 256 - n_regs_hit AS v_zero,
         |         CAST(CAST(${graft.operators.Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |           // (${Sketches.hllAlphaDen(8)} * (s_hit +
         |                (256 - n_regs_hit)::HUGEINT * 4611686018427387904))
         |           AS BIGINT) AS est_hll
         |       FROM g)
         |SELECT kv.grp, n_heads, est_kmv, v_zero, est_hll,
         |  CASE WHEN est_hll <= ${Sketches.hllRouteFloor(8)} AND v_zero > 0 THEN 'kmv' ELSE 'hll' END
         |    AS route,
         |  CASE WHEN est_hll <= ${Sketches.hllRouteFloor(8)} AND v_zero > 0 THEN est_kmv ELSE est_hll END
         |    AS est_distinct
         |FROM kv JOIN hl USING (grp) ORDER BY kv.grp""".stripMargin,

    // HLL replay, same stance as q141: identical md5→hex15ToLong hash
    // text both engines; register index/value in integer arithmetic
    // (bin() bit-length is common SQL), the harmonic sum scaled by
    // 2^62 in HUGEINT, alpha as the exact rational 7213m/(10000m+10790)
    // => numerator 7213*256^3*2^62 staged as HUGEINT product.
    "q191_hll_user_days" ->
      s"""WITH k AS (SELECT event_type,
         |             substr(md5(cast(user_id as string) || ':' ||
         |                        strftime(ts, '%Y-%m-%d')), 1, 15) AS hx
         |           FROM events),
         |v AS (SELECT event_type, ${Md5Key.hex15ToLong("hx")} AS hv FROM k),
         |b AS (SELECT event_type, hv // ${Sketches.hllRegisterSplit(8)} AS j,
         |             hv % ${Sketches.hllRegisterSplit(8)} AS w FROM v),
         |reg AS (SELECT event_type, j,
         |          max(CASE WHEN w = 0 THEN 53
         |                   ELSE 53 - length(bin(w)) END) AS mr
         |        FROM b GROUP BY event_type, j),
         |g AS (SELECT event_type,
         |        CAST(count(*) AS BIGINT) AS n_regs_hit,
         |        CAST(max(mr) AS BIGINT) AS max_rank,
         |        sum(((1::BIGINT << (62 - mr)))::HUGEINT) AS s_hit
         |      FROM reg GROUP BY event_type)
         |SELECT event_type, n_regs_hit,
         |  256 - n_regs_hit AS v_zero, max_rank,
         |  CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |    // (${Sketches.hllAlphaDen(8)} * (s_hit +
         |         (256 - n_regs_hit)::HUGEINT * 4611686018427387904))
         |    AS BIGINT) AS est_distinct
         |FROM g ORDER BY event_type""".stripMargin,

    // the same doc_id-derived grids and integer bit assembly as the
    // ImageCore expressions: bit i iff v_i*64 >= sum(v) (aHash), and
    // gradient sign over the 9-wide rows (dHash). Bit 63 is the sign
    // bit, added as long-min so the HUGEINT sum casts back exactly.
    "q134_image_hash" ->
      """WITH pa AS (SELECT d.doc_id, t.i,
        |              (d.doc_id * 2654435761 + t.i * 40503) % 256 AS v
        |            FROM documents d, range(64) t(i)),
        |tot AS (SELECT doc_id, sum(v) AS total FROM pa GROUP BY doc_id),
        |ah AS (SELECT pa.doc_id,
        |         CAST(sum(CASE WHEN v * 64 >= total THEN
        |           CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |                ELSE (1::BIGINT << CAST(i AS INT)) END
        |           ELSE 0 END) AS BIGINT) AS ahash
        |       FROM pa JOIN tot USING (doc_id) GROUP BY pa.doc_id),
        |pd AS (SELECT d.doc_id, t.i,
        |         (d.doc_id * 2654435761 + t.i * 40503) % 256 AS v
        |       FROM documents d, range(72) t(i)),
        |bits AS (SELECT t.j, (t.j // 8) * 9 + (t.j % 8) AS li FROM range(64) t(j)),
        |dh AS (SELECT pl.doc_id,
        |         CAST(sum(CASE WHEN pr.v > pl.v THEN
        |           CASE WHEN b.j = 63 THEN -9223372036854775807 - 1
        |                ELSE (1::BIGINT << CAST(b.j AS INT)) END
        |           ELSE 0 END) AS BIGINT) AS dhash
        |       FROM bits b
        |       JOIN pd pl ON pl.i = b.li
        |       JOIN pd pr ON pr.i = b.li + 1 AND pr.doc_id = pl.doc_id
        |       GROUP BY pl.doc_id)
        |SELECT ah.doc_id, ah.ahash, dh.dhash FROM ah JOIN dh USING (doc_id)""".stripMargin,

    // brute-force replay of the banded near-dup join: same perturbed
    // cluster grids, same bit assembly, every pair xor'd — if the
    // sign-band pigeonhole missed or invented a pair, the multiset
    // comparison fails
    "q136_image_near_dup" ->
      """WITH p0 AS (SELECT d.doc_id, t.i,
        |              (((d.doc_id // 16) * 64 + t.i + 1) * 2654435761)
        |                % 4294967296 AS a
        |            FROM documents d, range(64) t(i)),
        |p1 AS (SELECT doc_id, i, xor(a, a // 65536) AS b FROM p0),
        |p2 AS (SELECT doc_id, i, (b * 40503) % 4294967296 AS c FROM p1),
        |p3 AS (SELECT doc_id, i, xor(c, c // 65536) AS m FROM p2),
        |pa AS (SELECT doc_id, i,
        |         (m + CASE WHEN i = doc_id % 64
        |                   THEN 128 ELSE 0 END) % 256 AS v
        |       FROM p3),
        |tot AS (SELECT doc_id, sum(v) AS total FROM pa GROUP BY doc_id),
        |ah AS (SELECT pa.doc_id,
        |         CAST(sum(CASE WHEN v * 64 >= total THEN
        |           CASE WHEN i = 63 THEN -9223372036854775807 - 1
        |                ELSE (1::BIGINT << CAST(i AS INT)) END
        |           ELSE 0 END) AS BIGINT) AS ahash
        |       FROM pa JOIN tot USING (doc_id) GROUP BY pa.doc_id)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |FROM ah a JOIN ah b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 4""".stripMargin,

    // the audio energy-gradient hash replayed over the same splitmix
    // envelopes: bit i iff v(i+1) > v(i) across the 65 windows
    "q137_audio_hash" ->
      """WITH p0 AS (SELECT d.doc_id, t.i,
        |              ((d.doc_id * 65 + t.i + 1) * 2654435761)
        |                % 4294967296 AS a
        |            FROM documents d, range(65) t(i)),
        |p1 AS (SELECT doc_id, i, xor(a, a // 65536) AS b FROM p0),
        |p2 AS (SELECT doc_id, i, (b * 40503) % 4294967296 AS c FROM p1),
        |p3 AS (SELECT doc_id, i, xor(c, c // 65536) AS m FROM p2),
        |pa AS (SELECT doc_id, i, m % 65536 AS v FROM p3)
        |SELECT l.doc_id,
        |  CAST(sum(CASE WHEN r.v > l.v THEN
        |    CASE WHEN l.i = 63 THEN -9223372036854775807 - 1
        |         ELSE (1::BIGINT << CAST(l.i AS INT)) END
        |    ELSE 0 END) AS BIGINT) AS ehash
        |FROM pa l JOIN pa r ON r.doc_id = l.doc_id AND r.i = l.i + 1
        |GROUP BY l.doc_id""".stripMargin,
    // same integer cents, same frame, same squared compare — the
    // whole z-test is BIGINT arithmetic in both engines
    "q116_rolling_anomaly" ->
      """WITH f AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(value * 100.0) AS BIGINT) AS c,
        |    count(*) OVER w AS bn,
        |    sum(CAST(floor(value * 100.0) AS BIGINT)) OVER w AS s,
        |    sum(CAST(floor(value * 100.0) AS BIGINT)
        |        * CAST(floor(value * 100.0) AS BIGINT)) OVER w AS q
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, c AS cents,
        |  CAST(bn * c - s AS BIGINT) AS dev,
        |  CAST(bn * q - s * s AS BIGINT) AS var_n2,
        |  CAST(CASE WHEN (bn * c - s) * (bn * c - s) > 9 * (bn * q - s * s)
        |            THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
        |FROM f WHERE bn = 5""".stripMargin,

    // the same 8-tap lag chain with dyadic weights; the pmod-subtract
    // makes the /255 quotient exact so `//` (floor) and Spark's `div`
    // (truncate) agree on any sign
    "q120_ewma" ->
      """WITH c AS (
        |  SELECT event_id, ts, user_id,
        |    CAST(floor(value * 100.0) AS BIGINT) AS c
        |  FROM events),
        |l AS (
        |  SELECT event_id, user_id, c,
        |    lag(c, 0) OVER w AS l0, lag(c, 1) OVER w AS l1,
        |    lag(c, 2) OVER w AS l2, lag(c, 3) OVER w AS l3,
        |    lag(c, 4) OVER w AS l4, lag(c, 5) OVER w AS l5,
        |    lag(c, 6) OVER w AS l6, lag(c, 7) OVER w AS l7
        |  FROM c
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (
        |  SELECT event_id, user_id, c,
        |    l0*128 + l1*64 + l2*32 + l3*16 + l4*8 + l5*4 + l6*2 + l7
        |      AS ewma_num
        |  FROM l WHERE l7 IS NOT NULL)
        |SELECT event_id, user_id, c AS cents, ewma_num,
        |  CAST((ewma_num - (ewma_num % 255 + 255) % 255) // 255 AS BIGINT)
        |    AS ewma_cents
        |FROM x""".stripMargin,

    // the same preceding-rows IGNORE NULLS window; decimal-exact
    // revenue, the q50 stance
    "q113_attribution" ->
      """WITH a AS (
        |  SELECT event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS touch
        |  FROM events)
        |SELECT coalesce(touch, 'direct') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    // greedy earliest-chain funnel per user (q89's construction, kept
    // as the per-user assignment): stage k needs the k-th event type
    // at-or-after the (k-1)-th stage's minimum eligible time
    "q104_funnel_stages" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'signup' AND e.ts >= t1.t
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= t2.t
        |       GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM events)
        |SELECT u.user_id,
        |  CAST(CASE WHEN t3.user_id IS NOT NULL THEN 3
        |            WHEN t2.user_id IS NOT NULL THEN 2
        |            WHEN t1.user_id IS NOT NULL THEN 1
        |            ELSE 0 END AS BIGINT) AS stage
        |FROM u
        |LEFT JOIN t1 ON u.user_id = t1.user_id
        |LEFT JOIN t2 ON u.user_id = t2.user_id
        |LEFT JOIN t3 ON u.user_id = t3.user_id""".stripMargin,
    // TRY_CAST -> NULL on malformed input in both engines; the json
    // extraction mirrors get_json_object's string-out contract. The
    // numeric parse goes through DOUBLE + a finite-range gate + floor
    // on both sides — a direct string->BIGINT try_cast truncates in
    // Spark but ROUNDS in DuckDB on non-integral strings, and on
    // overflow strings Spark's floor saturates where DuckDB nulls
    // (see q103TryCast's scaladoc)
    "q103_try_cast" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(k_num) AS BIGINT) AS n_parsed,
        |  CAST(sum(k_num) AS BIGINT) AS k_sum,
        |  CAST(count(bad_num) AS BIGINT) AS n_bad_parsed
        |FROM (
        |  SELECT event_type,
        |    try_cast(floor(CASE WHEN try_cast(props ->> '$.k' AS DOUBLE) > -9.2e18
        |                         AND try_cast(props ->> '$.k' AS DOUBLE) < 9.2e18
        |                        THEN try_cast(props ->> '$.k' AS DOUBLE) END) AS BIGINT) AS k_num,
        |    try_cast(floor(CASE WHEN try_cast(event_type AS DOUBLE) > -9.2e18
        |                         AND try_cast(event_type AS DOUBLE) < 9.2e18
        |                        THEN try_cast(event_type AS DOUBLE) END) AS BIGINT) AS bad_num
        |  FROM events) t
        |GROUP BY event_type""".stripMargin,

    // last_value IGNORE NULLS over the same unique row frame — LOCF
    // replayed exactly; leading nulls stay null in both engines
    "q99_forward_fill" ->
      """SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM (SELECT event_id, user_id, ts,
        |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |      FROM events) t""".stripMargin,

    // dense generate_series calendar + LOCF across genuine empty days
    "q100_gap_fill" ->
      """WITH e AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events
        |           WHERE event_type = 'purchase' AND value >= 300),
        |agg AS (SELECT day, CAST(sum(cents) AS BIGINT) AS day_cents FROM e GROUP BY day),
        |mm AS (SELECT min(day) AS mn, max(day) AS mx FROM agg),
        |cal AS (SELECT unnest(generate_series(mn, mx)) AS day_int FROM mm),
        |j AS (SELECT day_int, day_cents FROM cal LEFT JOIN agg ON cal.day_int = agg.day)
        |SELECT CAST(day_int AS BIGINT) AS day_int,
        |  CAST(last_value(day_cents IGNORE NULLS) OVER (ORDER BY day_int
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_cents,
        |  CAST(CASE WHEN day_cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
        |FROM j""".stripMargin,

    "q95_latest_per_key" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts_s
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1""".stripMargin,

    // sliding distinct via the bounded-calendar range join, replayed
    // exactly — distinct cannot ride a RANGE frame
    // the r20 mergeable-sketch form, regime-routed: ONE shared hash
    // CTE feeds the q141 KMV replay and the q191 HLL register replay,
    // each twice — per day, and window-merged (KMV: distinct-union
    // min-k, exact by Beyer §4; HLL: elementwise max) — then the q195
    // route rule picks per (day, window). Estimates, merges, AND the
    // route decisions all under one hash gate.
    "q209_rolling_active_sketch" ->
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
         |       FROM events),
         |hx AS (SELECT day, substr(md5(cast(user_id as string)), 1, 15) AS hx
         |       FROM ud),
         |h AS (SELECT DISTINCT day, ${Md5Key.hex15ToLong("hx")} AS hv FROM hx),
         |days AS (SELECT DISTINCT day AS d FROM h),
         |rd AS (SELECT day, hv,
         |         CAST(row_number() OVER (PARTITION BY day ORDER BY hv) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS nd
         |       FROM h),
         |dk AS (SELECT day,
         |         CASE WHEN nd < 64 THEN nd
         |              ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |                // greatest(min(CASE WHEN rn = 64 THEN hv END), 1) AS BIGINT)
         |         END AS est_kmv
         |       FROM rd GROUP BY day, nd),
         |wh AS (SELECT DISTINCT days.d AS day, h.hv
         |       FROM days JOIN h ON h.day BETWEEN days.d - 6 AND days.d),
         |rw AS (SELECT day, hv,
         |         CAST(row_number() OVER (PARTITION BY day ORDER BY hv) AS BIGINT) AS rn,
         |         CAST(count(*) OVER (PARTITION BY day) AS BIGINT) AS nd
         |       FROM wh),
         |wk AS (SELECT day,
         |         CASE WHEN nd < 64 THEN nd
         |              ELSE CAST(CAST(63 AS HUGEINT) * ${Md5Key.Space}
         |                // greatest(min(CASE WHEN rn = 64 THEN hv END), 1) AS BIGINT)
         |         END AS est_kmv
         |       FROM rw GROUP BY day, nd),
         |b AS (SELECT day, hv // ${Sketches.hllRegisterSplit(8)} AS j,
         |             hv % ${Sketches.hllRegisterSplit(8)} AS w FROM h),
         |reg AS (SELECT day, j,
         |          max(CASE WHEN w = 0 THEN 53
         |                   ELSE 53 - length(bin(w)) END) AS mr
         |        FROM b GROUP BY day, j),
         |wreg AS (SELECT days.d AS day, reg.j, max(reg.mr) AS mr
         |         FROM days JOIN reg ON reg.day BETWEEN days.d - 6 AND days.d
         |         GROUP BY days.d, reg.j),
         |hd AS (SELECT day,
         |         CAST(256 - count(*) AS BIGINT) AS v_zero,
         |         CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |           // (${Sketches.hllAlphaDen(8)} * (sum(((1::BIGINT << (62 - mr)))::HUGEINT) +
         |                (256 - count(*))::HUGEINT * 4611686018427387904))
         |           AS BIGINT) AS est_hll
         |       FROM reg GROUP BY day),
         |hw AS (SELECT day,
         |         CAST(256 - count(*) AS BIGINT) AS v_zero,
         |         CAST(CAST(${Sketches.hllAlphaNum(8)} AS HUGEINT) * 4611686018427387904
         |           // (${Sketches.hllAlphaDen(8)} * (sum(((1::BIGINT << (62 - mr)))::HUGEINT) +
         |                (256 - count(*))::HUGEINT * 4611686018427387904))
         |           AS BIGINT) AS est_hll
         |       FROM wreg GROUP BY day)
         |SELECT CAST(dk.day AS BIGINT) AS day_int,
         |  CASE WHEN hd.est_hll <= ${Sketches.hllRouteFloor(8)} AND hd.v_zero > 0
         |       THEN dk.est_kmv ELSE hd.est_hll END AS dau_est,
         |  CASE WHEN hd.est_hll <= ${Sketches.hllRouteFloor(8)} AND hd.v_zero > 0
         |       THEN 'kmv' ELSE 'hll' END AS dau_route,
         |  CASE WHEN hw.est_hll <= ${Sketches.hllRouteFloor(8)} AND hw.v_zero > 0
         |       THEN wk.est_kmv ELSE hw.est_hll END AS wau_est,
         |  CASE WHEN hw.est_hll <= ${Sketches.hllRouteFloor(8)} AND hw.v_zero > 0
         |       THEN 'kmv' ELSE 'hll' END AS wau_route
         |FROM dk JOIN hd USING (day) JOIN wk USING (day) JOIN hw USING (day)""".stripMargin,

    "q94_rolling_active" ->
      """WITH e AS (SELECT DISTINCT user_id,
        |             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day
        |           FROM events),
        |days AS (SELECT DISTINCT day AS d FROM e),
        |dau AS (SELECT day AS d, count(DISTINCT user_id) AS dau FROM e GROUP BY day),
        |wau AS (SELECT days.d, count(DISTINCT e.user_id) AS wau
        |        FROM days JOIN e ON e.day BETWEEN days.d - 6 AND days.d
        |        GROUP BY days.d)
        |SELECT CAST(dau.d AS BIGINT) AS day_int,
        |  CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau
        |FROM dau JOIN wau ON dau.d = wau.d""".stripMargin,

    // the oracle IS the plain count(DISTINCT) — certifying the salted
    // decomposition itself, not just the numbers
    "q91_salted_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY event_type""".stripMargin,

    // unique (ts, event_id) ordering makes lead deterministic; the
    // share is one int/int division both engines perform identically
    // q117's integer binning shape on floor-cents; both div legs are
    // non-negative so // (floor) and div (trunc) agree
    "q129_hist_quantile" ->
      """WITH c AS (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS c
        |           FROM events),
        |r AS (SELECT event_type, min(c) AS mn, max(c) AS mx,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM c GROUP BY 1),
        |b AS (SELECT c.event_type, ((c.c - r.mn) * 128) // (r.mx - r.mn + 1) AS bin,
        |        CAST(count(*) AS BIGINT) AS bc
        |      FROM c JOIN r USING (event_type) GROUP BY 1, 2),
        |x AS (SELECT b.event_type, bin, r.n, r.mn, r.mx,
        |        CAST(sum(bc) OVER (PARTITION BY b.event_type ORDER BY bin
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM b JOIN r USING (event_type))
        |SELECT event_type, n, mn, mx, CAST(min(bin) AS BIGINT) AS p50_bin,
        |  CAST(mn + (min(bin) * (mx - mn + 1)) // 128 AS BIGINT) AS p50_lo_cents
        |FROM x WHERE cum * 2 >= n
        |GROUP BY event_type, n, mn, mx""".stripMargin,

    // q125's session CTE + per-session conversion fold; the ≥10 tail
    // pools via least() in both engines
    "q131_session_conversion" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s AS (SELECT user_id, event_type, us, event_id,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |x AS (SELECT user_id, event_type,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM s),
        |p AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
        |          AS converted
        |      FROM x GROUP BY user_id, session_id)
        |SELECT least(n_events, 10) AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(converted) AS BIGINT) AS n_converted
        |FROM p GROUP BY least(n_events, 10)""".stripMargin,

    // conditional mins fold events to one row per user; the rank pick
    // is q108's discrete arithmetic — both div legs non-negative
    "q132_conversion_latency" ->
      """WITH fv AS (SELECT user_id,
        |        min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view
        |      FROM events GROUP BY user_id),
        |lat AS (SELECT e.user_id,
        |          min(epoch_us(e.ts) - fv.first_view) AS latency_us
        |        FROM events e JOIN fv ON e.user_id = fv.user_id
        |        WHERE e.event_type = 'purchase' AND fv.first_view IS NOT NULL
        |          AND epoch_us(e.ts) >= fv.first_view
        |        GROUP BY e.user_id),
        |r AS (SELECT user_id, latency_us,
        |        CAST(row_number() OVER (ORDER BY latency_us, user_id) AS BIGINT) AS rk,
        |        CAST(count(*) OVER () AS BIGINT) AS n
        |      FROM lat)
        |SELECT n AS n_converted,
        |  min(CASE WHEN rk = (n + 1) // 2 THEN latency_us END) AS median_latency_us,
        |  min(CASE WHEN rk = (9 * n + 9) // 10 THEN latency_us END) AS p90_latency_us
        |FROM r WHERE rk = (n + 1) // 2 OR rk = (9 * n + 9) // 10
        |GROUP BY n""".stripMargin,

    "q125_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s AS (SELECT user_id, us, event_id,
        |        CASE WHEN lag(us) OVER w IS NULL
        |               OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |x AS (SELECT user_id, us,
        |        CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |      FROM s)
        |SELECT user_id, session_id, min(us) AS start_us, max(us) AS end_us,
        |  CAST(count(*) AS BIGINT) AS n_events, max(us) - min(us) AS duration_us
        |FROM x GROUP BY user_id, session_id""".stripMargin,

    "q92_transitions" ->
      """WITH s AS (
        |  SELECT event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type AS from_type, next_type AS to_type,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM s WHERE next_type IS NOT NULL
        |      GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p_out
        |FROM c""".stripMargin,

    "q93_scd2" ->
      """SELECT user_id, value,
        |  CAST(row_number() OVER w AS BIGINT) AS version,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS eff_from_s,
        |  strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S') AS eff_to_s
        |FROM events
        |WHERE event_type = 'signup'
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    // staged first-qualifying-time CTEs — order-aware, replayed
    // stage for stage
    "q89_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN t1 ON e.user_id = t1.user_id
        |       WHERE e.event_type = 'signup' AND e.ts >= t1.t1
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN t2 ON e.user_id = t2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
        |       GROUP BY e.user_id)
        |SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM t1
        |UNION ALL
        |SELECT '2_signup_after_view', CAST(count(*) AS BIGINT) FROM t2
        |UNION ALL
        |SELECT '3_purchase_after_signup', CAST(count(*) AS BIGINT) FROM t3""".stripMargin,

    // first-purchase cohorts × day offsets, integer day arithmetic
    "q90_cohort_retention" ->
      """WITH e AS (SELECT user_id,
        |             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
        |             event_type
        |           FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM e
        |      WHERE event_type = 'purchase' GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, day FROM e)
        |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
        |  CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
        |FROM a JOIN c ON a.user_id = c.user_id
        |WHERE a.day - c.cohort_day BETWEEN 0 AND 7
        |GROUP BY 1, 2""".stripMargin,

    // integer-cents daily aggregate + RANGE 6 PRECEDING — replayed
    // value for value (gap days widen the frame in both engines)
    "q86_range_frame" ->
      """WITH e AS (SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_int,
        |             CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events),
        |d AS (SELECT day_int, CAST(sum(cents) AS BIGINT) AS day_cents,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM e GROUP BY day_int)
        |SELECT CAST(day_int AS BIGINT) AS day_int, day_cents, n_events,
        |  CAST(sum(day_cents) OVER (ORDER BY day_int
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS c7_cents,
        |  CAST(sum(n_events) OVER (ORDER BY day_int
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7_events
        |FROM d""".stripMargin,

    // integer-exact replay of the whole z-code derivation: the //
    // bucket rescale and the shift/mask interleave are bit-identical
    // across engines, so the code — unlike a float-scaled variant —
    // hash-matches
    "q78_zorder_code" ->
      s"""WITH e AS (SELECT event_id, CAST(user_id AS BIGINT) AS u,
         |            CAST(extract(hour FROM ts) AS BIGINT) AS h FROM events),
         |mm AS (SELECT min(u) AS mn1, max(u) AS mx1,
         |              min(h) AS mn2, max(h) AS mx2 FROM e),
         |b AS (SELECT event_id,
         |        ((u - mn1) * 256) // (mx1 - mn1 + 1) AS b1,
         |        ((h - mn2) * 256) // (mx2 - mn2 + 1) AS b2
         |      FROM e CROSS JOIN mm)
         |SELECT event_id, b1, b2,
         |  (${zInterleaveSql("b1", "b2", 8)}) AS zb
         |FROM b""".stripMargin,
    // hh_covered is the sketch's published guarantee (item frequency
    // far above support ⇒ present) — TRUE on the oracle side; a 0
    // from Spark is a real sketch failure, not a parity artifact
    "q75_heavy_hitters" ->
      """SELECT user_id, n_events, rank, CAST(1 AS BIGINT) AS hh_covered
        |FROM (
        |  SELECT user_id, count(*) AS n_events,
        |    row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rank
        |  FROM events GROUP BY user_id) t
        |WHERE rank <= 10""".stripMargin,

    "q55_interval_join" ->
      """SELECT s.user_id,
        |  s.event_id AS signup_id,
        |  p.event_id AS purchase_id
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND s.event_type = 'signup' AND p.event_type = 'purchase'
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR""".stripMargin,

    "q64_interval_join_outer" ->
      """SELECT s.user_id,
        |  s.event_id AS signup_id,
        |  p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 2 HOUR""".stripMargin,

    "q50_tumbling_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q69_window_topk" ->
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |    event_type, count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT window_start, event_type, n_events, rank FROM (
        |  SELECT c.*, row_number() OVER (PARTITION BY window_start
        |    ORDER BY n_events DESC, event_type ASC) AS rank
        |  FROM c) t
        |WHERE rank <= 2""".stripMargin,

    "q70_window_users" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,

    // each event lands in two 1h/30m sliding windows: the one starting
    // at its truncated half-hour, and the previous half-hour
    "q51_sliding_window" ->
      """WITH slots AS (
        |  SELECT date_trunc('hour', w_start) +
        |         CASE WHEN minute(w_start) >= 30 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS w
        |  FROM (
        |    SELECT ts AS w_start FROM events
        |    UNION ALL
        |    SELECT ts - INTERVAL 30 MINUTE FROM events) t)
        |SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start, count(*) AS n_events
        |FROM slots GROUP BY w""".stripMargin,

    "q52_session_window" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE OR
        |              lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM o)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "q53_multimodal_meta" ->
      """SELECT doc_id AS asset_id, 'image' AS modality,
        |  octet_length(encode(text)) AS payload_bytes,
        |  length(text) AS meta_bytes,
        |  source AS origin
        |FROM documents""".stripMargin,

    "q54_asof_join" ->
      """WITH r AS (SELECT user_id, ts AS rts, value AS state_val
        |           FROM events WHERE event_type = 'signup')
        |SELECT l.event_id, l.user_id,
        |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_s, r.state_val
        |FROM events l ASOF LEFT JOIN r
        |  ON l.user_id = r.user_id AND l.ts >= r.rts""".stripMargin
  )
}
