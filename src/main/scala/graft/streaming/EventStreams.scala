package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming capabilities over the `events` table — greenfield relative
  * to the reference (whose "streaming" is a 30-day batch re-run
  * scheduler, SURVEY §2.10), designed Spark-first:
  *
  *   - event-time tumbling / sliding / session windows, usable in BOTH
  *     batch and streaming plans (same `window()` expressions, so batch
  *     results are the oracle for the streaming path);
  *   - watermarked Structured Streaming variants (`readStream` →
  *     transform → sink) with bounded state;
  *   - custom stateful sessionization via
  *     `flatMapGroupsWithState` (the arbitrary-state escape hatch).
  *
  * Scale: every aggregation keys on (window × type) or user_id — state
  * is bounded by the watermark; no global ordering is ever required.
  */
// Serializable because the stateful operators' closures reference the
// object's private helpers (tsMicros/insertEvent/...) — the lambda then
// captures the module instance, which executors must deserialize.
object EventStreams extends Serializable {

  /** events schema for the file-streaming source. The stream source
    * needs an explicit schema, and the fixture's `ts` has shipped as
    * both TIMESTAMP(NANOS) (→ LongType nanos under nanosAsLong) and
    * TIMESTAMP(MICROS) (→ TimestampType) across generations — so sniff
    * the type from one batch footer read of the actual file rather
    * than hardcoding either shape (see [[graft.Tables.normalizeEventTs]]).
    * One driver-side footer read at stream build time, not per batch.
    * If the path doesn't exist YET (streams are routinely declared
    * before the first file lands), fall back to the current
    * micros-generation shape instead of throwing at declaration time —
    * the normalize step accepts either shape, so a sniffed schema is
    * only an optimization over the fallback; under the fallback the
    * first batch simply assumes the micros generation. The fallback
    * triggers ONLY on a genuinely absent path (filesystem-checked) —
    * an existing-but-unreadable path is a configuration error and
    * still fails fast at declaration time. */
  def rawSchema(spark: SparkSession, eventsPath: String): StructType = {
    val p = new org.apache.hadoop.fs.Path(eventsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) microsEventSchema
    else spark.read.parquet(eventsPath).schema
  }

  /** The TIMESTAMP(MICROS, isAdjustedToUTC=false) fixture generation's
    * shape — what a footer sniff of the current fixtures returns. */
  val microsEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  // ----------------------------------------------------------- batch/stream shared

  /** Tumbling event-time window aggregation (works in batch and stream). */
  def tumblingAgg(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding window (1h window, 30m slide). */
  def slidingAgg(events: DataFrame, width: String = "1 hour",
                 slide: String = "30 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("n_events"))

  /** Built-in session windows per user (gap-based). */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"))
      .select(
        col("user_id"),
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("w.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Keyed interval (range) join: each left row pairs with the right
    * rows of the SAME key whose `ts` falls in
    * [left.ts, left.ts + window] — the click-attribution / funnel
    * shape. Works in batch and as a stream-stream inner join (both
    * sides watermarked; the equality key + range condition is exactly
    * what lets Spark bound each side's join state).
    *
    * Contract: both sides must carry an event-time column named
    * `tsCol` (default "ts"), distinct from `key`; `window` must be a
    * simple positive interval like "1 hour" / "30 minutes". Output
    * columns are prefixed l_/r_ (minus the key), so neither side may
    * already contain a column named `l_<c>`/`r_<c>` for one of its
    * own columns.
    *
    * Scale: executes as a hash join on the key with the range as a
    * join-level predicate — never a cartesian; a pure range join
    * without an equality key would need bucketized time binning
    * instead. */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
                   window: String = "1 hour", tsCol: String = "ts",
                   joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer", "right_outer", "full_outer")(joinType),
      s"joinType must be inner/left_outer/right_outer/full_outer, got '$joinType'")
    require(key != tsCol, s"key ('$key') must differ from the event-time column ('$tsCol')")
    require(left.columns.contains(tsCol), s"left side has no '$tsCol' column (pass tsCol=...)")
    require(right.columns.contains(tsCol), s"right side has no '$tsCol' column (pass tsCol=...)")
    require(left.columns.contains(key) && right.columns.contains(key),
      s"both sides need the join key '$key'")
    // parse the window to a typed day-time interval (never spliced
    // into SQL text): a malformed caller fails here, not deep inside
    // analysis, and the join condition is built from Columns only
    val windowPattern = """(?i)(\d+)\s+(second|minute|hour|day)s?""".r
    val windowSeconds: Long = window.trim match {
      case windowPattern(n, unit) =>
        n.toLong * (unit.toLowerCase match {
          case "second" => 1L
          case "minute" => 60L
          case "hour"   => 3600L
          case "day"    => 86400L
        })
      case _ => throw new IllegalArgumentException(
        s"window must look like '30 minutes' / '1 hour', got '$window'")
    }
    def collides(cols: Array[String], p: String) =
      cols.filter(_ != key).map(c => s"$p$c").toSet.intersect(cols.toSet)
    require(collides(left.columns, "l_").isEmpty,
      s"left side already has prefixed columns ${collides(left.columns, "l_").mkString(",")}")
    require(collides(right.columns, "r_").isEmpty,
      s"right side already has prefixed columns ${collides(right.columns, "r_").mkString(",")}")
    val l = left.columns.foldLeft(left) { (d, c) =>
      if (c == key) d else d.withColumnRenamed(c, s"l_$c")
    }
    val r = right.columns.foldLeft(right) { (d, c) =>
      if (c == key) d else d.withColumnRenamed(c, s"r_$c")
    }
    // Alias both sides and resolve the key by qualified name: in the
    // self-join case (left and right derived from the same frame) the
    // two key columns share an attribute id, and `l(key) === r(key)`
    // builds a trivially-true predicate Spark then has to repair (it
    // logs a WARN). Qualified resolution is unambiguous by
    // construction.
    // Outer variants are streaming-legal BECAUSE of the equality key +
    // time-range condition: with both sides watermarked, Spark can
    // prove when an unmatched row's match window has closed and emit
    // it with nulls — an un-keyed or un-bounded outer stream join
    // would have to hold state forever and is rejected at analysis.
    val joined = l.as("gl").join(r.as("gr"),
      col(s"gl.$key") === col(s"gr.$key") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        // a Duration literal lowers to a DayTimeIntervalType Literal —
        // unlike make_dt_interval(...), which is a function call the
        // streaming state-watermark analyzer can't fold, so the outer
        // join's state bound would be unprovable
        col(s"r_$tsCol") <= col(s"l_$tsCol") +
          lit(java.time.Duration.ofSeconds(windowSeconds)),
      joinType)
    // outer joins null the unmatched side's key: surface ONE coalesced
    // key column via an explicit projection (withColumn/drop cannot
    // disambiguate two same-name attributes)
    joined.select(
      coalesce(col(s"gl.$key"), col(s"gr.$key")).as(key) +:
        (l.columns.filter(_ != key).map(c => col(s"gl.$c")) ++
          r.columns.filter(_ != key).map(c => col(s"gr.$c"))).toSeq: _*)
  }

  // ----------------------------------------------------------- streaming

  /** File-source streaming read of the events fixture. Schema-adaptive
    * across the fixture's two `ts` generations (nanos-as-long needs
    * `spark.sql.legacy.parquet.nanosAsLong=true` at session build time —
    * [[graft.GraftSession.create]] sets it; micros needs nothing). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // the file source wants a directory: stream the fixture dir with a
    // glob that admits only the events table
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(rawSchema(spark, s"$dir/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  /** Watermarked streaming tumbling aggregation: append-mode safe,
    * state bounded by the watermark horizon. */
  def streamingTumbling(spark: SparkSession, dir: String,
                        width: String = "1 hour",
                        watermark: String = "2 hours"): DataFrame =
    tumblingAgg(readEventStream(spark, dir).withWatermark("ts", watermark), width)

  /** Stream–static enrichment join: the static side is re-read per
    * micro-batch and broadcast; no stream state involved. */
  def streamStaticJoin(stream: DataFrame, dim: DataFrame,
                       key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key), "left")

  // ----------------------------------------------------------- custom state

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  /** Streaming state: ALL of a user's still-open sessions, pairwise
    * separated by more than the gap (the disjoint-interval invariant
    * [[insertEvent]] maintains). More than one can be open at once
    * when the watermark delay exceeds the gap: a straggler far before
    * the newest session's start must form its OWN session, not be
    * absorbed into whichever session happens to be open. */
  case class SessionsState(sessions: Seq[SessionState])
  case class UserSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long,
                         total_value: Double)

  /** Fold one event into a disjoint, start-sorted session list:
    * singleton-insert, then re-coalesce any neighbors the event pulled
    * within the gap (an event can bridge two sessions into one).
    * The in-order arrival case (t at or past the newest session) is
    * O(1), so batch sessionization over sorted events stays linear;
    * only genuine stragglers pay the O(k) general insert. */
  private def insertEvent(sessions: Vector[SessionState], t: Long, v: Double,
                          gap: Long): Vector[SessionState] =
    sessions.lastOption match {
      case Some(last) if t > last.end + gap =>
        sessions :+ SessionState(t, t, 1, v)
      case Some(last) if t >= last.start - gap && sessions.init.forall(t > _.end + gap) =>
        sessions.init :+ last.copy(start = math.min(last.start, t),
          end = math.max(last.end, t), n = last.n + 1, total = last.total + v)
      case None => Vector(SessionState(t, t, 1, v))
      case _ =>
        // straggler landing at/behind earlier sessions: general path
        val sorted = (sessions :+ SessionState(t, t, 1, v))
          .sortBy(s => (s.start, s.end))
        sorted.foldLeft(Vector.empty[SessionState]) { (acc, s) =>
          acc.lastOption match {
            case Some(p) if s.start - p.end <= gap =>
              acc.init :+ SessionState(p.start, math.max(p.end, s.end),
                p.n + s.n, p.total + s.total)
            case _ => acc :+ s
          }
        }
    }

  case class LatestRow(user_id: Long, last_type: String,
                       last_value: Double, last_ts: java.sql.Timestamp,
                       last_event_id: Long)

  /** CDC latest-per-key as continuously-maintained state — the
    * streaming twin of the batch compaction (EventQueries q95): each
    * micro-batch folds its events into a one-row-per-key state and
    * emits the key's current winner (Update output mode downstream).
    * Ordering is (ts, event_id) — `Timestamp.compareTo` carries the
    * nanos field, so sub-millisecond order survives the encoder — and
    * ties cannot flap for the same reason q95's can't: the sort key is
    * unique. State is O(1) per key forever (one row), so the query
    * runs indefinitely without watermark eviction; at 100 TB of keys
    * the state store shards by key exactly like the batch shuffle. */
  def latestPerKey(events: Dataset[Event]): Dataset[LatestRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[LatestRow, LatestRow](GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[LatestRow]) =>
          def newer(a: LatestRow, b: LatestRow): Boolean = {
            val c = a.last_ts.compareTo(b.last_ts)
            c > 0 || (c == 0 && a.last_event_id > b.last_event_id)
          }
          var best = state.getOption.orNull
          it.foreach { e =>
            val cand = LatestRow(userId, e.event_type, e.value, e.ts, e.event_id)
            if (best == null || newer(cand, best)) best = cand
          }
          state.update(best)
          best
      }
  }

  case class Change(id: Long, seq: Long, op: String, payload: String)
  case class ViewRow(id: Long, alive: Boolean, payload: String, seq: Long)

  /** Continuously-maintained MERGE view — the streaming form of
    * [[graft.operators.Maintenance.applyChanges]]: a CDC change feed
    * (id, seq, op ∈ 'upsert'|'delete', payload) folds into one
    * highest-seq row per key, emitted on every change (Update mode).
    * Deletes surface as TOMBSTONES (`alive = false`) rather than
    * silent absence — a downstream sink needs the tombstone to delete
    * its own copy, and state must keep the delete's seq so a
    * STRAGGLER: an upsert with a lower seq arriving in a later
    * micro-batch must not resurrect the key (the cross-batch
    * out-of-order case the spec pins; batch applyChanges gets the
    * same answer from its rank window because it sees all changes at
    * once — here arrival order and seq order genuinely differ).
    *
    * State is O(1) per key forever (the one winning row), sharded by
    * key in the state store exactly like the batch merge's shuffle —
    * the [[latestPerKey]] stance with op-awareness added. */
  def cdcView(changes: Dataset[Change]): Dataset[ViewRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.id)
      .mapGroupsWithState[ViewRow, ViewRow](GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[Change], state: GroupState[ViewRow]) =>
          var best = state.getOption.orNull
          it.foreach { c =>
            if (best == null || c.seq > best.seq)
              best = ViewRow(id, c.op == "upsert", c.payload, c.seq)
          }
          state.update(best)
          best
      }
  }

  case class RollupChange(id: Long, seq: Long, op: String, g: String, v: Long)
  case class RollupDelta(g: String, dn: Long, ds: Long)
  case class DocState(g: String, v: Long, seq: Long, alive: Boolean)

  /** The streaming half of incremental view maintenance
    * ([[graft.operators.Maintenance.incrementalRollup]]): turn a CDC
    * stream into a stream of SIGNED rollup deltas — the prior state
    * of a changed key retracts (−1, −v) from its group, the new
    * winning upsert adds (+1, +v) — so `baseRollup ⊎ Σ(deltas)` is
    * the refreshed per-group count+sum at any point, and folding an
    * accumulated delta log into the rollup is exactly
    * `incrementalRollup`'s merge (the lakehouse delta-log +
    * compaction shape).
    *
    * State is the [[cdcView]] contract per key — one (group, value,
    * seq, alive) record forever, tombstones kept so a lower-seq
    * straggler can neither resurrect a deleted key NOR emit a stale
    * delta (it leaves state untouched and emits nothing). Multiple
    * changes to one key inside a micro-batch fold to their net
    * effect: retract pre-batch state once, add the batch's winning
    * upsert once — never intermediate churn. Emitted in Append mode,
    * so the delta stream composes with a downstream summing
    * aggregation or a file sink (the delta log). */
  def cdcRollupDeltas(changes: Dataset[RollupChange]): Dataset[RollupDelta] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.id)
      .flatMapGroupsWithState[DocState, RollupDelta](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (id: Long, it: Iterator[RollupChange], state: GroupState[DocState]) =>
          val pre = state.getOption
          var best: RollupChange = null
          it.foreach { c =>
            if (best == null || c.seq > best.seq) best = c
          }
          if (best == null || pre.exists(_.seq >= best.seq)) Iterator.empty
          else {
            val next = DocState(best.g, best.v, best.seq, best.op == "upsert")
            state.update(next)
            val retract = pre.filter(_.alive)
              .map(p => RollupDelta(p.g, -1L, -p.v))
            val add = if (next.alive) Some(RollupDelta(next.g, 1L, next.v))
                      else None
            (retract.toSeq ++ add.toSeq).iterator
          }
      }
  }

  case class FunnelState(stage: Int, sinceMs: Long, sinceNanos: Int)
  case class FunnelRow(user_id: Long, stage: Long)

  /** Fold a batch of events (ANY arrival order) into a funnel state:
    * sort by full-precision event time, then per stage take the FIRST
    * eligible event in time order — i.e. the MIN eligible timestamp,
    * exactly the batch funnel's `min(ts) where ts >= t_prev` chaining
    * (q89). The scan restarts after each advance; a single
    * continue-forward pass would be greedy, not minimal — with
    * stages (view, signup) and events signup@100, view@100,
    * signup@200 (sort order puts the tied signup first), a forward
    * scan passes signup@100 before view@100 opens the stage and then
    * grabs signup@200, while the batch funnel chains t2 = min signup
    * >= 100 = 100. Shared by [[funnelState]] (per micro-batch) and
    * [[funnelStateBuffered]] (per watermark-released slice); O(stages
    * · events) like the re-scan bound it replaces. */
  private def foldFunnel(init: FunnelState, events: Seq[Event],
                         stages: Seq[String]): FunnelState = {
    val evs = events.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var s = init
    var progressed = true
    while (progressed && s.stage < stages.length) {
      progressed = false
      evs.find { e =>
        e.event_type == stages(s.stage) &&
          (e.ts.getTime > s.sinceMs ||
            (e.ts.getTime == s.sinceMs && e.ts.getNanos >= s.sinceNanos))
      }.foreach { e =>
        s = FunnelState(s.stage + 1, e.ts.getTime, e.ts.getNanos)
        progressed = true
      }
    }
    s
  }

  /** Real-time ordered funnel — the streaming twin of the batch
    * funnel (EventQueries q89): per user, a stage counter advances
    * when the NEXT stage's event arrives at-or-after the time the
    * previous stage completed (order-aware: a purchase before the
    * signup doesn't convert). Each micro-batch folds its events in
    * event-time order into the per-user state and emits the current
    * stage (Update mode); `stage = k` means the first k funnel steps
    * completed in order.
    *
    * State is O(1) per user forever (a counter + one timestamp), so no
    * watermark eviction is needed. Within a batch the fold re-scans
    * until no stage advances (≤ stages.length passes), so equal-
    * timestamp chains resolve exactly as q89's `ts >= t_prev` does
    * regardless of event_id order. Cross-batch stragglers remain the
    * documented limit (the packDocStream stance): an event arriving in
    * a LATER batch than a successor stage's event cannot retroactively
    * re-chain the funnel — per-user in-order arrival (or an upstream
    * watermark sort) is assumed; the stream≡batch spec covers the
    * in-order case. For cross-batch out-of-order feeds use
    * [[funnelStateBuffered]], which trades bounded state for exact
    * reorder tolerance inside the watermark horizon. */
  def funnelState(events: Dataset[Event],
                  stages: Seq[String]): Dataset[FunnelRow] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelRow](GroupStateTimeout.NoTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelState]) =>
          // full-precision event-time order: getNanos carries the
          // sub-millisecond part getTime floors away (latestPerKey's
          // Timestamp.compareTo stance)
          val s = foldFunnel(
            state.getOption.getOrElse(FunnelState(0, Long.MinValue, 0)),
            it.toSeq, stages)
          state.update(s)
          FunnelRow(userId, s.stage.toLong)
      }
  }

  case class FunnelBufState(funnel: FunnelState, buf: Seq[Event])

  /** Watermark-buffered real-time funnel: [[funnelState]]'s documented
    * limit removed — events may arrive ACROSS micro-batches in any
    * order, as long as they're no later than the upstream watermark
    * delay. Events are held in per-user state until the watermark
    * passes their event time; only then are they folded, in full
    * event-time order, into the funnel counter — by which point no
    * earlier event can still arrive (that is the watermark contract),
    * so the fold is exactly the batch funnel's. A view landing one
    * batch AFTER its signup still converts (the case [[funnelState]]'s
    * tripwire documents away).
    *
    * The price is the buffer: state per user is O(events inside the
    * watermark horizon), not O(1) — bounded by the delay the caller
    * chose, evicted as the watermark advances (an `EventTimeTimeout`
    * wakes idle users so ripened events fold without new data).
    * Requires `withWatermark("ts", ...)` upstream in streaming mode;
    * in batch mode there is no watermark and end-of-data releases
    * everything (≡ the batch funnel). Emitted rows carry the stage
    * over RELEASED events only — a stage reached by still-buffered
    * events appears once the watermark confirms it, so downstream
    * always reads confirmed-final counters, one batch later than
    * [[funnelState]] would show them. */
  def funnelStateBuffered(events: Dataset[Event],
                          stages: Seq[String]): Dataset[FunnelRow] = {
    require(stages.nonEmpty, "need at least one funnel stage")
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelRow](
        OutputMode.Update, timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[FunnelBufState]) =>
          val prev = state.getOption.getOrElse(
            FunnelBufState(FunnelState(0, Long.MinValue, 0), Nil))
          val all = prev.buf ++ it.toSeq
          if (!streaming) {
            // no watermark exists in batch mode: end of data IS the
            // release point (nothing further can arrive)
            val s = foldFunnel(prev.funnel, all, stages)
            state.update(FunnelBufState(s, Nil))
            Iterator.single(FunnelRow(userId, s.stage.toLong))
          } else {
            val wm = state.getCurrentWatermarkMs()
            // release STRICTLY below the watermark: Spark only drops
            // arrivals with ts < wm, so an on-time event with ts ==
            // wm can still arrive — folding a tied event now could
            // chain a stage whose tied predecessor lands next batch
            val (ripe, young) = all.partition(_.ts.getTime < wm)
            val s = foldFunnel(prev.funnel, ripe, stages)
            state.update(FunnelBufState(s, young))
            if (young.nonEmpty)
              // wake when the earliest buffered event ripens (never
              // at/below the current watermark — Spark rejects it)
              state.setTimeoutTimestamp(
                math.max(young.map(_.ts.getTime).min, wm + 1))
            Iterator.single(FunnelRow(userId, s.stage.toLong))
          }
      }
  }

  case class TouchState(channel: String, sinceMs: Long, sinceNanos: Int,
                        eventId: Long)
  case class CreditedPurchase(user_id: Long, event_id: Long, channel: String,
                              value: Double)
  case class TouchBufState(touch: TouchState, buf: Seq[Event])

  /** Fold an in-event-time-order slice of one user's events into the
    * attribution state, crediting each purchase to the latest touch
    * seen so far ('direct' before any touch) — exactly the batch
    * q113 window's `last(non-purchase) over rows preceding` with the
    * same (ts, event_id) tie order: an equal-timestamp touch with a
    * smaller event_id precedes the purchase and wins the credit.
    * The stored touch's (time, event_id) is a MONOTONICITY guard
    * across slices: a touch can only advance the state, never regress
    * it — within the in-order/buffered contracts this never fires
    * (slices release in event-time order), but on a contract-violating
    * feed a stale touch arriving late cannot overwrite a newer one. */
  private def foldTouches(init: TouchState, events: Seq[Event])
      : (TouchState, Seq[CreditedPurchase]) = {
    val evs = events.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var t = init
    val out = Seq.newBuilder[CreditedPurchase]
    evs.foreach { e =>
      if (e.event_type == "purchase")
        out += CreditedPurchase(e.user_id, e.event_id, t.channel, e.value)
      else {
        val after = e.ts.getTime > t.sinceMs ||
          (e.ts.getTime == t.sinceMs &&
            (e.ts.getNanos > t.sinceNanos ||
              (e.ts.getNanos == t.sinceNanos && e.event_id > t.eventId)))
        if (after)
          t = TouchState(e.event_type, e.ts.getTime, e.ts.getNanos, e.event_id)
      }
    }
    (t, out.result())
  }
  private val NoTouch = TouchState("direct", Long.MinValue, 0, Long.MinValue)

  /** Continuous last-touch attribution — the streaming twin of the
    * batch attribution query (EventQueries q113, whose groupBy is the
    * downstream windowed count over these rows): each purchase is
    * emitted exactly once, credited to the user's latest preceding
    * non-purchase event. State is O(1) per user forever (the current
    * touch), no watermark eviction needed — the latestPerKey stance.
    *
    * Cross-batch stragglers are the documented limit, exactly
    * [[funnelState]]'s: a TOUCH arriving in a later micro-batch than
    * the purchase it should have credited cannot retroactively re-credit
    * (the purchase already emitted as whatever the state held). Per-user
    * in-order arrival is the contract; the stream≡batch spec covers it,
    * and [[attributionStateBuffered]] removes the limit at the price of
    * a watermark-horizon buffer. */
  def attributionState(events: Dataset[Event]): Dataset[CreditedPurchase] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, CreditedPurchase](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[TouchState]) =>
          val (t, credits) = foldTouches(
            state.getOption.getOrElse(NoTouch), it.toSeq)
          state.update(t)
          credits.iterator
      }
  }

  /** Watermark-buffered last-touch attribution: events may arrive
    * across micro-batches in any order within the watermark delay.
    * Purchases are held in per-user state until the watermark passes
    * their event time — by which point every touch that could precede
    * them has arrived (the watermark contract) — then credited in full
    * event-time order. Emitted credits are FINAL (Append semantics
    * downstream), one batch later than [[attributionState]] would show
    * them; state is O(events in the horizon) per user, evicted as the
    * watermark advances, with an `EventTimeTimeout` waking idle users
    * so ripened purchases credit without new data. Requires
    * `withWatermark("ts", ...)` upstream in streaming mode; in batch
    * mode end-of-data releases everything (≡ the batch q113). */
  def attributionStateBuffered(events: Dataset[Event])
      : Dataset[CreditedPurchase] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchBufState, CreditedPurchase](
        OutputMode.Append, timeoutConf) {
        (_: Long, it: Iterator[Event], state: GroupState[TouchBufState]) =>
          val prev = state.getOption.getOrElse(TouchBufState(NoTouch, Nil))
          val all = prev.buf ++ it.toSeq
          if (!streaming) {
            val (t, credits) = foldTouches(prev.touch, all)
            state.update(TouchBufState(t, Nil))
            credits.iterator
          } else {
            val wm = state.getCurrentWatermarkMs()
            // release STRICTLY below the watermark: Spark only
            // guarantees that later arrivals have ts >= wm, so an
            // on-time event with ts == wm can still arrive — a tied
            // purchase released now would miss a tied touch that
            // arrives next batch and be mis-credited 'direct'
            val (ripe, young) = all.partition(_.ts.getTime < wm)
            val (t, credits) = foldTouches(prev.touch, ripe)
            state.update(TouchBufState(t, young))
            if (young.nonEmpty)
              state.setTimeoutTimestamp(
                math.max(young.map(_.ts.getTime).min, wm + 1))
            credits.iterator
          }
      }
  }

  case class EwmaRow(event_id: Long, user_id: Long, cents: Long,
                     ewma_num: Long, ewma_cents: Long)
  case class EwmaState(taps: Seq[Long])

  /** Fold an in-event-time-order slice of one user's events into the
    * EWMA tap buffer, emitting the batch q120 row for every event
    * whose 8-tap history is complete. `taps` is newest-first and
    * capped at 7 between events (the current event is tap 0). */
  private def foldEwma(init: Seq[Long], events: Seq[Event])
      : (Seq[Long], Seq[EwmaRow]) = {
    val evs = events.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    var taps = init
    val out = Seq.newBuilder[EwmaRow]
    evs.foreach { e =>
      val c = math.floor(e.value * 100.0).toLong
      val window = c +: taps
      if (window.length == 8) {
        val num = window.zipWithIndex
          .map { case (x, k) => x << (7 - k) }.sum
        out += EwmaRow(e.event_id, e.user_id, c, num,
          Math.floorDiv(num, 255L))
      }
      taps = window.take(7)
    }
    (taps, out.result())
  }

  /** Continuous dyadic EWMA — the streaming twin of the batch q120
    * window ([[graft.ops.EventQueries.ewmaSmoothed]]): every event
    * with a complete 8-tap history emits its smoothed value exactly
    * once, in exact BIGINT cents arithmetic (weights 128…1 newest
    * first, floor quotient /255 — Math.floorDiv ≡ the batch side's
    * pmod-subtract ≡ DuckDB's //). State is O(1) per user forever:
    * the last 7 cents, nothing else — the latestPerKey stance, no
    * watermark eviction needed.
    *
    * Per-user in-order arrival across micro-batches is the contract
    * (the [[attributionState]] stance): a straggler folding late
    * would smooth with the wrong history. Within a batch, slices are
    * sorted in full event-time order before folding. The
    * stream≡batch spec pins the equivalence on the fixture. */
  def ewmaState(events: Dataset[Event]): Dataset[EwmaRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[Event], state: GroupState[EwmaState]) =>
          val (taps, rows) = foldEwma(
            state.getOption.map(_.taps).getOrElse(Nil), it.toSeq)
          state.update(EwmaState(taps))
          rows.iterator
      }
  }

  /** Arbitrary-stateful sessionization with `flatMapGroupsWithState`:
    * the KeyValueGroupedDataset custom-state path for semantics the
    * built-in session_window can't express (e.g. emitting per-session
    * running aggregates, per-key timeout policies).
    *
    * Batch mode: one invocation sees the user's full history; the
    * still-open session is emitted at end-of-data (end of data closes
    * every session).
    *
    * Streaming mode: sessions may span micro-batches, so open sessions
    * STAY in state — a SET of disjoint intervals, not just the newest
    * one: when the watermark delay exceeds the gap, a straggler can
    * arrive more than `gap` before the newest session's start, and it
    * must open its own session rather than be coalesced into an
    * unrelated one (which would diverge from the batch oracle's sorted
    * sessionization). A session is emitted exactly once, when the
    * watermark passes its `end + gap` close horizon — no event that
    * could still merge into it (all arrive at/after the watermark) can
    * exist past that point, which is also why two open sessions can
    * never retroactively fuse after one is emitted. Requires
    * `withWatermark("ts", ...)` upstream (EventTimeTimeout's
    * contract). */
  def userSessions(events: Dataset[Event], gapMillis: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming
    val gapUs = gapMillis * 1000L
    val timeoutConf =
      if (streaming) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    def emit(userId: Long, s: SessionState): UserSession =
      UserSession(userId, microsTs(s.start), microsTs(s.end), s.n, s.total)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionsState, UserSession](
        OutputMode.Append, timeoutConf) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionsState]) =>
          // one code path for new-data and timeout invocations: fold
          // any events into the disjoint session set, then emit every
          // session the watermark has closed (on timeout the iterator
          // is empty and this reduces to close-and-emit).
          // Session arithmetic runs in MICROS (tsMicros carries the
          // Timestamp nanos field) — a millis fold would truncate
          // sub-ms gaps and silently diverge from the batch q125
          // derivation, which is exact in epoch-micros; the
          // equivalence is spec-pinned on the fixture.
          var sessions: Vector[SessionState] =
            state.getOption.map(_.sessions.toVector).getOrElse(Vector.empty)
          it.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
            sessions = insertEvent(sessions, tsMicros(e.ts), e.value, gapUs)
          }
          if (!streaming) {
            // end of data closes every session
            sessions.sortBy(_.start).iterator.map(emit(userId, _))
          } else {
            val wm = state.getCurrentWatermarkMs()
            val (closed, open) = sessions.partition(_.end + gapUs < wm * 1000L)
            if (open.nonEmpty) {
              state.update(SessionsState(open))
              // wake when the earliest open session's horizon passes:
              // ceil the micros horizon to millis so the wakeup never
              // fires BEFORE the close condition holds, and never set
              // a timeout at/below the current watermark — Spark
              // rejects it
              val horizonMs = Math.floorDiv(
                open.map(_.end + gapUs).min + 999L, 1000L)
              state.setTimeoutTimestamp(math.max(horizonMs + 1L, wm + 1L))
            } else if (state.exists) state.remove()
            closed.sortBy(_.start).iterator.map(emit(userId, _))
          }
      }
  }

  /** Timestamp → epoch micros, nanos field included (the sub-ms
    * precision `Timestamp.getTime` alone would truncate). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Exact inverse of [[tsMicros]]. */
  private def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
