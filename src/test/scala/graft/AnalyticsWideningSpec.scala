package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph
import graft.ops.{EventQueries, Relational, TextQueries}

/** Contracts for the round-7 widening queries (q110–q114): the
  * two-stage windowed skyline reproduces the quadratic dominance
  * definition exactly, edit-distance blocking caps its worst case,
  * Simpson diversity hits its closed-form anchors, attribution
  * resolves crafted touch chains, and the decimal-stats regression
  * agrees with Spark's own streaming regr_* aggregates. */
class AnalyticsWideningSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("q110 skyline equals the brute-force dominance filter") {
    // the oracle's NOT EXISTS, replayed in Spark as an anti-join over
    // the raw fixture — the definition the windowed plan must match
    val o = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderdate".as("d"), $"o_totalprice".as("p"))
    val dominated = o.as("a").join(o.as("b"),
        $"b.d" <= $"a.d" && $"b.p" >= $"a.p" &&
          ($"b.d" < $"a.d" || $"b.p" > $"a.p"), "left_semi")
      .select($"a.o_orderkey")
    val brute = o.join(dominated, Seq("o_orderkey"), "left_anti")
      .select($"o_orderkey").as[Long].collect().toSet
    val sky = Relational.q110Skyline(spark, dir)
      .select($"o_orderkey").as[Long].collect().toSet
    assert(sky == brute, s"windowed=${sky.size} brute=${brute.size}")
    assert(sky.nonEmpty)
  }

  test("skyline dominance is full-timestamp, not calendar-day") {
    // two same-day orders at different hours: the NOT-EXISTS
    // definition keeps BOTH (the 10:00/1000 row does not dominate the
    // 05:00/900 row — it is later), and a day-binned plan would
    // wrongly drop the 05:00 row as "not its day's max"
    val synth = Seq(
      (1L, java.sql.Timestamp.valueOf("1992-03-04 05:00:00"), 900.0),
      (2L, java.sql.Timestamp.valueOf("1992-03-04 10:00:00"), 1000.0),
      (3L, java.sql.Timestamp.valueOf("1992-03-05 00:00:00"), 500.0)
    ).toDF("o_orderkey", "o_orderdate", "o_totalprice")
    val keys = Relational.skylineFrontier(synth)
      .select($"o_orderkey").as[Long].collect().toSet
    assert(keys == Set(1L, 2L),
      s"full-precision dominance must keep the earlier cheaper row: $keys")
  }

  test("two-stage skyline equals the single-pass global frontier at synthetic volume") {
    // the decomposition claim (local frontier per month, then global
    // over survivors) at a volume where the quadratic brute force
    // can't run: both formulations are window-based, so equality here
    // is evidence the month partitioning loses nothing — 20k
    // hash-dated rows, ~7 years of dates
    import org.apache.spark.sql.expressions.Window
    val synth = spark.range(20000L).select(
      $"id".as("o_orderkey"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"),
        pmod(hash($"id"), lit(2557)).cast("int"))).as("o_orderdate"),
      pmod(hash($"id" * 7), lit(1000000)).cast("double").as("o_totalprice"))
    val twoStage = Relational.skylineFrontier(synth)
      .select($"o_orderkey").as[Long].collect().toSet
    // single global pass: day-max + strictly-better-than-every-
    // earlier-day, no month decomposition
    val base = synth.select($"o_orderkey",
      datediff($"o_orderdate".cast("date"), lit("1970-01-01").cast("date")).as("day"),
      $"o_totalprice")
    val dayMax = Window.partitionBy($"day")
    val prev = Window.orderBy($"day")
      .rangeBetween(Window.unboundedPreceding, -1)
    val single = base
      .withColumn("dm", max($"o_totalprice").over(dayMax))
      .withColumn("pm", max($"o_totalprice").over(prev))
      .filter($"o_totalprice" === $"dm" && ($"pm".isNull || $"o_totalprice" > $"pm"))
      .select($"o_orderkey").as[Long].collect().toSet
    assert(twoStage == single, s"two-stage=${twoStage.size} single=${single.size}")
    assert(twoStage.nonEmpty)
  }

  test("q110 skyline keeps equal (date, price) twins — neither dominates") {
    val sky = Relational.q110Skyline(spark, dir).collect()
    // determinism under re-run (window plans have no order ambiguity)
    val again = Relational.q110Skyline(spark, dir).collect()
    assert(sky.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("edit-distance pairs: finds close pairs, drops oversized blocks and non-ASCII") {
    val prefix = "the quick brown fox jump" // exactly 24 chars
    val docs = Seq(
      (1L, prefix + "s over the lazy dog tonight"),
      (2L, prefix + "s over the lazy cat tonight"), // lev 3 from doc 1
      (3L, "completely different text with no shared prefix at all"),
      (4L, prefix + "x " + ("y" * 300)), // same block, far beyond maxDist
      (5L, "héllo non-ascii twin one two three"),
      (6L, "héllo non-ascii twin one two threx")
    ).toDF("doc_id", "text")
    val pairs = TextQueries.editDistancePairs(docs)
      .select($"d1", $"d2", $"lev").as[(Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 2L)),
      s"expected only the (1,2) pair, got $pairs")
    assert(pairs.head._3 == 3L) // dog→cat = 3 substitutions
    // an oversized block (boilerplate header skew) is dropped entirely:
    // 65 docs sharing the block key yield zero pairs, not 65·64/2
    val big = (0 until 65).map(i => (100L + i, prefix + s" variant $i"))
      .toDF("doc_id", "text")
    assert(TextQueries.editDistancePairs(big).count() == 0)
    // one under the cap and the pairs appear
    val okSized = (0 until 64).map(i => (100L + i, prefix + s" variant $i"))
      .toDF("doc_id", "text")
    assert(TextQueries.editDistancePairs(okSized).count() == 64L * 63 / 2)
  }

  test("token diversity: closed-form anchors and range") {
    val docs = Seq(
      (1L, "a a a a"),       // one distinct token → 0
      (2L, "a b c d"),       // all distinct, n=4 → 1 − 4/16 = 0.75
      (3L, "a a b b")        // 1 − (4+4)/16 = 0.5
    ).toDF("doc_id", "text")
    val m = TextQueries.tokenDiversity(docs)
      .select($"doc_id", $"diversity").as[(Long, Double)].collect().toMap
    assert(m(1L) == 0.0 && m(2L) == 0.75 && m(3L) == 0.5)
    val fx = TextQueries.q112TokenDiversity(spark, dir)
      .agg(min($"diversity"), max($"diversity")).as[(Double, Double)].head()
    assert(fx._1 >= 0.0 && fx._2 < 1.0)
  }

  test("attribution: latest preceding touch wins; untouched purchases are 'direct'") {
    def ev(id: Long, sec: Long, user: Long, tpe: String, v: Double) =
      (id, new java.sql.Timestamp(sec * 1000), user, tpe, v)
    val events = Seq(
      // user 1: view → click → purchase (credit: click, the LATEST)
      ev(1, 100, 1, "view", 0), ev(2, 200, 1, "click", 0),
      ev(3, 300, 1, "purchase", 10.0),
      // user 1 buys again with no new touch: the click still carries
      ev(4, 400, 1, "purchase", 5.0),
      // user 2: purchase before any touch → direct
      ev(5, 50, 2, "purchase", 2.5),
      // user 2 then touches and buys → view
      ev(6, 60, 2, "view", 0), ev(7, 70, 2, "purchase", 1.5)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val byChannel = EventQueries.attribution(events).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(byChannel("click") == ((2L, 15.0)))
    assert(byChannel("direct") == ((1L, 2.5)))
    assert(byChannel("view") == ((1L, 1.5)))
    assert(!byChannel.contains("purchase"))
  }

  test("attributionState in batch mode reproduces the batch q113 channel rollup") {
    import graft.streaming.EventStreams
    val evs = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    def rollup(credits: org.apache.spark.sql.Dataset[EventStreams.CreditedPurchase]) =
      credits.groupBy($"channel")
        .agg(count(lit(1)).as("n"),
          sum($"value".cast("decimal(12,2)")).cast("double").as("rev"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2))))
        .toMap
    val streamed = rollup(EventStreams.attributionState(evs))
    val buffered = rollup(EventStreams.attributionStateBuffered(evs))
    val batch = EventQueries.q113Attribution(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed == batch)
    assert(buffered == batch)
  }

  test("attributionStateBuffered credits a purchase whose touch lands a batch late") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.EventStreams
    def ev(id: Long, sec: Long, user: Long, tpe: String, v: Double) =
      EventStreams.Event(id, new java.sql.Timestamp(sec * 1000), user, tpe, v)
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.attributionStateBuffered(
        ms.toDS().withWatermark("ts", "10 seconds"))
      .writeStream.outputMode("append")
      .format("memory").queryName("buf_attr").start()
    try {
      // the purchase arrives a batch BEFORE the click that should get
      // the credit — attributionState would emit it as 'direct'
      ms.addData(ev(1, 105, 1, "purchase", 9.0))
      q.processAllAvailable()
      ms.addData(ev(2, 100, 1, "click", 0.0)) // late, inside the delay
      q.processAllAvailable()
      // watermark carriers: lift the wm past 105, then fire the idle
      // user's event-time timeout so the ripened purchase credits
      ms.addData(ev(3, 120, 99, "view", 0.0))
      q.processAllAvailable()
      ms.addData(ev(4, 121, 99, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("buf_attr").filter($"user_id" === 1)
        .select($"event_id", $"channel").as[(Long, String)].collect().toSet
      assert(rows == Set((1L, "click")),
        s"late click inside the watermark must win the credit, got $rows")
    } finally q.stop()
  }

  test("ewmaState in batch mode reproduces the batch q120 rows exactly") {
    import graft.streaming.EventStreams
    val evs = Tables.events(spark, dir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val streamed = EventStreams.ewmaState(evs)
      .collect().map(r => (r.event_id, r.user_id, r.cents, r.ewma_num,
        r.ewma_cents)).toSet
    val batch = EventQueries.q120Ewma(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("ewmaState across micro-batches: taps persist, each row emits once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.EventStreams
    def ev(id: Long, sec: Long, v: Double) =
      EventStreams.Event(id, new java.sql.Timestamp(sec * 1000), 1L, "view", v)
    val ms = MemoryStream[EventStreams.Event]
    val q = EventStreams.ewmaState(ms.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("ewma_state").start()
    try {
      // batch 1: 7 events — nothing can emit yet
      ms.addData((1 to 7).map(i => ev(i, i * 10, 2.00)): _*)
      q.processAllAvailable()
      assert(spark.table("ewma_state").count() == 0L)
      // batch 2: two more — events 8 and 9 complete their 8-tap
      // histories using state carried across the batch boundary
      ms.addData(ev(8, 80, 2.00), ev(9, 90, 2.00))
      q.processAllAvailable()
      val rows = spark.table("ewma_state")
        .select($"event_id", $"ewma_num", $"ewma_cents")
        .as[(Long, Long, Long)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(8L, 9L))
      assert(rows.forall(r => r._2 == 255L * 200L && r._3 == 200L))
    } finally q.stop()
  }

  test("quantile bins: per-flag counts balance to within one row and bins order by value") {
    val bins = Relational.q115QuantileBins(spark, dir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    bins.groupBy(_._1).foreach { case (flag, rows) =>
      assert(rows.length == 8, s"$flag must fill all 8 tiles")
      val ns = rows.map(_._3)
      assert(ns.max - ns.min <= 1, s"$flag tile sizes must differ by <= 1: ${ns.toSeq}")
      // tiles partition the SORTED ORDER: bin k's max value can never
      // exceed bin k+1's min (ties may make them equal — rows with
      // the same price can straddle a tile boundary, split by the
      // unique tie-break keys)
      val byBin = rows.sortBy(_._2)
      byBin.sliding(2).foreach { case Array(a, b) =>
        assert(a._5 <= b._4,
          s"$flag: bin ${a._2} hi=${a._5} must be <= bin ${b._2} lo=${b._4}")
      }
    }
    val total = bins.map(_._3).sum
    val nRows = Tables.lineitem(spark, dir).count()
    assert(total == nRows, "tiles must partition every row exactly once")
  }

  test("rolling anomaly: spike against a flat baseline flags; flat series never does") {
    def ev(id: Long, sec: Long, user: Long, v: Double) =
      (id, new java.sql.Timestamp(sec * 1000), user, "x", v)
    val events = (
      // user 1: five 10.00 baseline events, then a 50.00 spike —
      // dev = 5*5000-5*1000... flags (variance 0, deviation huge)
      (1 to 5).map(i => ev(i, i * 10, 1, 10.0)) ++ Seq(ev(6, 60, 1, 50.0)) ++
      // user 2: seven identical values — dev = 0, var = 0, 0 > 0 is
      // false, so a perfectly flat series NEVER flags (the classic
      // zero-variance division trap, sidestepped by the multiply form)
      (1 to 7).map(i => ev(100 + i, i * 10, 2, 25.0))
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventQueries.rollingAnomaly(events).collect()
      .map(r => r.getLong(0) -> r.getInt(5)).toMap
    assert(out(6L) == 1, "the spike must flag")
    assert(out.filterKeys(_ != 6L).values.forall(_ == 0),
      "no flat-baseline row may flag")
    // rows 1-5 of user 1 and 101-105 of user 2 have short baselines
    // and must be absent entirely
    assert(!out.contains(1L) && !out.contains(101L) && out.contains(107L))
  }

  test("source drift: a concentrated source scores above a corpus-shaped one; empty bins count") {
    // corpus: lengths spread 100..1299 across two balanced sources,
    // plus a third source concentrated in one narrow band
    val docs = (
      (0 until 300).map(i => (i.toLong, "spread_a", 100L + (i * 4) % 1200)) ++
      (0 until 300).map(i => (1000L + i, "spread_b", 102L + (i * 4) % 1200)) ++
      (0 until 100).map(i => (2000L + i, "narrow", 100L + (i % 10)))
    ).toDF("doc_id", "source", "n_chars")
    val drift = TextQueries.sourceDrift(docs).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (_, chiNarrow, binsNarrow) = drift("narrow")
    val (_, chiA, _) = drift("spread_a")
    assert(chiNarrow > chiA * 5,
      s"concentrated source must dominate: narrow=$chiNarrow spread=$chiA")
    // the dense grid is load-bearing: 'narrow' occupies 1 bin but is
    // scored over every occupied bin (its zero-count bins contribute)
    assert(binsNarrow == 12L)
  }

  test("group regression agrees with Spark's own regr_* aggregates") {
    // Spark's regr_slope/regr_intercept/regr_r2 stream doubles in
    // partition order — unusable under the hash gate, but a fine
    // 1e-9 cross-check that the decimal-stats formulas are the same
    // model (the q88 stat.corr stance)
    val ours = Relational.q114GroupRegression(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    val ref = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(expr("regr_slope(l_extendedprice, l_quantity)").as("s"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("i"),
        expr("regr_r2(l_extendedprice, l_quantity)").as("r"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(ours.keySet == ref.keySet)
    for ((k, (s, i, r)) <- ours) {
      val (s2, i2, r2) = ref(k)
      assert(math.abs(s - s2) <= 1e-9 * math.max(1.0, math.abs(s2)), s"slope $k")
      assert(math.abs(i - i2) <= 1e-9 * math.max(1.0, math.abs(i2)), s"intercept $k")
      assert(math.abs(r - r2) <= 1e-9, s"r2 $k")
    }
  }

  test("triangle census counts crafted graphs exactly") {
    def sym(pairs: (String, String)*) = {
      val und = pairs.toSeq
      (und ++ und.map(_.swap)).toDF("src", "dst")
    }
    // triangle abc plus pendant edge c-d: one triangle
    val g1 = Graph.triangleCensus(
      sym(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"))).collect()(0)
    assert((g1.getLong(0), g1.getLong(1), g1.getLong(2)) == ((4L, 4L, 1L)))
    // K4: C(4,3) = 4 triangles
    val k4 = Graph.triangleCensus(
      sym(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
        ("c", "d"))).collect()(0)
    assert((k4.getLong(0), k4.getLong(1), k4.getLong(2)) == ((4L, 6L, 4L)))
    // star K1,5: many wedges at the hub in the UNORIENTED view, zero
    // triangles — and orientation kills even the wedges (the hub is
    // the highest-degree node, so every edge points AT it and no node
    // has out-degree 2)
    val star = Graph.triangleCensus(
      sym(("h", "a"), ("h", "b"), ("h", "c"), ("h", "d"), ("h", "e")))
      .collect()(0)
    assert((star.getLong(0), star.getLong(1), star.getLong(2)) == ((6L, 5L, 0L)))
  }

  test("ewma smoothing: dyadic weights, 8-event warmup, floor parity") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: nine constant-value events — EWMA of a constant is the
    // constant (num = 255·c); first emission at the 8th event.
    // user 2: seven events, never emitted.
    val evs = ((1 to 9).map(i => (i.toLong, t(i), 1L, 2.00)) ++
      (11 to 17).map(i => (i.toLong, t(i), 2L, 5.00)))
      .toDF("event_id", "ts", "user_id", "value")
    val out = EventQueries.ewmaSmoothed(evs)
      .select($"event_id", $"user_id", $"ewma_num", $"ewma_cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.forall(_._2 == 1L), "7-event user must be omitted")
    assert(out.map(_._1).sorted.toSeq == Seq(8L, 9L), "emits from the 8th event")
    assert(out.forall(r => r._3 == 255L * 200L && r._4 == 200L))
    // ramp 1.00,2.00,…,8.00: num at event 8 = Σ (900-100k)·2^(7-k)...
    // computed by hand: cents 100..800, weights newest-first
    val ramp = (1 to 8).map(i => (i.toLong, t(i), 3L, i * 1.00))
      .toDF("event_id", "ts", "user_id", "value")
    val r8 = EventQueries.ewmaSmoothed(ramp).select($"ewma_num")
      .as[Long].collect()(0)
    val expected = (0 until 8).map(k => (800L - 100L * k) << (7 - k)).sum
    assert(r8 == expected)
    // negative values: floor(-0.015·100) = -2 (floor, not truncate),
    // and ewma_cents floors the quotient the same way DuckDB's //
    // does — pin the Spark side's value here
    val neg = (1 to 8).map(i => (i.toLong, t(i), 4L, -0.015))
      .toDF("event_id", "ts", "user_id", "value")
    val nr = EventQueries.ewmaSmoothed(neg)
      .select($"cents", $"ewma_num", $"ewma_cents").collect()(0)
    assert(nr.getLong(0) == -2L)
    assert(nr.getLong(1) == -2L * 255L)
    assert(nr.getLong(2) == -2L)
  }

  test("winsorized stats clip exactly at the discrete quantile bounds") {
    val out = Relational.q119Winsorize(spark, dir).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.nonEmpty)
    // brute-force replay per group: sort cents, index the ⌈qn⌉-th
    // value (1-based), clip, sum
    val cents = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        floor($"l_extendedprice" * lit(100.0)).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
    for ((flag, sortedC) <- cents) {
      val n = sortedC.length.toLong
      val lo = sortedC(((n * 5 + 99) / 100).toInt - 1)
      val hi = sortedC(((n * 95 + 99) / 100).toInt - 1)
      val wsum = sortedC.map(c => math.max(lo, math.min(hi, c))).sum
      assert(out(flag) == ((n, lo, hi, wsum)), s"group $flag")
    }
  }

  test("key-skew audit: exact Gini on crafted and fixture keys") {
    // fixture invariants: 0 <= gini_num <= gini_den, max >= total/n
    val rows = Relational.q121KeySkew(spark, dir).collect()
    assert(rows.length == 2)
    for (r <- rows) {
      val (n, tot, mx, num, den) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(num >= 0L && num <= den, s"${r.getString(0)}: $num/$den")
      assert(mx * n >= tot)
    }
    // closed forms: uniform counts -> Gini 0; one key owns all but
    // n-1 singletons -> Gini -> (near) upper bound
    def gini(counts: Seq[Long]): (Long, Long) = {
      val xs = counts.sorted
      val n = xs.length.toLong
      val tot = xs.sum
      val w = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      (2 * w - (n + 1) * tot, n * tot)
    }
    val (eqNum, _) = gini(Seq(5L, 5L, 5L, 5L))
    assert(eqNum == 0L)
    val (skNum, skDen) = gini(Seq(1L, 1L, 1L, 97L))
    assert(skNum * 10 > skDen * 7, "one dominant key must push Gini over 0.7")
  }

  test("rrf fusion: integer reciprocal-rank scores, absent leg is 0") {
    // sf0.01, not the suite's sf0.001: the larger fixture is the one
    // whose keyword and vector top-20s overlap, so the both-legs
    // fusion path actually executes (cheap — 5k docs, 500 vectors)
    val rows = graft.ops.SimilarityQueries.q122Rrf(spark, "/root/testdata/sf0.01")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 40)
    for ((id, kr, vr, rrf) <- rows) {
      assert(kr >= 0L && kr <= 20L && vr >= 0L && vr <= 20L, s"doc $id")
      val expect = (if (kr > 0) 1000000L / (60L + kr) else 0L) +
        (if (vr > 0) 1000000L / (60L + vr) else 0L)
      assert(rrf == expect, s"doc $id: $rrf != $expect")
      assert(kr > 0L || vr > 0L, s"doc $id in neither leg")
    }
    // both-leg docs outrank single-leg docs of equal rank sum; at
    // minimum SOME doc must appear in both legs on this fixture for
    // the fusion to be exercised
    assert(rows.exists(r => r._2 > 0L && r._3 > 0L),
      "fixture must exercise the both-legs fusion path")
  }

  test("seasonal backtest: lag-7 wins a planted weekly cycle; gap days score no forecast") {
    import graft.ops.EventQueries
    // 28 days of a strict weekly cycle (period-7 pattern, amplitude
    // >> lag-1 step): seasonal naive is EXACT (sae_lag7 = 0), lag-1
    // pays the daily step every scored day
    val cycle = Array(100, 100, 100, 100, 100, 400, 400)
    def tsOf(day: Int) = java.sql.Timestamp.valueOf(f"2024-03-${day + 1}%02d 12:00:00")
    val weekly = (0 until 28).flatMap(d =>
      Seq.fill(cycle(d % 7))(("wk", tsOf(d), 1L)))
    // a second series with day 9 MISSING entirely: days 10 and 16
    // would need origin day 9 for lag-1/lag-7 and must not be scored
    // against a row-offset neighbor
    val gappy = (0 until 28).filter(_ != 9).flatMap(d =>
      Seq.fill(10 + d)(("gap", tsOf(d), 1L)))
    val events = (weekly ++ gappy).toDF("event_type", "ts", "user_id")
    val got = EventQueries.seasonalBacktest(events).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    val (nW, sae1W, sae7W, winW) = got("wk")
    // scored days: 7..27 (need both day-1 and day-7) = 21 days
    assert(nW == 21L, s"weekly scored $nW days")
    assert(sae7W == 0L && winW == "lag7")
    // cycle edges among scored days 7..27: d%7==0 at d=7,14,21 and
    // d%7==5 at d=12,19,26 — six |400-100| steps
    assert(sae1W == 6 * 300L,
      s"lag-1 must pay the cycle edges, got $sae1W")
    val (nG, sae1G, _, _) = got("gap")
    // gap series: days 7..27 minus day 9 itself, minus day 10 (no
    // day-9 lag-1 origin) and day 16 (no day-9 lag-7 origin) = 18
    assert(nG == 18L, s"gappy scored $nG days")
    // linear series: every scored lag-1 error is exactly 1
    assert(sae1G == 18L, s"linear series lag-1 SAE must be n_days, got $sae1G")
  }
}
