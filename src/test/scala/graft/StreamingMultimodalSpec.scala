package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal
import graft.streaming.EventStreams

class StreamingMultimodalSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private lazy val events = Tables.events(spark, sf)

  test("streaming tumbling agg equals the batch plan (memory sink, available-now)") {
    val streamDf = EventStreams.streamingTumbling(spark, sf, "1 hour", "2 hours")
    val q = streamDf.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("stream_tumbling")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("stream_tumbling")
      .collect().map(_.toSeq).toSet
    val batch = EventStreams.tumblingAgg(events, "1 hour")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("watermark bounds state: append mode emits only closed windows") {
    val streamDf = EventStreams.streamingTumbling(spark, sf, "1 hour", "2 hours")
    val q = streamDf.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("stream_append")
      .start()
    try q.processAllAvailable() finally q.stop()
    // all but the watermark-open tail must be emitted
    val emitted = spark.table("stream_append").count()
    val total = EventStreams.tumblingAgg(events, "1 hour").count()
    assert(emitted > 0 && emitted <= total)
  }

  test("flatMapGroupsWithState sessionization agrees with session_window") {
    import spark.implicits._
    val typed = events
      .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
        $"event_type", $"value")
      .as[EventStreams.Event]
    val custom = EventStreams.userSessions(typed, gapMillis = 30 * 60 * 1000)
      .select($"user_id",
        date_format($"session_start", "yyyy-MM-dd HH:mm:ss").as("session_start"),
        $"n_events")
      .collect().map(_.toSeq).toSet
    val builtin = EventStreams.sessionAgg(events, "30 minutes")
      .select($"user_id", $"session_start", $"n_events")
      .collect().map(_.toSeq).toSet
    assert(custom == builtin,
      s"missing=${(builtin -- custom).take(3)} extra=${(custom -- builtin).take(3)}")
  }

  test("streaming sessions merge across micro-batches and close on timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, sec: Long, user: Long) = EventStreams.Event(
      id, new java.sql.Timestamp(sec * 1000), user, "click", 1.0)
    val ms = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.userSessions(
      ms.toDS().withWatermark("ts", "0 seconds"), gapMillis = 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions").start()
    try {
      // batch 1: user 1 opens a session — nothing may be emitted yet
      ms.addData(ev(1, 100, 1), ev(2, 110, 1))
      q.processAllAvailable()
      assert(spark.table("stream_sessions").count() == 0,
        "open session must stay in state, not be emitted as a fragment")
      // batch 2: event within the gap MERGES into the open session
      ms.addData(ev(3, 140, 1))
      q.processAllAvailable()
      assert(spark.table("stream_sessions").count() == 0)
      // batches 3-4: another user advances the watermark far past
      // user 1's close horizon (140s + 60s); the timeout then fires
      // and emits the single merged session
      ms.addData(ev(4, 1000, 2))
      q.processAllAvailable()
      ms.addData(ev(5, 2000, 2))
      q.processAllAvailable()
      val u1 = spark.table("stream_sessions").as[EventStreams.UserSession]
        .collect().filter(_.user_id == 1L)
      assert(u1.length == 1, s"expected one merged session, got ${u1.toSeq}")
      assert(u1.head.n_events == 3 &&
        u1.head.session_start.getTime == 100000L &&
        u1.head.session_end.getTime == 140000L)
    } finally q.stop()
  }

  test("late-but-above-watermark events extend, never shrink, an open session") {
    // With a non-zero watermark delay an event can arrive in a LATER
    // micro-batch with a timestamp older than the open session's end
    // (or even its start). It must merge via max/min — an end=t merge
    // would drag session_end backwards and shrink the event-time
    // timeout below the documented end+gap horizon.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, sec: Long, user: Long) = EventStreams.Event(
      id, new java.sql.Timestamp(sec * 1000), user, "click", 1.0)
    val ms = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.userSessions(
      ms.toDS().withWatermark("ts", "120 seconds"), gapMillis = 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions_ooo").start()
    try {
      // batch 1: open session [100s, 160s]; watermark advances to 40s
      ms.addData(ev(1, 100, 1), ev(2, 160, 1))
      q.processAllAvailable()
      // batch 2: two above-watermark stragglers — one inside the
      // session (130s < end) and one before its start (70s)
      ms.addData(ev(3, 130, 1), ev(4, 70, 1))
      q.processAllAvailable()
      assert(spark.table("stream_sessions_ooo").count() == 0,
        "session still open — nothing emitted yet")
      // user 2 pushes the watermark past user 1's close horizon
      // (160s + 60s gap), firing the event-time timeout
      ms.addData(ev(5, 1000, 2))
      q.processAllAvailable()
      ms.addData(ev(6, 2000, 2))
      q.processAllAvailable()
      val u1 = spark.table("stream_sessions_ooo").as[EventStreams.UserSession]
        .collect().filter(_.user_id == 1L)
      assert(u1.length == 1, s"expected one merged session, got ${u1.toSeq}")
      assert(u1.head.session_start.getTime == 70000L,
        s"start must extend to the earliest event, got ${u1.head.session_start}")
      assert(u1.head.session_end.getTime == 160000L,
        s"end must never move backwards, got ${u1.head.session_end}")
      assert(u1.head.n_events == 4)
    } finally q.stop()
  }

  test("straggler more than gap before the open session opens its own session") {
    // watermark delay (120s) > gap (60s): an above-watermark event can
    // land more than a gap BEFORE the open session's start. It must
    // become its own session — coalescing it into the unrelated open
    // session would diverge from the batch oracle's sorted
    // sessionization (the disjoint-interval state exists for this).
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, sec: Long, user: Long) = EventStreams.Event(
      id, new java.sql.Timestamp(sec * 1000), user, "click", 1.0)
    val ms = MemoryStream[EventStreams.Event]
    val sessions = EventStreams.userSessions(
      ms.toDS().withWatermark("ts", "120 seconds"), gapMillis = 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("stream_sessions_straggler").start()
    try {
      // batch 1: session [200s, 200s]; watermark advances to 80s
      ms.addData(ev(1, 200, 1))
      q.processAllAvailable()
      // batch 2: straggler at 100s — above the 80s watermark but 100s
      // < 140s = start - gap, so it must NOT merge
      ms.addData(ev(2, 100, 1))
      q.processAllAvailable()
      // user 2 pushes the watermark past both close horizons
      ms.addData(ev(3, 1000, 2))
      q.processAllAvailable()
      ms.addData(ev(4, 2000, 2))
      q.processAllAvailable()
      val u1 = spark.table("stream_sessions_straggler")
        .as[EventStreams.UserSession].collect().filter(_.user_id == 1L)
        .sortBy(_.session_start.getTime)
      assert(u1.length == 2, s"expected two disjoint sessions, got ${u1.toSeq}")
      assert(u1(0).session_start.getTime == 100000L && u1(0).n_events == 1)
      assert(u1(1).session_start.getTime == 200000L && u1(1).n_events == 1)
    } finally q.stop()
  }

  test("AvailableNow incremental re-run processes only newly landed files (T1 parity)") {
    // the reference's T1 protocol (30-day re-collect) maps to a
    // scheduled batch re-run; the Spark-native form is a file-source
    // stream with Trigger.AvailableNow + a checkpoint: each run drains
    // exactly the files that arrived since the last run, no reprocess
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_incr_ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_incr_out").toString
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(EventStreams.rawSchema(spark, s"$sf/events.parquet")).parquet(dir)
        .select("event_id", "event_type")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val n = events.count()
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/batch1.parquet"))
    runOnce()
    assert(spark.read.parquet(outDir).count() == n, "first run drains the first file")
    runOnce()
    assert(spark.read.parquet(outDir).count() == n,
      "re-run with no new files must process nothing")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/batch2.parquet"))
    runOnce()
    assert(spark.read.parquet(outDir).count() == 2 * n,
      "re-run after a new file lands processes exactly that file")
  }

  test("stream-stream interval join matches the batch join on the same rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // signups and purchases; only purchases within [signup, signup+60s]
    // of the same user should pair
    val signups = Seq((1L, 10L, t(100)), (2L, 20L, t(100)))
    val purchases = Seq(
      (3L, 10L, t(130)),  // pairs with signup 1
      (4L, 10L, t(400)),  // outside the window
      (5L, 20L, t(100)),  // boundary-inclusive pair with signup 2
      (6L, 30L, t(120)))  // no signup for this user
    val sStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .select("user_id", "event_id", "ts")
    val joined = EventStreams.intervalJoin(
      shape(sStream.toDF()), shape(pStream.toDF()), "user_id", "60 seconds")
      .select($"user_id", $"l_event_id".as("signup_id"), $"r_event_id".as("purchase_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("stream_interval").start()
    try {
      sStream.addData(signups: _*)
      pStream.addData(purchases: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_interval").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = EventStreams.intervalJoin(
        shape(signups.toDF()), shape(purchases.toDF()), "user_id", "60 seconds")
      .select($"user_id", $"l_event_id", $"r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == batch, s"stream $got != batch $batch")
    assert(got == Set((10L, 1L, 3L), (20L, 2L, 5L)))
  }

  test("left-outer stream-stream interval join emits unmatched rows after watermark close") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val sStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val pStream = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "user_id", "ts")
      .withWatermark("ts", "10 seconds")
      .select("user_id", "event_id", "ts")
    val joined = EventStreams.intervalJoin(
      shape(sStream.toDF()), shape(pStream.toDF()), "user_id",
      "60 seconds", joinType = "left_outer")
      .select($"user_id", $"l_event_id".as("signup_id"), $"r_event_id".as("purchase_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("stream_interval_lo").start()
    try {
      // user 10 converts; user 40 never purchases
      sStream.addData((1L, 10L, t(100)), (7L, 40L, t(100)))
      pStream.addData((3L, 10L, t(130)))
      q.processAllAvailable()
      // advance BOTH watermarks far past user 40's match window
      // (100s + 60s + 10s delay) so the unmatched signup can emit
      sStream.addData((8L, 99L, t(1000)))
      pStream.addData((9L, 99L, t(1000)))
      q.processAllAvailable()
      sStream.addData((10L, 99L, t(2000)))
      pStream.addData((11L, 99L, t(2000)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_interval_lo")
      .filter($"user_id".isin(10L, 40L))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((10L, 1L, 3L), (40L, 7L, -1L)),
      s"expected one match and one null-padded unmatched signup, got $got")
  }

  test("intervalJoin validates its contract and honors a custom tsCol") {
    import spark.implicits._
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val l = Seq((10L, t(100))).toDF("user_id", "seen_at")
    val r = Seq((10L, t(130)), (10L, t(400))).toDF("user_id", "seen_at")
    // custom event-time column name works end to end
    val j = EventStreams.intervalJoin(l, r, "user_id", "60 seconds", tsCol = "seen_at")
    assert(j.count() == 1)
    assert(j.columns.toSet == Set("user_id", "l_seen_at", "r_seen_at"))
    // missing ts column, key == tsCol, and junk interval all fail fast
    intercept[IllegalArgumentException] {
      EventStreams.intervalJoin(l, r, "user_id", "60 seconds") // no "ts" col
    }
    intercept[IllegalArgumentException] {
      EventStreams.intervalJoin(l, r, "seen_at", "60 seconds", tsCol = "seen_at")
    }
    intercept[IllegalArgumentException] {
      EventStreams.intervalJoin(l, r, "user_id", "60; DROP", tsCol = "seen_at")
    }
    // a pre-existing l_-prefixed column that would collide is rejected
    intercept[IllegalArgumentException] {
      EventStreams.intervalJoin(
        l.withColumn("l_seen_at", col("seen_at")), r, "user_id",
        "60 seconds", tsCol = "seen_at")
    }
  }

  test("streaming delta dedup: corpus dups and in-stream repeats drop, novel docs pass") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = Seq((1L, "seen before text")).toDF("doc_id", "text")
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ms = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = operators.Dedup.streamingDeltaDedup(
      ms.toDF().toDF("doc_id", "text", "ts"), corpus)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stream_delta").start()
    try {
      ms.addData(
        (10L, "seen before text", t(100)),  // exact corpus dup → drop
        (11L, "brand new text", t(101)),    // novel → keep
        (12L, "brand new text", t(102)))    // in-stream repeat → drop
      q.processAllAvailable()
      ms.addData((13L, "another novel text", t(200)))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("stream_delta").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), s"got $kept")
  }

  test("streaming image dedup: a cross-container re-encode drops where md5 dedup could not") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def img(seed: Int, fmt: String): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) {
        val g = (seed * 37 + x * 11 + y * 5) % 256
        bi.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(bi, fmt, bos)
      bos.toByteArray
    }
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // corpus holds image 1 as PNG; the stream re-encodes the SAME
    // pixels as BMP — different bytes (md5 differs), identical aHash
    val corpus = Seq((1L, img(1, "png"))).toDF("asset_id", "payload")
    val ms = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val out = operators.Multimodal.streamingImageDedup(
      ms.toDF().toDF("asset_id", "payload", "ts"), corpus)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("stream_img_dedup").start()
    try {
      ms.addData(
        (10L, img(1, "bmp"), t(100)),  // re-encoded corpus dup → drop
        (11L, img(2, "png"), t(101)),  // novel → keep
        (12L, img(2, "bmp"), t(102)),  // in-stream perceptual repeat → drop
        (13L, "corrupt".getBytes("UTF-8"), t(103))) // undecodable → drop
      q.processAllAvailable()
      ms.addData((14L, img(3, "png"), t(200)))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("stream_img_dedup").select("asset_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 14L), s"got $kept")
  }

  test("streaming dedup collapses duplicated files to distinct event_ids") {
    // duplicate the fixture into a temp stream dir: every event twice
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val src = java.nio.file.Paths.get(s"$sf/events.parquet")
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/events.parquet"))
    java.nio.file.Files.copy(src, java.nio.file.Paths.get(s"$dir/events2.parquet"))
    // glob filter matches both copies
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = graft.Tables.normalizeEventTs(
      spark.readStream.schema(EventStreams.rawSchema(spark, s"$dir/events.parquet")).parquet(dir))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("stream_dedup").start()
    try q.processAllAvailable() finally q.stop()
    val n = spark.table("stream_dedup").select("event_id").distinct().count()
    val total = spark.table("stream_dedup").count()
    assert(total == n, s"dedup leaked duplicates: $total rows, $n distinct")
    assert(n == events.count())
  }

  test("stream-static broadcast join enriches each micro-batch") {
    import spark.implicits._
    val dim = (0L until 20L).map(u => (u, s"cohort_${u % 4}"))
      .toDF("user_id", "cohort")
    val enriched = EventStreams.streamStaticJoin(
      EventStreams.readEventStream(spark, sf), dim, "user_id")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("stream_enrich").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("stream_enrich")
    assert(out.count() == events.count())
    assert(out.filter($"cohort".isNull).count() == 0)
  }

  test("as-of join: <= boundary inclusive, no-earlier-state rows stay null") {
    import spark.implicits._
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000)
    val left = Seq((1L, 10L, t(100)), (2L, 10L, t(200)), (3L, 10L, t(50)),
      (4L, 99L, t(500)))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((10L, t(100), 1.0), (10L, t(150), 2.0))
      .toDF("user_id", "rts", "state_val")
    val out = graft.operators.AsOf.asofJoinLast(
        left, right, "user_id", "ts", "rts", Seq("state_val"))
      .select("event_id", "state_val")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L) == 1.0)   // equal timestamp: boundary inclusive
    assert(out(2L) == 2.0)   // picks the LATEST state <= ts
    assert(out(3L) == null)  // before any state
    assert(out(4L) == null)  // key with no state rows at all
  }

  test("RDD smoke parity (S13): spark.range map through Dataset API") {
    import spark.implicits._
    val doubled = spark.range(1, 6).map(_ * 2).collect().sorted
    assert(doubled.toSeq == Seq(2L, 4L, 6L, 8L, 10L))
  }

  test("multimodal: metadata-only projection prunes the payload column from the scan") {
    val assets = Multimodal.assetsFromText(Tables.documents(spark, sf))
    val plan = Multimodal.metadataOnly(assets).queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      s"payload must not be read for metadata-only access:\n$plan")
  }

  test("multimodal stubs: deterministic decode") {
    val assets = Multimodal.assetsFromText(Tables.documents(spark, sf)).cache()
    val d1 = Multimodal.decodeImageStub(assets).select("asset_id", "width", "height")
      .collect().map(_.toSeq).toSet
    val d2 = Multimodal.decodeImageStub(assets).select("asset_id", "width", "height")
      .collect().map(_.toSeq).toSet
    assert(d1 == d2)
  }

  test("byte-budget repartitioning yields sane partition counts") {
    val assets = Multimodal.assetsFromText(Tables.documents(spark, sf))
    val repart = Multimodal.repartitionByBytes(assets, targetBytes = 16 * 1024)
    val n = repart.rdd.getNumPartitions
    assert(n >= 1 && n <= 64, s"unexpected partition count $n")
    // empty frame: sum(length) is null — must coalesce to 1 partition,
    // not NPE on Row.getLong
    val empty = Multimodal.repartitionByBytes(
      assets.filter(col("asset_id") < 0), targetBytes = 16 * 1024)
    assert(empty.rdd.getNumPartitions == 1 && empty.count() == 0)
  }
}
