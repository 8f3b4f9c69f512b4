package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-22 optimization pins: the counting h-index kernel that
  * replaced coreness's per-round rank-window sort, and the packed-
  * BIGINT candidate dedup in the co-engagement projection staying
  * output-identical to the two-column form (including past the
  * 32-bit id bound, where the packing must disable itself). */
class Round22Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------------------ h_index kernel

  /** Kernel ≡ the rank-window spelling it replaced
    * (`max(least(row_number over (order by v desc), v))`) — the
    * classic h-index identity — on randomized multisets including
    * duplicates, zeros/negatives (never contribute), values far above
    * the array length (clamp), and the empty array (0). */
  test("h_index equals the rank-window h-index on randomized multisets") {
    graft.functions.HIndex.register(spark)
    val rnd = new scala.util.Random(22)
    def ref(vs: Seq[Long]): Long =
      vs.sortBy(-_).zipWithIndex
        .map { case (v, i) => math.min(v, i + 1L) }
        .foldLeft(0L)(math.max)
    val rows = (1 to 300).map { i =>
      val n = rnd.nextInt(40)
      val vs = Seq.fill(n)(
        if (rnd.nextBoolean()) rnd.nextInt(12).toLong - 2L
        else rnd.nextInt(1000).toLong)
      (i, vs)
    }
    val got = rows.toDF("i", "vs")
      .selectExpr("i", "h_index(vs) AS h").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { case (i, vs) =>
      assert(got(i) === ref(vs), s"case $i: ${vs.mkString(",")}")
    }
  }

  test("h_index: null array -> null; empty -> 0") {
    graft.functions.HIndex.register(spark)
    val r = Seq((Option.empty[Seq[Long]], Seq.empty[Long]))
      .toDF("a", "b")
      .selectExpr("h_index(a) AS x", "h_index(b) AS y")
      .collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L)
  }

  // ----------------------- co-engagement packed candidate dedup

  /** The SAME engagement structure realized at small ids (packed
    * BIGINT-pair dedup) and shifted past 2^32 (where packing must
    * fall back to the two-column dedup) must produce the identical
    * projection modulo the shift — pinning both that the packed path
    * is exact and that the bound probe actually disables it. */
  test("coEngagementEdgesShared: packed and fallback paths project identically") {
    import graft.operators.Graph
    val shift = 1L << 33
    def ev(offset: Long) = spark.range(40)
      .select((col("id") + lit(offset)).as("user_id"),
        explode(expr(
          "transform(sequence(1, 14), j -> pmod(xxhash64(id * 17 + j * 13), 24))"))
          .as("kv"))
      .select(col("user_id"),
        concat(lit("{\"k\": "), col("kv"), lit("}")).as("props"))
    def key(df: org.apache.spark.sql.DataFrame, off: Long) =
      df.collect()
        .map(r => (r.getLong(0) - off, r.getLong(1) - off, r.getLong(2)))
        .toSet
    val packed = key(
      Graph.coEngagementEdgesShared(ev(0), minShared = 4L), 0L)
    val fallback = key(
      Graph.coEngagementEdgesShared(ev(shift), minShared = 4L), shift)
    assert(packed.nonEmpty, "fixture should project edges above the floor")
    assert(packed === fallback)
  }

  /** r22b in-row symmetric emit (`explode(array(struct(u,v), struct(
    * v,u)))` replacing `p.unionAll(p.select(swapped))`): the projection
    * must equal the brute-force co-engagement graph — BOTH directions
    * of every qualifying pair, exact shared-key counts, nothing else.
    * The reference recomputes shared distinct-key counts in Scala from
    * the collected (user, key) pairs, independent of the prefix-filter
    * candidate scheme AND of the emit spelling. */
  test("coEngagementEdgesShared: symmetric emit equals brute force, both directions") {
    import graft.operators.Graph
    val ev = spark.range(40)
      .select(col("id").as("user_id"),
        explode(expr(
          "transform(sequence(1, 14), j -> pmod(xxhash64(id * 17 + j * 13), 24))"))
          .as("kv"))
      .select(col("user_id"),
        concat(lit("{\"k\": "), col("kv"), lit("}")).as("props"))
    val keys: Map[Long, Set[Long]] = ev
      .select(col("user_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (u, ps) => u -> ps.map(_._2).toSet }
    val minShared = 4L
    val expected = (for {
      u <- keys.keys; v <- keys.keys if u != v
      n = (keys(u) & keys(v)).size.toLong if n >= minShared
    } yield (u, v, n)).toSet
    val got = Graph.coEngagementEdgesShared(ev, minShared = minShared)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === got.toSet.size, "no duplicate edge rows")
    assert(got.toSet === expected)
  }

  /** Same law for [[graft.operators.Dedup.containmentPairs]]' r22b
    * in-row direction split: output equals the Scala brute force over
    * the collected per-doc distinct shingle sets (containment counted
    * in BOTH ordered directions, the permille gate in exact integer
    * arithmetic), independent of the inverted-index join and of the
    * emit spelling. */
  test("containmentPairs: in-row direction split equals brute force") {
    import graft.operators.Dedup
    graft.functions.ShingleHashes.register(spark)
    val words = (0 until 12).map(i => s"w$i")
    val rnd = new scala.util.Random(122)
    val docs = (1 to 24).map { i =>
      val n = 10 + rnd.nextInt(20)
      val text =
        if (i % 4 == 0) (0 until n).map(j => words((j * 7 + i) % 12)).mkString(" ")
        else (0 until n).map(_ => words(rnd.nextInt(12))).mkString(" ")
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val sets: Map[Long, Set[Long]] = docs
      .select(col("doc_id"), explode(expr("shingle_hashes(text, 3)")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (d, ps) => d -> ps.map(_._2).toSet }
    val (minPermille, minShingles) = (500L, 5L)
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a != b
      na = sets(a).size.toLong if na >= minShingles
      common = (sets(a) & sets(b)).size.toLong
      pm = common * 1000L / na if pm >= minPermille
    } yield (a, b, common, na, pm)).toSet
    val got = Dedup.containmentPairs(docs, k = 3,
        minPermille = minPermille, minShingles = minShingles)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(expected.nonEmpty, "fixture should produce containment pairs")
    assert(got.length === got.toSet.size, "no duplicate pair rows")
    assert(got.toSet === expected)
  }

  /** Ids in [2^31, 2^32) still pack (uv's sign bit set): the unsigned
    * unpack must round-trip them exactly. */
  test("coEngagementEdgesShared: packing round-trips ids with the sign bit set") {
    import graft.operators.Graph
    val off = (1L << 32) - 50L // ids 2^32-50 .. 2^32-11: still 32-bit
    val ev = spark.range(40)
      .select((col("id") + lit(off)).as("user_id"),
        explode(expr(
          "transform(sequence(1, 14), j -> pmod(xxhash64(id * 17 + j * 13), 24))"))
          .as("kv"))
      .select(col("user_id"),
        concat(lit("{\"k\": "), col("kv"), lit("}")).as("props"))
    val got = Graph.coEngagementEdgesShared(ev, minShared = 4L)
      .collect().map(r => (r.getLong(0) - off, r.getLong(1) - off, r.getLong(2)))
      .toSet
    val small = Graph.coEngagementEdgesShared(
        spark.range(40).select(col("id").as("user_id"),
            explode(expr(
              "transform(sequence(1, 14), j -> pmod(xxhash64(id * 17 + j * 13), 24))"))
              .as("kv"))
          .select(col("user_id"),
            concat(lit("{\"k\": "), col("kv"), lit("}")).as("props")),
        minShared = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === small)
  }
}
