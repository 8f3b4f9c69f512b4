package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Round-21 optimization pins: the sorted-merge intersection kernel
  * that replaced `size(array_intersect(...))` on the candidate-pair
  * verification hot paths (co-engagement projection, k-truss support,
  * prefix-Jaccard verify, minhash verify), and the restructured
  * k-truss round (single rec materialization + flag-join touched
  * split) staying output-identical. */
class Round21Spec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  // ------------------------------------ sorted_intersect_count kernel

  /** Kernel ≡ size(array_intersect) on any SORTED inputs — including
    * duplicate elements (array_intersect dedups; the merge skips
    * equal runs on both sides), empty arrays, and disjoint arrays.
    * Randomized against the builtin on 200 seeded cases. */
  test("sorted_intersect_count equals size(array_intersect) on sorted inputs") {
    graft.functions.SortedIntersectCount.register(spark)
    val rnd = new scala.util.Random(21)
    val rows = (1 to 200).map { _ =>
      val n = rnd.nextInt(60)
      val m = rnd.nextInt(60)
      // small value domain forces overlaps AND duplicates
      val a = Seq.fill(n)(rnd.nextInt(40).toLong).sorted
      val b = Seq.fill(m)(rnd.nextInt(40).toLong).sorted
      (a, b)
    }
    val out = rows.toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b) AS k",
        "cast(size(array_intersect(a, b)) as bigint) AS ref")
      .collect()
    out.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("sorted_intersect_count: null array -> null; empty -> 0") {
    graft.functions.SortedIntersectCount.register(spark)
    val r = Seq((Seq(1L, 2L), Option.empty[Seq[Long]]))
      .toDF("a", "b")
      .selectExpr("sorted_intersect_count(a, b) AS x",
        "sorted_intersect_count(a, cast(array() as array<bigint>)) AS y")
      .collect()(0)
    assert(r.isNullAt(0))
    assert(r.getLong(1) === 0L)
  }

  // ---------------------------------- k-truss restructure equivalence

  /** The r21 round body (one rec localCheckpoint, flag-join touched/
    * untouched split) must emit the same (edge, support) multiset as
    * an independent full-recompute synchronous peel, on a randomized
    * graph dense enough to cascade several rounds. */
  test("kTruss r21 round shape equals full synchronous recompute") {
    val rnd = new scala.util.Random(42)
    val edges0 = (for {
      a <- 0 until 40; b <- (a + 1) until 40
      if rnd.nextDouble() < 0.25
    } yield (a.toLong, b.toLong)).distinct
    val edges = edges0.toDF("src", "dst")
      .unionAll(edges0.map(_.swap).toDF("src", "dst"))
    val got = operators.Graph.kTruss(edges, k = 4, iters = 8)

    // reference: recompute EVERY edge's support each round
    var und = edges0.toDF("a", "b")
    for (_ <- 1 to 8) {
      val sym = und.select($"a".as("v"), $"b".as("w"))
        .unionAll(und.select($"b".as("v"), $"a".as("w")))
      val adj = sym.groupBy("v").agg(sort_array(collect_list($"w")).as("nb"))
      und = und
        .join(adj.select($"v".as("a"), $"nb".as("na")), "a")
        .join(adj.select($"v".as("b"), $"nb".as("nbb")), "b")
        .withColumn("support",
          size(array_intersect($"na", $"nbb")).cast("long"))
        .filter($"support" >= 2)
        .select("a", "b", "support")
        .localCheckpoint(true)
    }
    assert(got.exceptAll(und).count() === 0)
    assert(und.exceptAll(got).count() === 0)
    assert(got.count() > 0) // non-vacuous: the fixture keeps a truss
  }
}
