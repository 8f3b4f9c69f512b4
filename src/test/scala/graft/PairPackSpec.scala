package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The contract of [[graft.operators.PairPack.pairsFromPostings]], the
  * one self-join under every posting-list pair operator: its meet rows
  * are exactly the brute-force nested loop's — every ordered row pair
  * agreeing on all keys with `a.id < b.id` and the extra predicates,
  * once per shared posting (a multiset, not a set). An implementation
  * that replaces the join must keep this spec green. */
class PairPackSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._
  import graft.operators.PairPack
  import PairPackSpec.Posting

  /** Postings with a hot (band, bkt) key of 40 ids, keys that share a
    * band but not a bucket (a one-column key would pair them), ids
    * posted twice under one key, and a random tail. */
  private val postings: Seq[Posting] = {
    val rnd = new scala.util.Random(9)
    val hot = (1L to 40L).map(i => Posting(0, 7L, i, i % 5))
    val sameBand = Seq(Posting(1, 1L, 3L, 1L), Posting(1, 2L, 4L, 2L),
      Posting(1, 1L, 5L, 3L), Posting(1, 2L, 6L, 4L))
    val twice = Seq(Posting(2, 3L, 8L, 1L), Posting(2, 3L, 8L, 6L),
      Posting(2, 3L, 9L, 2L), Posting(2, 3L, 2L, 5L))
    val tail = Seq.fill(200)(Posting(rnd.nextInt(4), rnd.nextInt(6).toLong,
      rnd.nextInt(60).toLong, rnd.nextInt(10).toLong))
    hot ++ sameBand ++ twice ++ tail
  }

  private def brute(ps: Seq[Posting], key: Posting => Any,
                    extra: (Posting, Posting) => Boolean): Seq[(Long, Long, Long, Long)] =
    (for (a <- ps; b <- ps if key(a) == key(b) && a.id < b.id && extra(a, b))
      yield (a.id, b.id, a.w, b.w)).sorted

  private def viaJoin(ps: Seq[Posting], keys: Seq[String],
                      extra: Column*): Seq[(Long, Long, Long, Long)] =
    PairPack.pairsFromPostings(ps.toDF(), keys, "id", extra: _*)
      .select(col("a.id"), col("b.id"), col("a.w"), col("b.w"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted

  test("pairsFromPostings equals the nested loop: hot key, two-column key, " +
    "twice-posted id, extra predicates") {
    val both = (p: Posting) => (p.band, p.bkt)
    val none = (_: Posting, _: Posting) => true
    val expected = brute(postings, both, none)
    assert(expected.count { case (a, b, _, _) => a == 8L || b == 8L } > 2,
      "the twice-posted id must meet its key-mates once per posting")
    assert(expected.size > 40 * 39 / 2, "the hot key must contribute its C(40, 2) pairs")
    assert(viaJoin(postings, Seq("band", "bkt")) === expected)
    assert(viaJoin(postings, Seq("band")) === brute(postings, _.band, none))
    assert(viaJoin(postings, Seq("band", "bkt"), col("a.w") + col("b.w") >= 6L) ===
      brute(postings, both, (a, b) => a.w + b.w >= 6L))
    assert(viaJoin(postings, Seq("band", "bkt"),
        col("a.w") + col("b.w") >= 6L, col("a.w") =!= col("b.w")) ===
      brute(postings, both, (a, b) => a.w + b.w >= 6L && a.w != b.w))
  }

  test("pairsFromPostings on an empty posting frame emits no pairs") {
    assert(viaJoin(Seq.empty, Seq("band", "bkt")).isEmpty)
    assert(viaJoin(Seq.empty, Seq("band"), col("a.w") < col("b.w")).isEmpty)
  }
}

object PairPackSpec {
  case class Posting(band: Int, bkt: Long, id: Long, w: Long)
}
