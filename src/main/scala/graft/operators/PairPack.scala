package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** r22: packed-BIGINT pair dedup (guide §2.3 "narrower types").
  *
  * Candidate-pair generators (the co-engagement projection, the
  * prefix-filter Jaccard engine) end in `distinct()` over an id-pair
  * frame that is their biggest exchange — ~14M (u, v) meet rows at
  * sf0.1 for the co-engagement join. When every id fits in unsigned
  * 32 bits, the pair packs into ONE BIGINT ((a << 32) | b, exactly
  * reversible via unsigned shift/mask), so the dedup's shuffle bytes,
  * hash and compare work on one word per row instead of two
  * (UnsafeRow: 16 B/row vs 24 B). The 32-bit bound is PROBED per
  * build — one min/max scan of the id column, no shuffle, trivially
  * cheaper than the quadratic meet join it shrinks — and ids that are
  * non-long or past 2^32 keep the two-column form: identical output
  * either way (Round22Spec pins both paths and the sign-bit
  * boundary).
  *
  * [[pairsFromPostings]] is the pair generator those dedups sit on:
  * the one self-join every posting-list pair operator (shingle,
  * band, bucket, term, key and block postings) routes through.
  */
object PairPack {

  val Mask32: Long = 0xFFFFFFFFL

  /** Whether every id of `df.idCol` fits unsigned 32 bits — one
    * min/max column scan (parquet-pruned to the one column), the
    * probe that gates [[distinctPairs]]' packed form. */
  def fits32(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType == org.apache.spark.sql.types.LongType && {
      // explicit id-only projection so the probe prunes to one column
      // even when the input carries a repartition of wide rows (the
      // q197 docsRebalanced shape — without it the probe paid the
      // full-text round-robin exchange)
      val b = df.select(col(idCol))
        .agg(min(col(idCol)), max(col(idCol))).head()
      !b.isNullAt(0) && b.getLong(0) >= 0L && b.getLong(1) <= Mask32
    }

  /** Distinct (aCol, bCol) id pairs of `pairs` — packed through the
    * dedup exchange when `packed` (caller probed [[fits32]]). */
  def distinctPairs(pairs: DataFrame, aCol: String, bCol: String,
                    packed: Boolean): DataFrame =
    if (packed)
      pairs.select(shiftleft(col(aCol), 32).bitwiseOR(col(bCol)).as("_uv"))
        .distinct()
        .select(shiftrightunsigned(col("_uv"), 32).as(aCol),
          col("_uv").bitwiseAND(lit(Mask32)).as(bCol))
    else pairs.select(col(aCol), col(bCol)).distinct()

  /** Every pair of `postings` rows that agree on all of `keys` with
    * `a.id < b.id` (and every `extra` predicate): the self-join under
    * each posting-list pair operator. An id pair meets once per shared
    * posting, so callers aggregate, dedup or verify the meet rows
    * themselves; both sides' columns stay reachable as `a.<c>` /
    * `b.<c>`. The condition folds left in key, id, extra order. */
  def pairsFromPostings(postings: DataFrame, keys: Seq[String], id: String,
                        extra: Column*): DataFrame = {
    def side(s: String, c: String) = col(s"$s.$c")
    val cond = (keys.map(k => side("a", k) === side("b", k)) ++
      ((side("a", id) < side("b", id)) +: extra)).reduce(_ && _)
    postings.as("a").join(postings.as("b"), cond)
  }
}
