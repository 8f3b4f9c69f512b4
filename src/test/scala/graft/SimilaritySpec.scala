package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Similarity, SimilarityInt}

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val queries = emb.filter(col("vec_id") < 10)

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    val v = transform(col("embedding"), x => x.cast("double"))
    val bad = emb.select(Similarity.cosine(v, v).as("c"))
      .filter(abs($"c" - 1.0) > 1e-9).count()
    assert(bad == 0)
  }

  test("brute-force topk returns exactly k ranked neighbors per query") {
    import spark.implicits._
    val tk = Similarity.bruteForceTopK(emb, queries, k = 10).cache()
    assert(tk.count() == 100)
    assert(tk.groupBy("query_id").count().filter($"count" =!= 10).count() == 0)
    assert(tk.groupBy("query_id").agg(max("rank").as("m"))
      .filter($"m" =!= 10).count() == 0)
    // never returns the query itself
    assert(tk.filter($"query_id" === $"neighbor_id").count() == 0)
  }

  test("brute-force topk broadcasts the query batch (no shuffle of corpus for scoring)") {
    val plan = Similarity.bruteForceTopK(emb, queries, k = 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"query batch should broadcast:\n$plan")
  }

  test("ann topk is deterministic and a subset-contract of the output schema") {
    val a1 = Similarity.annTopK(emb, queries, k = 10).collect().toSet
    val a2 = Similarity.annTopK(emb, queries, k = 10).collect().toSet
    assert(a1 == a2, "LSH must be deterministic across runs (fixed seed)")
  }

  test("ann recall@10 beats the random-guess baseline by an order of magnitude") {
    import spark.implicits._
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, queries, k = 10, tables = 16, bits = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ann).size.toDouble / exact.size
    val corpusSize = emb.count().toDouble
    val randomBaseline = 10.0 / corpusSize
    assert(recall > 10 * randomBaseline,
      s"recall $recall vs random $randomBaseline")
  }

  test("ann candidates are exactly scored: ranks agree with exact cosine order") {
    import spark.implicits._
    // For every query, the ANN list must be consistent with brute-force
    // ordering restricted to the returned neighbors (no mis-ranking).
    val exactRank = Similarity.bruteForceTopK(emb, queries, k = 500)
      .withColumnRenamed("rank", "exact_rank")
    val ann = Similarity.annTopK(emb, queries, k = 10)
    val joined = ann.join(exactRank, Seq("query_id", "neighbor_id"))
    val inversions = joined.as("x").join(joined.as("y"),
        $"x.query_id" === $"y.query_id" &&
        $"x.rank" < $"y.rank" && $"x.exact_rank" > $"y.exact_rank")
      .count()
    assert(inversions == 0)
  }

  test("ivf topk: deterministic, recall beats random, ranks inversion-free") {
    import spark.implicits._
    val z = SimilarityInt.zCodes(emb)
    val zq = z.filter($"vid" < 10)
    def ivf(k: Int, nlist: Int = 32, nprobe: Int = 4) =
      SimilarityInt.ivfTopKInt(SimilarityInt.ivfBuildInt(z, nlist, iters = 2,
        seed = 42L, memoKey = s"simspec:ivf:$nlist"), zq, z, k, nprobe)
    // a memo hit would hide nondeterminism: each run trains afresh
    graft.ops.Memo.clear(spark)
    val i1 = ivf(10).collect().toSet
    graft.ops.Memo.clear(spark)
    val i2 = ivf(10).collect().toSet
    assert(i1 == i2, "IVF must be deterministic (seeded centroid sample)")
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // generous probe budget for the recall pin (uniform random corpus
    // is ANN-adversarial, same caveat as the SRP spec)
    val found = ivf(10, nlist = 16, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & found).size.toDouble / exact.size
    assert(recall > 10 * (10.0 / emb.count()),
      s"recall $recall must beat random by 10x")
    // exact scoring: restricted ordering agrees with the exact z-dot
    // ranking the rerank uses
    val exactRank = ZDotBaseline.topK(zq, z, 500)
      .withColumnRenamed("rank", "exact_rank")
    val joined = ivf(10).join(exactRank, Seq("query_id", "neighbor_id"))
    val inversions = joined.as("x").join(joined.as("y"),
        $"x.query_id" === $"y.query_id" &&
        $"x.rank" < $"y.rank" && $"x.exact_rank" > $"y.exact_rank")
      .count()
    assert(inversions == 0)
    // candidate volume is bounded by the probed share of the corpus
    // (the IVF cost dial): with nprobe/nlist = 1/8 of lists probed no
    // query may scan anywhere near the full corpus
    val cand = ivf(emb.count().toInt)
      .groupBy("query_id").count().agg(max("count")).first().getLong(0)
    assert(cand <= emb.count() / 2,
      s"IVF must never degenerate to a full scan: $cand of ${emb.count()}")
  }

  test("near-dup pairs carry cos >= threshold and no self-pairs") {
    import spark.implicits._
    val p = Similarity.cosineNearDupPairs(emb, threshold = 0.4).cache()
    assert(p.filter($"cos" < 0.4).count() == 0)
    assert(p.filter($"d1" >= $"d2").count() == 0)
  }

  test("clustered corpus: SRP-LSH recall approaches 1 even with the default dials") {
    // The random fixture is LSH's hardest case (no structure to hash
    // into buckets — recall there is pinned by the q57 oracle with
    // RecallProbe-tuned dials). Real embedding corpora are clustered;
    // on 20 tight clusters the default 8x8 dials must recover nearly
    // every true neighbor, because same-cluster vectors share SRP
    // signs w.h.p.
    import spark.implicits._
    val dim = 16
    val pts = spark.range(1000).select($"id".as("vec_id"))
      .withColumn("cluster", pmod($"vec_id", lit(20)))
      .withColumn("embedding", expr(
        // (cluster+1) and an irrational-ish stride keep every cluster
        // direction well-defined and distinct (cluster * j alone makes
        // cluster 0 the all-zero vector = pure noise)
        s"transform(sequence(1, $dim), j -> float(sin((cluster + 1) * (j * 2 + 1) * 0.37d) + sin(vec_id * j * 131L) * 0.02d))"))
      .drop("cluster")
    val queries = pts.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(pts, queries, k = 10))
    val ann = pairs(Similarity.annTopK(pts, queries, k = 10))
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.9, s"clustered-data recall $recall should be near 1")
  }

  test("Agreement.summarize: counts are set overlap, recall guards empty exact") {
    import spark.implicits._
    val approx = Seq((1L, 2L), (1L, 3L)).toDF("d1", "d2")
    val exact = Seq((1L, 2L), (1L, 4L), (2L, 5L)).toDF("d1", "d2")
    val r = graft.ops.Agreement.summarize(approx, exact, Seq("d1", "d2")).first()
    assert(r.getLong(0) == 3 && r.getLong(1) == 2 && r.getLong(2) == 1)
    assert(r.getDouble(3) == 1.0 / 3.0)
    val empty = graft.ops.Agreement.summarize(
      approx, exact.filter($"d1" < 0), Seq("d1", "d2")).first()
    assert(empty.getLong(0) == 0 && empty.getDouble(3) == 0.0)
  }
}
