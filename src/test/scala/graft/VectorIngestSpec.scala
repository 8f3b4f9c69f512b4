package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityInt
import graft.streaming.VectorIngest

/** Vector-ingest contract: bootstrap trains frozen centroids, appends
  * cluster against them, the materialized index answers queries
  * exactly as the composed [[SimilarityInt]] operators would, replays
  * are idempotent, and the integer index is independent of the input
  * partitioning. */
class VectorIngestSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val emb = Tables.embeddings(spark, SparkTestSession.sf)
  private val wave1 = emb.filter($"vec_id" < 250)
  private val wave2 = emb.filter($"vec_id" >= 250)
  private val queries = emb.filter($"vec_id" < 10)

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("bootstrap + append: index equals frozen-centroid composition; queries match") {
    graft.ops.Memo.clear(spark)
    val outDir = tmp("graft_vec_idx")
    VectorIngest.processBatch(wave1, outDir, 0L)
    VectorIngest.processBatch(wave2, outDir, 1L)

    val idx = VectorIngest.readIndex(spark, outDir).get
    // centroids are wave-1's deterministic training, frozen
    val boot = SimilarityInt.ivfBuildInt(SimilarityInt.zCodes(wave1),
      nlist = 32, iters = 2, seed = 42L, memoKey = "vispec:boot")
    assert(rows(idx.centroids) == rows(boot.centroids))
    // every vector is in exactly one list, clustered against them
    val z = SimilarityInt.zCodes(emb)
    val expLists = SimilarityInt.ivfAssignInt(boot.centroids, z)
    assert(idx.lists.count() == emb.count())
    assert(idx.lists.select("vid").distinct().count() == emb.count())
    assert(rows(idx.lists.select("vid", "z", "list_id")) == rows(expLists))
    // queries against the materialized index == the composed
    // frozen-centroid expectation over the full corpus
    val got = VectorIngest.topK(spark, outDir, queries, k = 10)
    val exp = SimilarityInt.ivfTopKInt(
      SimilarityInt.IntIvfIndex(boot.centroids, expLists),
      SimilarityInt.zCodes(queries), z, k = 10, nprobe = 4)
    assert(rows(got) == rows(exp))
  }

  test("append replay is idempotent against the frozen centroids") {
    val outDir = tmp("graft_vec_rep")
    VectorIngest.processBatch(wave1, outDir, 0L)
    VectorIngest.processBatch(wave2, outDir, 1L)
    val once = rows(VectorIngest.readIndex(spark, outDir).get.lists)
    // crash-replay of both batches in order
    VectorIngest.processBatch(wave1, outDir, 0L)
    VectorIngest.processBatch(wave2, outDir, 1L)
    val twice = rows(VectorIngest.readIndex(spark, outDir).get.lists)
    assert(once == twice)
  }

  test("PQ ingest: bootstrap freezes coarse+codebook tables, appends encode against them, replay idempotent") {
    graft.ops.Memo.clear(spark)
    val outDir = tmp("graft_vec_pq")
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    VectorIngest.processBatchPq(wave2, outDir, 0L + 1, nlist = 16, m = 4, ksub = 8)

    val idx = VectorIngest.readPqIndex(spark, outDir).get
    // the codebook handle is self-describing: m recovered from the
    // persisted table; codeword ids are the vids of at most ksub
    // wave-1 seed rows
    assert(idx.codebook.m == 4)
    val cids = idx.codebook.centroids.select("cid").as[Long].collect().toSet
    assert(cids.size <= 8 && cids.forall(_ < 250L))
    // every vector has exactly m code rows
    assert(idx.codes.count() == emb.count() * 4)
    assert(idx.codes.select("vid").distinct().count() == emb.count())

    // queries against the materialized index == the composed
    // frozen-table expectation over the full corpus
    graft.ops.Memo.clear(spark)
    val got = VectorIngest.topKPq(spark, outDir, queries, emb, k = 10,
      nprobe = 8, rerank = 40)
    val z = SimilarityInt.zCodes(emb)
    val boot = SimilarityInt.ivfPqBuildInt(SimilarityInt.zCodes(wave1),
      nlist = 16, m = 4, ksub = 8, iters = 2, seed = 42L, memoKey = "vispec:pq")
    val expIdx = SimilarityInt.IntIvfPqIndex(boot.centroids, boot.codebook,
      SimilarityInt.ivfPqAssignInt(boot.centroids, boot.codebook, z))
    val exp = SimilarityInt.ivfPqTopKInt(expIdx, SimilarityInt.zCodes(queries),
      z, k = 10, nprobe = 8, rerank = 40)
    assert(rows(got) == rows(exp))

    // crash-replay of both batches: bit-identical code rows
    val once = rows(idx.codes)
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    VectorIngest.processBatchPq(wave2, outDir, 1L, nlist = 16, m = 4, ksub = 8)
    assert(once == rows(VectorIngest.readPqIndex(spark, outDir).get.codes))
  }

  test("PQ bootstrap crash-replay: centroids are the commit marker — a partial bootstrap (codebook written, marker not) retrains instead of failing") {
    val outDir = tmp("graft_vec_crash")
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    // simulate the only crash-reachable partial state under the
    // codebook-before-marker write order: codebook persisted, centroid
    // commit marker not (the inverse order left marker-present/
    // codebook-missing, where every replay died in readCodebook)
    val conf = spark.sessionState.newHadoopConf()
    val cent = new org.apache.hadoop.fs.Path(s"$outDir/pqindex/centroids")
    val fs = cent.getFileSystem(conf)
    assert(fs.delete(cent, true))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/pqindex/codebook")))
    // replay must take the TRAIN branch and leave a whole, queryable index
    VectorIngest.processBatchPq(wave1, outDir, 0L, nlist = 16, m = 4, ksub = 8)
    val idx = VectorIngest.readPqIndex(spark, outDir).get
    assert(idx.centroids.select("cid").distinct().count() == 16L)
    assert(idx.codes.select("vid").distinct().count() == wave1.count())
  }

  test("single-batch index: VectorIngest.topK is exactly ivfTopKInt over ivfBuildInt (the refactor contract)") {
    graft.ops.Memo.clear(spark)
    val outDir = tmp("graft_vec_one")
    VectorIngest.processBatch(emb, outDir, 0L, nlist = 16)
    // the streamed rerank reads the z its lists carry; the direct one
    // re-codes the corpus
    val viaIndex = VectorIngest.topK(spark, outDir, queries, k = 10, nprobe = 4)
    val z = SimilarityInt.zCodes(emb)
    val direct = SimilarityInt.ivfTopKInt(
      SimilarityInt.ivfBuildInt(z, nlist = 16, iters = 2, seed = 42L,
        memoKey = "vispec:direct"),
      SimilarityInt.zCodes(queries), z, k = 10, nprobe = 4)
    assert(rows(viaIndex) == rows(direct))
  }

  test("streamed IVF and IVF-PQ indexes and their top-k are bit-identical at 1 vs 8 input partitions") {
    def run(parts: Int): Seq[Set[Seq[Any]]] = {
      graft.ops.Memo.clear(spark) // a memo hit would hide nondeterminism
      val outDir = tmp(s"graft_vec_parts$parts")
      for ((wave, id) <- Seq(wave1, wave2).zipWithIndex) {
        VectorIngest.processBatch(wave.repartition(parts), outDir, id.toLong)
        VectorIngest.processBatchPq(wave.repartition(parts), outDir, id.toLong,
          nlist = 16, m = 4, ksub = 8)
      }
      val ivf = VectorIngest.readIndex(spark, outDir).get
      val pq = VectorIngest.readPqIndex(spark, outDir).get
      Seq(ivf.centroids, ivf.lists,
        VectorIngest.topK(spark, outDir, queries.repartition(parts), k = 10),
        pq.centroids, pq.codebook.centroids, pq.codes,
        VectorIngest.topKPq(spark, outDir, queries.repartition(parts),
          emb.repartition(parts), k = 10, nprobe = 8, rerank = 40))
        .map(rows)
    }
    val one = run(1)
    assert(one.forall(_.nonEmpty))
    assert(one == run(8))
  }
}
