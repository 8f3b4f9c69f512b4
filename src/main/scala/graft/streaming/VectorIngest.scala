package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.SimilarityInt
import graft.ops.Memo

/** Continuous embedding ingest — the similarity-pillar counterpart of
  * [[CorpusIngest]]: vector files land in a directory; the first batch
  * trains the IVF centroids ([[SimilarityInt.ivfBuildInt]] over the
  * batch's integer z codes), every batch clusters its vectors against
  * the FROZEN centroid table ([[SimilarityInt.ivfAssignInt]]) and
  * appends posting-list rows (vid, z, list_id). Queries run
  * [[SimilarityInt.ivfTopKInt]] over the materialized index, reranking
  * against the z the lists carry — no retraining, no corpus re-scan,
  * per-batch cost is one broadcast-assign pass over the batch.
  *
  * The index is integer-exact, like q43/q171/q174: every training
  * step, assignment and rerank is BIGINT arithmetic over seeded md5
  * draws, so the streamed index and its answers are bit-identical at
  * any input partitioning and replay in DuckDB.
  *
  * Replay is idempotent without special-casing: a bootstrap replay
  * retrains the same deterministic centroids from the same batch and
  * overwrites; an append replay re-assigns against the same frozen
  * centroids and overwrites its own `ingest_batch` partition.
  *
  * Assumes unique vec_ids across batches (compose with the dedup
  * pillar upstream); centroid drift under a shifting distribution is
  * the documented retrain trigger — rebuild the index offline and swap
  * directories, queries never pay for it. An index directory written
  * by the earlier float build (lists holding float `cv` vectors,
  * codebook `cid`s numbered 0..ksub−1 instead of seed vids) has a
  * different layout and must be rebuilt the same way.
  */
object VectorIngest {

  def processBatch(batch: DataFrame, outDir: String, batchId: Long,
                   nlist: Int = 32, lloydIters: Int = 2, seed: Long = 42L,
                   idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val centPath = s"$outDir/index/centroids"
    val listsPath = s"$outDir/index/lists"
    // bootstrap training reads the batch several times (seed draw,
    // Lloyd sample, assignment) — pin it so each pass reads the cache,
    // not the source files again
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val z = SimilarityInt.zCodes(pinned, idCol, vecCol)
    val lists =
      if (!pathExists(spark, centPath)) {
        // bootstrap: train on this batch, freeze the centroids
        val idx = SimilarityInt.ivfBuildInt(z, nlist, lloydIters, seed,
          s"vec_ingest_ivf:$nlist:$lloydIters:$seed:$idCol:$vecCol:" +
            Memo.frameKey(batch))
        idx.centroids.write.mode("overwrite").parquet(centPath)
        idx.lists
      } else
        SimilarityInt.ivfAssignInt(spark.read.parquet(centPath), z)
    lists.write.mode("overwrite")
      .parquet(s"$listsPath/ingest_batch=$batchId")
    pinned.unpersist(blocking = false)
  }

  /** The materialized index, or None before the bootstrap batch. */
  def readIndex(spark: SparkSession, outDir: String): Option[SimilarityInt.IntIvfIndex] = {
    val centPath = s"$outDir/index/centroids"
    val listsPath = s"$outDir/index/lists"
    if (!pathExists(spark, centPath) || !pathExists(spark, listsPath)) None
    else Some(SimilarityInt.IntIvfIndex(
      spark.read.parquet(centPath),
      spark.read.parquet(listsPath).drop("ingest_batch")))
  }

  /** Top-k against the materialized index; the rerank reads the z
    * codes the lists carry. */
  def topK(spark: SparkSession, outDir: String, queries: DataFrame, k: Int,
           nprobe: Int = 4,
           idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val idx = readIndex(spark, outDir).getOrElse(
      throw new IllegalStateException(s"no IVF index at $outDir/index"))
    SimilarityInt.ivfTopKInt(idx, SimilarityInt.zCodes(queries, idCol, vecCol),
      idx.lists.select("vid", "z"), k, nprobe)
  }

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  // ------------------------------------------------------ IVF-PQ variant

  /** The IVF-PQ counterpart of [[processBatch]] — the index that
    * actually fits a 100 TB embedding store at rest (m+1 small ints
    * per vector instead of the full list rows): the bootstrap batch
    * trains coarse centroids AND the residual codebook
    * ([[SimilarityInt.ivfPqBuildInt]]) and freezes both; every later
    * batch runs one broadcast assign + one broadcast encode
    * ([[SimilarityInt.ivfPqAssignInt]]) and appends (vid, list_id,
    * sub, code) rows to its own idempotent partition. Same replay
    * story as the flat variant: bootstrap retrains deterministically
    * and overwrites, appends re-encode against the frozen tables and
    * overwrite their own partition. */
  def processBatchPq(batch: DataFrame, outDir: String, batchId: Long,
                     nlist: Int = 32, m: Int = 8, ksub: Int = 16,
                     lloydIters: Int = 2, seed: Long = 42L,
                     idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    val centPath = s"$outDir/pqindex/centroids"
    val cbPath = s"$outDir/pqindex/codebook"
    val codesPath = s"$outDir/pqindex/codes"
    val pinned = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val z = SimilarityInt.zCodes(pinned, idCol, vecCol)
    val codes =
      if (!pathExists(spark, centPath)) {
        val idx = SimilarityInt.ivfPqBuildInt(z, nlist, m, ksub, lloydIters,
          seed, s"vec_ingest_ivfpq:$nlist:$m:$ksub:$lloydIters:$seed:$idCol:" +
            s"$vecCol:${Memo.frameKey(batch)}")
        // codebook FIRST: the branch above gates on centPath, so the
        // centroid write is the bootstrap's commit marker — a crash
        // between the two writes must leave centPath ABSENT (replay
        // retrains deterministically), never present-with-missing-
        // codebook (every replay would take the assign branch and die
        // in readCodebook until manual cleanup)
        idx.codebook.centroids.write.mode("overwrite").parquet(cbPath)
        idx.centroids.write.mode("overwrite").parquet(centPath)
        idx.codes
      } else
        SimilarityInt.ivfPqAssignInt(spark.read.parquet(centPath),
          readCodebook(spark, cbPath), z)
    codes.write.mode("overwrite").parquet(s"$codesPath/ingest_batch=$batchId")
    pinned.unpersist(blocking = false)
  }

  /** Rebuild the codebook handle from its persisted centroid table —
    * m is recovered from the table itself (max sub + 1), so the index
    * directory is self-describing. */
  private def readCodebook(spark: SparkSession, cbPath: String): SimilarityInt.IntCodebook = {
    val cents = spark.read.parquet(cbPath)
    SimilarityInt.IntCodebook(cents, cents.agg(max(col("sub"))).first().getInt(0) + 1)
  }

  /** The materialized IVF-PQ index, or None before bootstrap. */
  def readPqIndex(spark: SparkSession, outDir: String): Option[SimilarityInt.IntIvfPqIndex] = {
    val centPath = s"$outDir/pqindex/centroids"
    val cbPath = s"$outDir/pqindex/codebook"
    val codesPath = s"$outDir/pqindex/codes"
    if (!pathExists(spark, centPath) || !pathExists(spark, codesPath)) None
    else Some(SimilarityInt.IntIvfPqIndex(
      spark.read.parquet(centPath),
      readCodebook(spark, cbPath),
      spark.read.parquet(codesPath).drop("ingest_batch")))
  }

  /** IVFADC top-k against the materialized index. `corpus` supplies
    * the vectors for the exact z-dot rerank only — at scale it stays
    * on disk until the shortlist (the PQ point). */
  def topKPq(spark: SparkSession, outDir: String, queries: DataFrame,
             corpus: DataFrame, k: Int, nprobe: Int = 8, rerank: Int = 50,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    SimilarityInt.ivfPqTopKInt(
      readPqIndex(spark, outDir).getOrElse(
        throw new IllegalStateException(s"no IVF-PQ index at $outDir/pqindex")),
      SimilarityInt.zCodes(queries, idCol, vecCol),
      SimilarityInt.zCodes(corpus, idCol, vecCol), k, nprobe, rerank)

  /** Start the ingest stream over a landing directory of embedding
    * parquet files; AvailableNow turns it into a scheduled
    * incremental indexer (same stance as [[CorpusIngest.start]]). */
  def start(spark: SparkSession, inDir: String, outDir: String,
            schema: org.apache.spark.sql.types.StructType,
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, outDir, id)
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .start()
}
