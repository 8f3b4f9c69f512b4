package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, TextAnalysis}

/** Continuous corpus ingest — the service form of [[graft.CorpusMain]]:
  * document files land in a directory, each micro-batch is cleaned,
  * deduped within itself, tested for novelty against everything
  * already ingested, and the survivors appended to the corpus. The
  * corpus is only ever grown by batch-local work (the deltaDedup
  * contract: delta×corpus joins, never corpus×corpus re-dedup), which
  * is what keeps per-batch cost flat as the corpus passes 100 TB.
  *
  * Exactly-once shape: each batch writes to its own
  * `ingest_batch=<id>` partition directory with overwrite — a batch
  * replay after a crash rewrites the same directory instead of
  * double-appending, so the sink is idempotent under the checkpoint's
  * at-least-once replay. Readers see one corpus table via partition
  * discovery (`spark.read.parquet(outDir/corpus)`).
  *
  * Batch sizing: a micro-batch whose planned size (plan statistics, no
  * Spark job) is at most 256 KB of files is planned on ONE partition,
  * which removes over a quarter of a small batch's Spark jobs; a larger
  * batch keeps its scan partitions, because above that size the work,
  * not per-job overhead, sets its cost ([[OnePartitionMaxBytes]] gives
  * the measurements). No option sets this.
  */
object CorpusIngest {

  /** One micro-batch: clean → in-batch dedup → delta-vs-corpus
    * novelty → idempotent partition write. Public so the spec can
    * drive single batches and compare against the composed operators. */
  def processBatch(batch: DataFrame, outDir: String, batchId: Long,
                   minTokens: Int = 20, maxTokens: Int = 100000,
                   minQuality: Double = 0.5, maxTopBigramRatio: Double = 0.2,
                   langs: Seq[String] = Seq("en"),
                   k: Int = 3, numHashes: Int = 16, bands: Option[Int] = None,
                   threshold: Double = 0.6,
                   maxShingleDocFreq: Option[Int] = None,
                   containmentPermille: Option[Long] = None): Unit = {
    val spark = batch.sparkSession
    val leaf = s"ingest_batch=$batchId"
    // Novelty is judged against the MATERIALIZED dedup index, not the
    // corpus text: per-batch cost reads (hash set + shingle index),
    // never re-shingles the accumulated corpus — the property that
    // keeps batch latency flat as the corpus grows. Read before
    // anything is pinned, so an index from before r7 fails the batch
    // before it holds any memory.
    //
    // CRITICAL replay semantics: exclude THIS batch's partitions from
    // the index read. A crash-replay of batch N would otherwise see
    // its own previous output as "corpus", classify every doc as
    // non-novel, and overwrite the partition with an empty set —
    // silent data loss. The exclusion is a partition-pruned filter,
    // so the replayed directories are never even scanned.
    val existing = readIndexExcluding(batch, outDir, batchId)
    // Every frame pinned here is released in `finally`, so a batch that
    // fails (a write, say) leaves nothing in the CacheManager for a
    // supervised restart to pile onto.
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      p
    }
    try {
      // The raw batch feeds the clean recipe and the report's input
      // count; the cleaned batch feeds the LSH candidate and hash
      // checkpoints, the batch-novel materialization and the report.
      // Both are pinned so the source files are read once and the clean
      // recipe (token, quality, language and bigram passes) runs once,
      // not once per consumer — the CorpusMain shape. Batch-sized, so
      // MEMORY_AND_DISK spills rather than OOMs.
      //
      // A batch of at most [[OnePartitionMaxBytes]] ([[fitsOnePartition]])
      // is pinned as ONE partition. The cache then reports
      // SinglePartition, so the clean recipe, the in-batch dedup and the
      // novelty joins planned over it need no exchange: at that size the
      // cost is per-job overhead, not data, and every exchange is a job.
      // The semi-join below is hinted to a shuffled hash join, which
      // needs no exchange over two one-partition sides, where a broadcast
      // join would spend a job broadcasting `keepIds`. A larger batch (an
      // AvailableNow backlog can make one micro-batch the whole landing
      // directory) keeps its scan partitions and the partitioned plan.
      //
      // Each pinned frame is built by ONE action before any plan reads
      // it twice: AQE gives every read of a not-yet-built cache its own
      // query stage, and each stage builds the same cache as its own
      // job. The input count (which the report keeps) builds `pinned`;
      // the n_cleaned count builds `cleaned`.
      val onePartition = fitsOnePartition(batch)
      val pinned = pin(if (onePartition) batch.coalesce(1) else batch)
      val nInput = pinned.count()
      val keepIds = TextAnalysis.cleanCorpus(pinned, minTokens, maxTokens,
        minQuality, maxTopBigramRatio, langs).select("doc_id")
      val cleaned = pin(pinned.join(
        if (onePartition) keepIds.hint("shuffle_hash") else keepIds,
        Seq("doc_id"), "left_semi"))
      val nCleaned = cleaned.count()
      // novelty WITHIN the batch first (deltaDedup's documented contract);
      // persisted because the novelty join, the write, and the report
      // count all consume it — the LSH+CC chain must not run three times
      val batchNovel = pin(Dedup.dedupCorpus(cleaned, k, numHashes, bands, threshold))
      val novel = existing match {
        case Some(index) =>
          Dedup.deltaDedupIndexed(index, batchNovel, k, threshold,
            maxShingleDocFreq = maxShingleDocFreq,
            containmentPermille = containmentPermille)
        case None => batchNovel
      }
      val corpusPath = s"$outDir/corpus/$leaf"
      novel.write.mode("overwrite").parquet(corpusPath)
      // Index maintenance: this batch's index leaf is derived from the
      // DURABLE partition just written (not the in-memory plan), so the
      // index always mirrors the corpus on disk; overwriting the batch's
      // leaf keeps the replay idempotence of the corpus writes. Its
      // `dfs` rows are a PARTIAL (df over this batch's docs only): df is
      // additive over disjoint doc sets, so the reader sums partials and
      // the corpus-wide df is never recomputed. Read with the schema
      // just written, so no job infers it, and as one partition when the
      // batch was (its novel docs are fewer), so the index's distinct
      // hashes and the report's count need no exchange.
      val written = spark.read.schema(novel.schema).parquet(corpusPath)
      val landed = if (onePartition) written.coalesce(1) else written
      Dedup.writeDedupIndex(landed, s"$outDir/index", k, leaf)
      // Per-batch observability: the stage funnel an operator watches to
      // catch drift (a cleaning recipe suddenly rejecting everything, a
      // batch that is all duplicates). Batch-sized counts, idempotent
      // like every other per-batch artifact; read the whole funnel with
      // spark.read.parquet(outDir/reports).
      import spark.implicits._
      Seq((nInput, nCleaned, batchNovel.count(), landed.count()))
        .toDF("n_input", "n_cleaned", "n_batch_novel", "n_novel")
        .write.mode("overwrite")
        .parquet(s"$outDir/reports/$leaf")
    } finally held.foreach(_.unpersist(blocking = false))
  }

  /** Largest planned batch size — plan statistics, i.e. the files'
    * on-disk (compressed) bytes — that [[processBatch]] plans on one
    * partition. Below it a batch's cost is per-job overhead; above it the
    * work is, and one partition runs it on one core. Measured on 4 vCPUs
    * with docs shaped like the sf0.1 documents (about 115 on-disk bytes
    * a doc), wall time of a first batch and of a second batch that
    * probes the first one's index, one partition vs scan partitions:
    * 259 KB (2,200 docs) 4.1–4.6 vs 5.2–5.5 s and 5.7 vs 5.9–6.6 s;
    * 508 KB about even; 993 KB (8,700 docs) no slower on the first batch but
    * 15.4–16.6 vs 11.6–12.4 s on the second; 3.9 MB 16.6 vs 19.3 s and
    * 286 vs 95 s. Spark's own file bounds sit above the crossover:
    * `spark.sql.files.openCostInBytes` (4 MB), the size below which its
    * split rule never cuts a file, and `maxPartitionBytes` (128 MB). */
  private[graft] val OnePartitionMaxBytes: Long = 256L << 10

  /** Whether `batch`'s planned size is at most [[OnePartitionMaxBytes]].
    * Plan statistics, so no Spark job. A foreachBatch frame carries its
    * file source's statistics (`CorpusIngestSpec` streams a wave through
    * [[start]] and checks that it takes the one-partition plan); a plan
    * Spark cannot size reads as `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue by default) and keeps its partitions. */
  private[graft] def fitsOnePartition(batch: DataFrame): Boolean =
    batch.queryExecution.optimizedPlan.stats.sizeInBytes <= OnePartitionMaxBytes

  /** Publish a read-optimized snapshot of the ingest corpus: the
    * append-oriented `ingest_batch` layout is replay-idempotent but
    * accrues one directory of smallish files per batch — the snapshot
    * rewrites it doc_id-sorted at ~`targetFileBytes` per file, so
    * per-file min/max ranges are disjoint and filtered reads prune
    * files (see [[graft.operators.Maintenance]]). Provenance stays in
    * the ingest log; the snapshot drops the partition column. Publish
    * to a NEW directory and swap — readers never see a half-written
    * table. Returns the snapshot row count. */
  def publishSnapshot(spark: SparkSession, outDir: String,
                      snapshotDir: String,
                      targetFileBytes: Long = 128L << 20): Long = {
    val corpus = readCorpus(spark, s"$outDir/corpus").getOrElse(
      throw new IllegalStateException(s"no corpus at $outDir/corpus"))
    val (_, bytes) =
      graft.operators.Maintenance.listParquet(spark, s"$outDir/corpus")
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    corpus
      .repartitionByRange(nOut, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(snapshotDir)
    // the publish overwrote snapshotDir: any plan-keyed memo entry
    // built over a prior read of it — in ANY session — is now stale
    // (Memo.frameKey's contract); entries rebuild on demand
    graft.ops.Memo.invalidatePath(snapshotDir)
    spark.read.parquet(snapshotDir).count()
  }

  /** Scheme-transparent existence probe (file://, hdfs://, ... — same
    * stance as the S12 fetch/serve paths). */
  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** The accumulated corpus, or None before the first batch lands.
    * Partition discovery folds every ingest_batch directory into one
    * table; the partition column itself is provenance, not content. */
  def readCorpus(spark: SparkSession, corpusPath: String): Option[DataFrame] =
    if (!pathExists(spark, corpusPath)) None
    else {
      val df = spark.read.parquet(corpusPath)
      if (df.columns.contains("ingest_batch")) Some(df.drop("ingest_batch"))
      else Some(df)
    }

  /** The materialized dedup index of docs shaped like `docs` as of
    * BEFORE `batchId` (see the replay note in [[processBatch]]), or
    * None before another batch has landed. Each table reads through
    * partition discovery, with the schema the index writer derives for
    * `docs` (no Spark job), and the batch's own leaf filtered out; the
    * per-batch `dfs` partials are summed into corpus-wide document
    * frequencies. Throws IllegalStateException on an index from before
    * r7 ([[Dedup.indexLeaves]]). */
  private[graft] def readIndexExcluding(docs: DataFrame, outDir: String,
                                        batchId: Long): Option[Dedup.DedupIndex] = {
    val path = s"$outDir/index"
    if (Dedup.indexLeaves(docs.sparkSession, path,
        skip = s"ingest_batch=$batchId").isEmpty) None
    else {
      val idx = Dedup.readDedupIndex(docs, path)
      def excluding(t: DataFrame) =
        t.filter(col("ingest_batch") =!= batchId).drop("ingest_batch")
      Some(Dedup.DedupIndex(excluding(idx.hashes), excluding(idx.shingles),
        excluding(idx.dfs).groupBy("shingle").agg(sum("df").as("df"))))
    }
  }

  /** Start the ingest stream over a landing directory of document
    * parquet files (schema must include doc_id/text/source).
    * `Trigger.AvailableNow` turns the same query into an incremental
    * batch ingester: each invocation processes exactly the files that
    * landed since the last checkpoint, then stops — the T1/T2
    * scheduled-re-run shape.
    *
    * The clean/dedup dials mirror [[processBatch]]'s signature (same
    * defaults) so a tuned deployment configures the stream entry point
    * directly instead of re-implementing it around processBatch. */
  def start(spark: SparkSession, inDir: String, outDir: String,
            schema: org.apache.spark.sql.types.StructType,
            trigger: Trigger = Trigger.AvailableNow(),
            minTokens: Int = 20, maxTokens: Int = 100000,
            minQuality: Double = 0.5, maxTopBigramRatio: Double = 0.2,
            langs: Seq[String] = Seq("en"),
            k: Int = 3, numHashes: Int = 16, bands: Option[Int] = None,
            threshold: Double = 0.6,
            maxShingleDocFreq: Option[Int] = None,
            containmentPermille: Option[Long] = None): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        processBatch(batch, outDir, id, minTokens, maxTokens,
          minQuality, maxTopBigramRatio, langs, k, numHashes, bands,
          threshold, maxShingleDocFreq, containmentPermille)
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .start()

  /** [[archiveBatchDocs]]'s result: document + dead-letter frames,
    * both reading the shared `pinned` member frame (unpersist it when
    * the batch's actions are done — the [[processBatch]] style). */
  final case class ArchiveBatch(docs: DataFrame, quarantine: DataFrame,
                                pinned: DataFrame)

  /** One micro-batch of WET archive FILES (`binaryFile` rows: path,
    * content) → (documents, quarantine) in the corpus schema — the
    * adapter both the streaming and batch archive legs share, so
    * stream ≡ batch holds by construction. Documents get a
    * deterministic `doc_id` (default: xxhash64 of archive path +
    * member offset — stable across replays and across the two legs;
    * pass `docId` to derive ids from the crawl's own conventions,
    * e.g. the fixture's `…/doc/<id>` URIs) and `source` = the archive
    * path. Quarantine rows keep full provenance for the dead-letter
    * sink — corruption is data on the streaming path too. */
  def archiveBatchDocs(archiveFiles: DataFrame,
                       docId: Option[org.apache.spark.sql.Column] = None,
                       maxMemberBytes: Long = graft.functions.GzipArchiveCore.MaxMemberBytes,
                       maxTotalBytes: Long = graft.functions.GzipArchiveCore.MaxTotalBytes,
                       sliced: Boolean = false): ArchiveBatch = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val arch = archiveFiles
      .select(col("path").as("archive"), col("content").as("payload"))
    // pinned: the gzip inflation + WARC parse feed the dead-letter
    // write AND processBatch's several actions — unpinned, each action
    // would re-inflate every archive.
    // `sliced` routes through the offset-splittable path: the member
    // index + per-member slices, so the caps bind PER SLICE and a
    // bigger-than-budget crawl file ingests completely on the
    // STREAMING leg too (same contract as the batch
    // wetDocumentsSliced).
    val recs = (if (sliced)
      graft.sources.WebArchive.wetDocumentsSliced(arch,
        maxMemberBytes = maxMemberBytes, maxTotalBytes = maxTotalBytes)
    else
      graft.sources.WebArchive.wetDocuments(arch,
        maxMemberBytes = maxMemberBytes, maxTotalBytes = maxTotalBytes))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val id = docId.getOrElse(xxhash64(col("archive"), col("member_offset")))
    val docs = recs.filter(col("quarantine").isNull)
      .select(id.as("doc_id"), col("text"), col("archive").as("source"))
    val dead = recs.filter(col("quarantine").isNotNull)
      .select("archive", "member_index", "member_offset", "member_clen",
        "quarantine")
    ArchiveBatch(docs, dead, recs)
  }

  /** Continuous ingest over a landing directory of WET ARCHIVE files —
    * [[start]]'s shape with the WARC-gzip codec in front: each
    * micro-batch expands its archives to member rows
    * ([[graft.sources.WebArchive.wetDocuments]] — per-row expression
    * work, zero shuffles before the clean/dedup stages), routes
    * quarantine rows to an idempotent per-batch dead-letter partition
    * (`outDir/quarantine/ingest_batch=<id>`, the same overwrite
    * replay-safety as the corpus writes), and feeds the documents
    * through the exact [[processBatch]] pipeline. At 100 TB this is
    * the front door: crawl files land, docs flow, nothing corrupt is
    * silently dropped. */
  def startArchives(spark: SparkSession, inDir: String, outDir: String,
                    trigger: Trigger = Trigger.AvailableNow(),
                    minTokens: Int = 20, maxTokens: Int = 100000,
                    minQuality: Double = 0.5, maxTopBigramRatio: Double = 0.2,
                    langs: Seq[String] = Seq("en"),
                    k: Int = 3, numHashes: Int = 16, bands: Option[Int] = None,
                    threshold: Double = 0.6,
                    maxMemberBytes: Long = graft.functions.GzipArchiveCore.MaxMemberBytes,
                    maxTotalBytes: Long = graft.functions.GzipArchiveCore.MaxTotalBytes,
                    sliced: Boolean = false): StreamingQuery =
    spark.readStream
      .format("binaryFile")
      // binaryFile's schema is FIXED by the source, but the streaming
      // reader still demands it explicitly (no inference pass on a
      // stream) — this is that schema verbatim
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ab = archiveBatchDocs(batch, None, maxMemberBytes,
          maxTotalBytes, sliced)
        try {
          ab.quarantine.write.mode("overwrite")
            .parquet(s"$outDir/quarantine/ingest_batch=$id")
          processBatch(ab.docs, outDir, id, minTokens, maxTokens,
            minQuality, maxTopBigramRatio, langs, k, numHashes, bands,
            threshold)
        } finally ab.pinned.unpersist(blocking = false)
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .start()

  /** The RANGE-READ continuous ingest — [[startArchives]] with the
    * whole-file residency removed from the STREAMING leg too: the
    * stream carries only file PATHS (the binaryFile source pruned to
    * `path`, so its content column is never required and a landed
    * 100 GB crawl file costs the stream a row, not its bytes), each
    * micro-batch stream-indexes its new files through the bounded
    * window ([[graft.sources.WebArchive.memberIndexFromPaths]]),
    * PERSISTS the index as an idempotent per-batch artifact — the
    * cluster.idx later ranged readers consume without re-scanning —
    * and ingests the members via per-member byte-range reads
    * ([[graft.sources.WebArchive.wetDocumentsRanged]]). Same document
    * shaping, dead-letter, and downstream clean/dedup pipeline as
    * [[startArchives]], so stream ≡ batch holds on this leg by the
    * same construction; the index read back from its own artifact
    * means the expensive indexing scan runs ONCE per batch however
    * many actions consume the records. */
  def startArchivesRanged(spark: SparkSession, inDir: String, outDir: String,
                          trigger: Trigger = Trigger.AvailableNow(),
                          minTokens: Int = 20, maxTokens: Int = 100000,
                          minQuality: Double = 0.5,
                          maxTopBigramRatio: Double = 0.2,
                          langs: Seq[String] = Seq("en"),
                          k: Int = 3, numHashes: Int = 16, bands: Option[Int] = None,
                          threshold: Double = 0.6,
                          maxMemberBytes: Long = graft.functions.GzipArchiveCore.MaxMemberBytes,
                          maxTotalBytes: Long = graft.functions.GzipArchiveCore.MaxTotalBytes,
                          maxSliceBytes: Long = graft.functions.FileRangeCore.MaxRangeBytes,
                          fanoutPartitions: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    spark.readStream
      .format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .load(inDir)
      .select(col("path")) // prune BEFORE foreachBatch: content never reads
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ss = batch.sparkSession
        val idxPath = s"$outDir/member_index/ingest_batch=$id"
        graft.sources.WebArchive
          .memberIndexFromPaths(batch.select(col("path").as("archive")))
          .write.mode("overwrite").parquet(idxPath)
        val recs = graft.sources.WebArchive.wetDocumentsRanged(
          ss.read.parquet(idxPath),
          maxMemberBytes = maxMemberBytes, maxTotalBytes = maxTotalBytes,
          maxSliceBytes = maxSliceBytes, fanoutPartitions = fanoutPartitions)
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          recs.filter(col("quarantine").isNotNull)
            .select("archive", "member_index", "member_offset", "member_clen",
              "quarantine")
            .write.mode("overwrite").parquet(s"$outDir/quarantine/ingest_batch=$id")
          val docs = recs.filter(col("quarantine").isNull)
            .select(xxhash64(col("archive"), col("member_offset")).as("doc_id"),
              col("text"), col("archive").as("source"))
          processBatch(docs, outDir, id, minTokens, maxTokens,
            minQuality, maxTopBigramRatio, langs, k, numHashes, bands,
            threshold)
        } finally recs.unpersist(blocking = false)
      }
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .start()
  }

  /** Usage: CorpusIngest <landingDir> <outDir> — processes every file
    * that landed since the last run's checkpoint (AvailableNow), then
    * prints the corpus size. Re-invoke on a schedule for incremental
    * ingest; leave a continuous trigger to [[start]] callers. */
  def main(args: Array[String]): Unit = {
    val inDir = args.lift(0).getOrElse("/tmp/corpus_landing")
    val outDir = args.lift(1).getOrElse("/tmp/corpus_ingest")
    val spark = graft.GraftSession.create(appName = "graft-corpus-ingest",
      master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
    spark.sparkContext.setLogLevel("WARN")
    // schema from the landed files themselves (one batch-read listing)
    val schema = spark.read.parquet(inDir).schema
    start(spark, inDir, outDir, schema).awaitTermination()
    val n = readCorpus(spark, s"$outDir/corpus").map(_.count()).getOrElse(0L)
    println(s"""{"corpus_docs":$n,"out":"$outDir/corpus"}""")
    spark.stop()
  }
}
