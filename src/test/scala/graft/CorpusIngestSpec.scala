package graft

import org.apache.spark.sql.SparkInternals
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, TextAnalysis}
import graft.streaming.CorpusIngest

/** Continuous-ingest contract: per-wave results equal the composed
  * batch operators, the corpus only ever grows by novel docs, and a
  * re-run with nothing new changes nothing (checkpoint + idempotent
  * partition writes). */
class CorpusIngestSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private val fixtureDocs = Tables.documents(spark, SparkTestSession.sf)
  private val docSchema = fixtureDocs.schema

  /** Spark jobs one non-first [[CorpusIngest.processBatch]] may start
    * on the fixture: measured at 35 with the batch pinned as one
    * partition, each pinned frame built by one action, the index read
    * with the writer's schemas and the batch's near-dup graph labelled
    * on the driver. The count can move from run to run because AQE
    * submits a job per query stage it materializes, and how concurrent
    * stages fall into jobs depends on timing; the budget is 2 over the
    * highest count seen. 47 to 50 while connected components ran its
    * min-label rounds as Spark jobs, 67 before the one-partition plan,
    * 71 while the index kept a per-doc counts table and the index read
    * probed its hash set for emptiness, and 109 when each of the cleaned
    * batch's four consumers re-ran the clean recipe and the index read
    * inferred each shingle directory's schema with a Spark job. */
  private val MaxBatchJobs = 37

  /** Spark jobs the first batch (no index yet) may start on the
    * fixture, directly or streamed through [[CorpusIngest.start]]:
    * measured at 26, 2 over (38 to 39 before the driver-side connected
    * components). The scan-partitioned plan starts 42 on the same wave. */
  private val MaxFirstBatchJobs = 28

  /** Persisted RDDs that are not checkpoints: the frames a batch pins. */
  private def cachedNonCkpt() = spark.sparkContext.getPersistentRDDs
    .filter { case (_, r) => !r.isCheckpointed }.keySet

  /** Land a wave as ONE parquet file directly in the landing dir (the
    * file stream source lists files, not nested write directories). */
  private def landFile(df: org.apache.spark.sql.DataFrame,
                       inDir: String, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_wave").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(inDir, name))
  }

  /** Composed batch expectation for one wave against a corpus state. */
  private def expectedNovel(wave: org.apache.spark.sql.DataFrame,
                            corpus: Option[org.apache.spark.sql.DataFrame]) = {
    val cleaned = wave.join(
      TextAnalysis.cleanCorpus(wave).select("doc_id"), Seq("doc_id"), "left_semi")
    val batchNovel = Dedup.dedupCorpus(cleaned)
    corpus match {
      case Some(c) => Dedup.deltaDedup(
        c.select(batchNovel.columns.map(col): _*), batchNovel)
      case None => batchNovel
    }
  }

  test("ingest stream: wave-accurate novelty, growth only, idempotent re-run") {
    val inDir = java.nio.file.Files.createTempDirectory("graft_ingest_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_out").toString

    // wave 1: first half of the fixture
    val wave1 = fixtureDocs.filter($"doc_id" < 250)
    landFile(wave1, inDir, "wave1.parquet")
    CorpusIngest.start(spark, inDir, outDir, docSchema).awaitTermination()

    val corpus1 = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    val exp1 = expectedNovel(wave1, None)
    assert(corpus1.count() == exp1.count())
    assert(corpus1.join(exp1.select("doc_id"), Seq("doc_id"), "left_anti").count() == 0)

    // wave 2: second half PLUS exact copies of wave-1 docs (must all
    // be rejected as non-novel against the accumulated corpus)
    val wave2 = fixtureDocs.filter($"doc_id" >= 250)
      .unionByName(fixtureDocs.filter($"doc_id" < 40))
    landFile(wave2, inDir, "wave2.parquet")
    CorpusIngest.start(spark, inDir, outDir, docSchema).awaitTermination()

    val corpus2 = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    val exp2 = expectedNovel(wave2, Some(corpus1))
    assert(corpus2.count() == corpus1.count() + exp2.count(),
      "corpus grows by exactly the novel docs of wave 2")
    // re-ingested wave-1 copies must not reappear: every wave-1 id
    // occurs at most once in the final corpus
    assert(corpus2.groupBy("doc_id").count().filter($"count" > 1).count() == 0)

    // nothing new landed: a third run must not change the corpus
    CorpusIngest.start(spark, inDir, outDir, docSchema).awaitTermination()
    val corpus3 = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    assert(corpus3.count() == corpus2.count())

    // provenance partitions: one directory per processed batch
    val parts = spark.read.parquet(s"$outDir/corpus")
      .select("ingest_batch").distinct().as[Long].collect().sorted
    assert(parts.length == 2, s"expected batches 0 and 1, got ${parts.toSeq}")

    // per-batch funnel reports mirror what actually landed
    val reports = spark.read.parquet(s"$outDir/reports")
      .select($"ingest_batch".cast("long"), $"n_input", $"n_novel")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(reports(0L)._1 == wave1.count() && reports(0L)._2 == corpus1.count())
    assert(reports(1L)._1 == wave2.count())
    assert(reports(1L)._2 == corpus2.count() - corpus1.count())
  }

  test("deltaDedupIndexed equals deltaDedup on the same corpus/delta split") {
    val corpus = fixtureDocs.filter($"doc_id" % 5 =!= 0)
    val delta = fixtureDocs.filter($"doc_id" % 5 === 0)
    val direct = Dedup.deltaDedup(corpus, delta)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val indexed = Dedup.deltaDedupIndexed(
        Dedup.buildDedupIndex(corpus), delta)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == direct,
      s"missing=${(direct -- indexed).take(5)} extra=${(indexed -- direct).take(5)}")
  }

  test("deltaDedupIndexed equals deltaDedup under a hot-shingle cap") {
    val corpus = fixtureDocs.filter($"doc_id" % 5 =!= 0)
    val delta = fixtureDocs.filter($"doc_id" % 5 === 0)
    // cap low enough to actually drop shingles on the fixture (the
    // equivalence must hold on a cap that BITES, not a no-op one) —
    // and the capped answer must differ from the uncapped one, or the
    // case degenerates into the test above (cap=25 measured as a no-op
    // at this scale: the fixture's cross-doc shingle dfs are small)
    val cap = 2
    val direct = Dedup.deltaDedup(corpus, delta,
        maxShingleDocFreq = Some(cap))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val indexed = Dedup.deltaDedupIndexed(
        Dedup.buildDedupIndex(corpus), delta,
        maxShingleDocFreq = Some(cap))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed == direct,
      s"missing=${(direct -- indexed).take(5)} extra=${(indexed -- direct).take(5)}")
    val uncapped = Dedup.deltaDedup(corpus, delta)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(indexed != uncapped,
      s"cap=$cap did not bite on the fixture — raise the fixture's " +
        "shingle overlap or lower the cap")
  }

  test("ingest containment gate: a quoted delta doc is rejected at ingest time only under the dial") {
    // batch 0 lands a long doc ending in a 14-word quote; batch 1
    // brings the quote back as its own doc (plus one genuinely novel
    // doc). Jaccard alone keeps the quote (the container dominates
    // the union); the containment dial drops it — the q135 semantics
    // running through the production foreachBatch path against the
    // materialized index.
    val filler = (1 to 100).map(i => s"f$i").mkString(" ")
    val quote = (1 to 14).map(i => s"q$i").mkString(" ")
    val b1 = Seq((1L, s"$filler $quote", "s1")).toDF("doc_id", "text", "source")
    val b2 = Seq(
      (2L, s"$quote t1 t2 t3", "s1"),
      (3L, (1 to 30).map(i => s"n$i").mkString(" "), "s1"))
      .toDF("doc_id", "text", "source")
    // synthetic tokens land on the heuristic's "unknown" bucket; the
    // clean dials are opened so only the dedup gates decide
    val langs = TextAnalysis.withLanguageId(b1.unionByName(b2))
      .select("lang_pred").distinct().as[String].collect().toSeq
    def ingest(perm: Option[Long]): Set[Long] = {
      val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_cont").toString
      CorpusIngest.processBatch(b1, outDir, 0L, minTokens = 1,
        minQuality = 0.0, maxTopBigramRatio = 1.0, langs = langs,
        containmentPermille = perm)
      CorpusIngest.processBatch(b2, outDir, 1L, minTokens = 1,
        minQuality = 0.0, maxTopBigramRatio = 1.0, langs = langs,
        containmentPermille = perm)
      CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
        .select("doc_id").as[Long].collect().toSet
    }
    assert(ingest(None) == Set(1L, 2L, 3L),
      "without the dial the quoted doc slips through the Jaccard gate")
    assert(ingest(Some(800L)) == Set(1L, 3L),
      "with the dial the quoted doc is non-novel; the novel doc still lands")
  }

  test("the materialized index mirrors the written corpus after every batch") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // read through the ingest's own reader: the summed per-batch dfs
    // partials and the carried nc must equal a fresh build over the
    // accumulated corpus exactly
    def assertMirrors(): Unit = {
      val idx = CorpusIngest.readIndexExcluding(fixtureDocs, outDir, 99L).get
      val rebuilt = Dedup.buildDedupIndex(
        CorpusIngest.readCorpus(spark, s"$outDir/corpus").get)
      assert(idx.hashes.collect().map(_.getString(0)).toSet ==
        rebuilt.hashes.collect().map(_.getString(0)).toSet)
      assert(pairs(idx.dfs.select($"shingle", $"df")) ==
        pairs(rebuilt.dfs.select($"shingle", $"df")))
      assert(pairs(idx.shingles.select($"c_id", $"nc").distinct()) ==
        pairs(rebuilt.shingles.select($"c_id", $"nc").distinct()))
      assert(idx.shingles.filter($"nc".isNull).count() == 0)
    }
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" < 200), outDir, 0L)
    assertMirrors()
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" >= 200), outDir, 1L)
    assertMirrors()
  }

  test("an index from before r7 fails loudly") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_str").toString
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" < 200), outDir, 0L)
    // devolve batch 0 to the pre-r7 vintage: its shingle rows lose the
    // carried nc and its dfs partial disappears
    val shDir = s"$outDir/index/shingles/ingest_batch=0"
    val legacy = spark.read.parquet(shDir).drop("nc")
    val tmp = java.nio.file.Files.createTempDirectory("graft_str_tmp").toString
    legacy.write.mode("overwrite").parquet(tmp)
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(shDir))
    new java.io.File(tmp).renameTo(new java.io.File(shDir))
    rmrf(new java.io.File(s"$outDir/index/dfs/ingest_batch=0"))
    // the next batch must refuse the index, not read NULL nc into the
    // Jaccard filter or undercount df
    val e = intercept[IllegalStateException] {
      CorpusIngest.processBatch(
        fixtureDocs.filter($"doc_id" >= 200 && $"doc_id" < 400), outDir, 1L)
    }
    assert(e.getMessage.contains("ingest_batch=0") && e.getMessage.contains("rebuild"),
      e.getMessage)
  }

  test("indexLayout names each table writeDedupIndex writes with its schema, jobless") {
    val docs = fixtureDocs.filter($"doc_id" < 100)
    var layout = ""
    val jobs = SparkInternals.jobsStarted(spark.sparkContext, "corpus-ingest-spec-layout") {
      layout = Dedup.indexLayout(docs, 3)
    }
    assert(jobs === 0, s"$jobs jobs")
    val path = java.nio.file.Files.createTempDirectory("graft_layout").toString + "/ix"
    Dedup.writeDedupIndex(docs, path, k = 3)
    val tables = new java.io.File(path).listFiles.filter(_.isDirectory).map(_.getName)
    assert(layout.split('|').map(_.takeWhile(_ != ':')).sorted === tables.sorted)
    // the schemas the files carry, inferred here: readDedupIndex reads
    // with the layout's schemas, so this is what keeps them honest
    assert(layout === Seq("hashes", "shingles", "dfs")
      .map(t => s"$t:${spark.read.parquet(s"$path/$t").schema.catalogString}")
      .mkString("|"))
  }

  test("publishSnapshot: same docs, no provenance column, sorted file layout") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_snap").toString
    val snapDir = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/v1"
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" < 200), outDir, 0L)
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" >= 200), outDir, 1L)
    val n = CorpusIngest.publishSnapshot(spark, outDir, snapDir,
      targetFileBytes = 16L << 10)
    val corpus = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get
    val snap = spark.read.parquet(snapDir)
    assert(n == corpus.count() && snap.count() == n)
    assert(!snap.columns.contains("ingest_batch"))
    assert(snap.join(corpus.select("doc_id"), Seq("doc_id"), "left_anti").count() == 0)
    // sorted layout: per-file doc_id ranges are disjoint
    val ranges = snap.groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2)
      case _ =>
    }
  }

  test("batch replay is idempotent: reprocessing overwrites, never double-appends") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_rep").toString
    val wave = fixtureDocs.filter($"doc_id" < 100)
    CorpusIngest.processBatch(wave, outDir, batchId = 0L)
    val once = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get.count()
    // crash-replay of the SAME batch id
    CorpusIngest.processBatch(wave, outDir, batchId = 0L)
    val twice = CorpusIngest.readCorpus(spark, s"$outDir/corpus").get.count()
    assert(once == twice, "replaying a batch id must overwrite its partition")
  }

  test("the index read starts as many Spark jobs after 4 batches as after 2") {
    // none: each index table is one partition-discovering read with the
    // schema the writer derives. A schema-inferring read would start a
    // job per table, and a read per batch directory one per batch.
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_flat").toString
    def ingest(b: Long): Unit =
      CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" % 4 === b), outDir, b)
    def readJobs(): Int =
      SparkInternals.jobsStarted(spark.sparkContext, "corpus-ingest-spec-index-read") {
        assert(CorpusIngest.readIndexExcluding(fixtureDocs, outDir, 99L).isDefined)
      }
    Seq(0L, 1L).foreach(ingest)
    val afterTwo = readJobs()
    Seq(2L, 3L).foreach(ingest)
    val afterFour = readJobs()
    assert(afterTwo === 0 && afterFour === 0,
      s"$afterTwo jobs after 2 batches, $afterFour after 4")
  }

  test("a non-first batch stays within its Spark-job budget and releases what it persists") {
    val sc = spark.sparkContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_jobs").toString
    val first = SparkInternals.jobsStarted(sc, "corpus-ingest-spec-first") {
      CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" < 200), outDir, 0L)
    }
    assert(first > 0 && first <= MaxFirstBatchJobs, s"$first jobs in the first batch")
    val before = cachedNonCkpt()
    val jobs = SparkInternals.jobsStarted(sc, "corpus-ingest-spec-batch") {
      CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" >= 200), outDir, 1L)
    }
    assert(jobs > 0 && jobs <= MaxBatchJobs, s"$jobs jobs")
    assert((cachedNonCkpt() -- before).isEmpty,
      "processBatch must unpersist the frames it pins")
  }

  test("a batch whose write fails releases every frame it pinned") {
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_fail").toString
    CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" < 200), outDir, 0L)
    // a regular file where the reports directory should be: batch 1
    // pins, dedups and writes its corpus and index leaves, then fails
    // on the report write
    val reports = new java.io.File(s"$outDir/reports")
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(reports)
    assert(reports.createNewFile())
    val before = cachedNonCkpt()
    intercept[Exception] {
      CorpusIngest.processBatch(fixtureDocs.filter($"doc_id" >= 200), outDir, 1L)
    }
    assert(new java.io.File(s"$outDir/corpus/ingest_batch=1").isDirectory,
      "the failure must come after the batch pinned its frames")
    assert((cachedNonCkpt() -- before).isEmpty,
      "a failed batch must unpersist the frames it pinned")
  }

  /** Run `body` with every file source's planned size scaled by
    * `factor` (`spark.sql.sources.fileCompressionFactor`; unscaled if
    * None), then restore it: a scaled batch plans above
    * [[CorpusIngest.OnePartitionMaxBytes]] and keeps its scan partitions. */
  private def withFileSizeScaled[T](factor: Option[Double])(body: => T): T = {
    val key = "spark.sql.sources.fileCompressionFactor"
    val saved = spark.conf.getOption(key)
    factor.foreach(f => spark.conf.set(key, f.toString))
    try body finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A factor that lifts a batch of `bytes` over the one-partition bound. */
  private def splitFactor(bytes: Long): Option[Double] =
    Some(math.ceil(2.0 * CorpusIngest.OnePartitionMaxBytes / bytes.toDouble))

  test("the one-partition plan ingests exactly what the scan-partitioned plan ingests") {
    // The same four waves, each landed as one file, twice: at their own
    // size each is pinned as one partition; with the file statistics
    // scaled past the bound each keeps its scan partitions. A frame keeps
    // the statistics it was first planned with, so each run reads the
    // waves afresh under its own factor.
    val landing = java.nio.file.Files.createTempDirectory("graft_ingest_waves").toString
    val batches = 0L to 3L
    batches.foreach(b =>
      landFile(fixtureDocs.filter($"doc_id" % 4 === b), landing, s"wave$b.parquet"))
    val size = batches.map(b => new java.io.File(landing, s"wave$b.parquet").length).min
    def ingest(factor: Option[Double]): (String, Int) = withFileSizeScaled(factor) {
      val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_gate").toString
      val waves = batches.map(b => b -> spark.read.parquet(s"$landing/wave$b.parquet"))
      waves.foreach { case (_, wave) =>
        assert(CorpusIngest.fitsOnePartition(wave) === factor.isEmpty) }
      val jobs = SparkInternals.jobsStarted(spark.sparkContext, "corpus-ingest-spec-gate") {
        waves.foreach { case (b, wave) => CorpusIngest.processBatch(wave, outDir, b) }
      }
      (outDir, jobs)
    }
    val (pinnedDir, pinnedJobs) = ingest(None)
    val (splitDir, splitJobs) = ingest(splitFactor(size))
    assert(pinnedJobs < splitJobs,
      s"the one-partition plan starts $pinnedJobs jobs, the split plan $splitJobs")
    for (table <- Seq("corpus", "reports", "index/hashes", "index/shingles", "index/dfs")) {
      val a = spark.read.parquet(s"$pinnedDir/$table")
      val b = spark.read.parquet(s"$splitDir/$table")
      assert(a.count() > 0 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$table differs between the two plans")
    }
  }

  test("a wave streamed through start takes the one-partition plan") {
    // foreachBatch hands processBatch a LogicalRDD over the file
    // source's scan, so the gate sees only the statistics it carries.
    // The two plans differ in Spark jobs, so the stream's own job group
    // (its runId) tells which one the batch took.
    val wave = fixtureDocs.filter($"doc_id" < 200)
    def streamJobs(split: Boolean): Int = {
      val inDir = java.nio.file.Files.createTempDirectory("graft_ingest_in").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_out").toString
      landFile(wave, inDir, "wave.parquet")
      val bytes = new java.io.File(inDir, "wave.parquet").length
      var runId = ""
      val jobs = withFileSizeScaled(if (split) splitFactor(bytes) else None) {
        SparkInternals.jobsByGroup(spark.sparkContext) {
          val q = CorpusIngest.start(spark, inDir, outDir, docSchema)
          runId = q.runId.toString
          q.awaitTermination()
        }
      }
      assert(spark.read.parquet(s"$outDir/reports").count() === 1, "one batch")
      jobs.getOrElse(runId, 0)
    }
    val pinned = streamJobs(split = false)
    val split = streamJobs(split = true)
    info(s"streamed wave: $pinned jobs on one partition, $split on scan partitions")
    assert(pinned > 0 && pinned <= MaxFirstBatchJobs && pinned < split,
      s"the streamed wave started $pinned jobs, $split on the scan-partitioned plan")
  }
}
