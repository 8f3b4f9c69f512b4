package perfbench

import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CorpusMain, SparkEntry}
import graft.operators.{Dedup, Sharding, TextAnalysis}
import graft.ops.Memo
import graft.streaming.CorpusIngest

/** The LLM-data flagship, three ways over one generated corpus:
  *   A. `CorpusMain.run` on the base set (clean, exact and MinHash-LSH
  *      dedup, connected components, passage prune, shards, packed
  *      sequences, all written) - the first operation after setup, as
  *      a `CorpusMain` invocation pays it;
  *   B. held-out micro-batches through `CorpusIngest.processBatch`,
  *      starting from an empty directory;
  *   C. the registry's corpus-dedup queries (`SparkEntry.queries`) over
  *      the same documents table, one pass after `Memo.clear`. */
object Corpus {

  /** Input size: base docs (also the registry's documents table) and
    * held-out ingest batches. */
  val baseDocs = 2000
  val batches = 2
  val batchDocs = 500
  val seqLen = 256L
  val pruneChunkTokens = 32
  val queries: Seq[String] =
    Seq("q140_survivor_pick", "q39_dedup_clusters", "q49_dedup_corpus").sorted

  /** Text shape measured on the sf0.1 `documents.parquet` (5,000 docs):
    * every token is one of these 30 words, drawn uniformly whatever the
    * language label ("the" and "a" included); 10 to 100 tokens, uniform;
    * labels en/zh/es/fr/de in the table's counts; source src(doc_id mod
    * 20); and 5% of docs (250) are another doc's text with " dup"
    * appended, which also yields exact duplicates where two copies share
    * a source (8 pairs in the table). */
  private val words = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")
  private val langCounts = Seq("en" -> 2059, "zh" -> 753, "es" -> 744, "fr" -> 742, "de" -> 702)
  val dupShare = 0.05

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
                       n_chars: Long)

  private def lang(rnd: SplittableRandom): String = {
    var k = rnd.nextInt(langCounts.map(_._2).sum)
    langCounts.find { case (_, n) => k -= n; k < 0 }.get._1
  }

  private def doc(id: Long, text: String, lang: String): Doc =
    Doc(id, text, lang, s"src${id % 20}", text.length.toLong)

  /** `n` docs from id `first` on. Each is, with probability [[dupShare]],
    * a copy of a doc drawn from `pool` and the docs made before it, with
    * " dup" appended; otherwise fresh text. */
  private def docs(rnd: SplittableRandom, first: Long, n: Int, pool: Seq[Doc]): Seq[Doc] = {
    val made = pool.toBuffer
    (0 until n).map { i =>
      val text =
        if (made.nonEmpty && rnd.nextDouble() < dupShare) made(rnd.nextInt(made.size)).text + " dup"
        else Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size))).mkString(" ")
      val d = doc(first + i, text, lang(rnd))
      made += d
      d
    }
  }

  private def write(spark: SparkSession, docs: Seq[Doc], path: String): Unit = {
    import spark.implicits._
    docs.toDS().coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum
  }

  def run(r: Run): Outcome = {
    val spark = r.spark
    val tr = r.tracer
    val rnd = new SplittableRandom(r.seed ^ 0x5eed5eedL)

    // inputs: base corpus (also the registry's documents table) and
    // held-out batches whose copies reach back into earlier batches
    val tables = r.dir("corpus-tables")
    val base = docs(rnd, 0L, baseDocs, Nil)
    write(spark, base, s"$tables/documents.parquet")
    val batchDocsSeq = (0 until batches).foldLeft(Seq.empty[Seq[Doc]]) { (done, b) =>
      done :+ docs(rnd, baseDocs + b.toLong * batchDocs, batchDocs, done.flatten)
    }
    val batchPaths = batchDocsSeq.zipWithIndex.map { case (ds, b) =>
      val p = r.dir("corpus-batches") + s"/batch-$b"
      write(spark, ds, p)
      p -> ds.size
    }

    r.log("inputs written")
    // A - whole-corpus build
    val outA = r.dir("corpus-out")
    val build = r.attempt("corpus.build")(tr.span("corpus.build")(
      CorpusMain.run(spark, s"$tables/documents.parquet", outA,
        seqLen = Some(seqLen), prunePassageTokens = Some(pruneChunkTokens))))

    // B - streaming ingest, one batch at a time
    val ingest = r.dir("corpus-ingest")
    val batchTimes = batchPaths.zipWithIndex.flatMap { case ((p, _), b) =>
      r.attempt("ingest.batch")(tr.span("ingest.batch")(
        CorpusIngest.processBatch(spark.read.parquet(p), ingest, b.toLong))).map(_._2)
    }

    // C - one registry pass (phases A and B already ran the operators
    // these queries share, so no untimed warm-up pass)
    val defs = SparkEntry.queries
    Memo.clear(spark)
    val h0 = Memo.hitCount(spark)
    val ran = tr.span("registry.pass")(queries.flatMap { q =>
      r.attempt(q)(tr.span(s"query.$q")(Registry.runQuery(defs(q)(spark, tables)))).map(q -> _)
    }).toMap
    val memoHits = (Memo.hitCount(spark) - h0).toDouble
    val passS = if (ran.size == queries.size) Seq(ran.values.map(_._2).sum) else Nil

    // checks, outside the timed region
    val report = build.map(_._1)
    def distinctTexts(path: String) = {
      val row = spark.read.parquet(path)
        .agg(count(lit(1)), countDistinct(xxhash64(col("text")))).first()
      row.getLong(0) > 0 && row.getLong(0) == row.getLong(1)
    }
    val reports = try spark.read.parquet(s"$ingest/reports").collect()
      .map(x => (x.getAs[Int]("ingest_batch"), x.getAs[Long]("n_input"), x.getAs[Long]("n_cleaned"),
        x.getAs[Long]("n_batch_novel"), x.getAs[Long]("n_novel"))).sortBy(_._1).toSeq
    catch { case _: Exception => Seq.empty }
    val countsKey = report.map(x => s"${x.nInput},${x.nCleaned},${x.nDeduped},${x.nSampled}," +
      s"${x.nShards},${x.totalTokens},${x.nSequences},${x.nFragments},${x.nScrubDropped}")
      .getOrElse("failed") + "|" + reports.mkString(";")
    val checks = Seq(
      r.check("corpus.funnel_monotone")(report.exists(x => x.nInput >= x.nCleaned &&
        x.nCleaned >= x.nDeduped && x.nDeduped >= x.nSampled && x.nScrubDropped >= 0 &&
        x.nDeduped > 0)),
      r.check("corpus.output_distinct")(distinctTexts(s"$outA/corpus")),
      r.check("corpus.same_counts_for_seed")(r.ledger.same("corpus.counts", countsKey)),
      r.check("ingest.landed_distinct")(distinctTexts(s"$ingest/corpus")),
      r.check("ingest.reports_consistent")(reports.size == batches &&
        reports.forall { case (b, in, c, bn, n) =>
          in == batchPaths(b)._2 && in >= c && c >= bn && bn >= n } &&
        reports.map(_._5).sum == spark.read.parquet(s"$ingest/corpus").count())) ++
      queries.map(q => r.check(s"registry.$q.same_for_seed")(
        r.ledger.same(q, ran.get(q).map(_._1).getOrElse("failed"))))

    r.log("checks done")
    val layers = if (!tr.enabled) Map.empty[String, Double] else
      traced(r, tables, outA, ingest, batchPaths.map(_._1), build.map(_._2), reports, memoHits,
        ran.map { case (q, (_, sec)) => q -> sec })

    val buildS = build.map(_._2).toSeq
    Outcome(checks,
      first = Metric("first_s", "s", buildS),
      op = Metric("op_s", "s", batchTimes),
      firstCpu = Metric("first_cpu_nojit_s", "s", r.workCpuSamples("corpus.build")),
      opCpu = Metric("op_cpu_nojit_s", "s", r.workCpuSamples("ingest.batch"), mean = true),
      named = Seq(Metric("corpus_build_s", "s", buildS),
        Metric("ingest_batch_s", "s", batchTimes),
        Metric("registry_pass_s", "s", passS),
        Metric("first_cpu_s", "s", r.cpuSamples("corpus.build")),
        Metric("op_cpu_s", "s", r.cpuSamples("ingest.batch"), mean = true)),
      layers = layers)
  }

  /** Per-layer readings of the traced run, including the staged replica
    * of `CorpusMain.run` whose spans split the build into its stages. */
  private def traced(r: Run, tables: String, outA: String, ingest: String,
                     batchPaths: Seq[String], buildS: Option[Double],
                     reports: Seq[(Int, Long, Long, Long, Long)],
                     memoHits: Double, perQuery: Map[String, Double]): Map[String, Double] = {
    val tr = r.tracer
    val (stageS, keepRatio) = replica(r, s"$tables/documents.parquet", r.dir("corpus-replica"))
    tr.drain()
    val mb = 1024.0 * 1024.0
    val buildC = tr.countersOf("corpus.build")
    val batchSpans = tr.named("ingest.batch")
    val inputBytes = batchPaths.map(dirBytes).sum.toDouble
    SparkLayer.perOp(batchSpans.map(tr.counters).foldLeft(new Counters)(_ add _),
      batchSpans.size) ++ stageS ++ Registry.layerMetrics(perQuery, memoHits) ++ Map(
      "corpus.keep_ratio" -> keepRatio,
      "corpus.span_gap_s" -> (buildS.getOrElse(0.0) - stageS.values.sum),
      "corpus.jobs" -> buildC.jobs.toDouble,
      "jvm.cpu_per_op_s" -> Stats.mean(r.cpuSamples("ingest.batch")),
      "jvm.jit_per_op_s" -> Stats.mean(r.jitSamples("ingest.batch")),
      "corpus.exec_cpu_s" -> buildC.cpuNs / 1e9,
      "corpus.shuffle_write_mb" -> buildC.shuffleWrite / mb,
      "ingest.first_batch_s" -> batchSpans.headOption.map(_.seconds).getOrElse(0.0),
      "ingest.last_batch_s" -> batchSpans.lastOption.map(_.seconds).getOrElse(0.0),
      "ingest.jobs_per_batch" -> batchSpans.map(tr.counters(_).jobs).sum.toDouble / math.max(batchSpans.size, 1),
      "ingest.novel_ratio" -> reports.map(_._5).sum.toDouble / math.max(reports.map(_._2).sum, 1L),
      "ingest.write_amp" -> (dirBytes(s"$ingest/corpus") + dirBytes(s"$ingest/index")) / math.max(inputBytes, 1.0))
  }

  /** The public stages of `CorpusMain.run`, in its order and with its
    * defaults, each under its own span. Returns stage seconds and the
    * keep ratio (deduped / cleaned). */
  private def replica(r: Run, docsPath: String, out: String): (Map[String, Double], Double) = {
    val spark = r.spark
    val tr = r.tracer
    def pinned(df: DataFrame): (DataFrame, Long) = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.count())
    }
    val docs = spark.read.parquet(docsPath).repartition(spark.sparkContext.defaultParallelism)
    val ((cleaned, nCleaned), cleanS) = Clock.timed(tr.span("corpus.clean")(pinned(
      docs.join(TextAnalysis.cleanCorpus(docs).select("doc_id"), Seq("doc_id"), "left_semi"))))
    val ((deduped, nDeduped), dedupS) = Clock.timed(tr.span("corpus.dedup")(pinned(
      Dedup.dedupCorpus(cleaned))))
    val ((scrubbed, _), pruneS) = Clock.timed(tr.span("corpus.prune")(pinned(
      deduped.drop("text")
        .join(TextAnalysis.prunePassages(deduped, chunkTokens = pruneChunkTokens)
          .select(col("doc_id"), col("pruned_text")), Seq("doc_id"))
        .withColumnRenamed("pruned_text", "text"))))
    val (_, shardS) = Clock.timed(tr.span("corpus.shard_write")(
      Sharding.tokenBudgetShards(scrubbed, 5000L)
        .write.mode("overwrite").partitionBy("shard_id").parquet(s"$out/corpus")))
    val (_, packS) = Clock.timed(tr.span("corpus.pack_write")(
      Sharding.packSequences(scrubbed, seqLen).write.mode("overwrite").parquet(s"$out/sequences")))
    Seq(cleaned, deduped, scrubbed).foreach(_.unpersist(blocking = false))
    (Map("corpus.clean_s" -> cleanS, "corpus.dedup_s" -> dedupS, "corpus.prune_s" -> pruneS,
      "corpus.shard_write_s" -> shardS, "corpus.pack_write_s" -> packS),
      nDeduped.toDouble / math.max(nCleaned, 1L))
  }
}
