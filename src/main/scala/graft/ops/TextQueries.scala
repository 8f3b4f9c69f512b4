package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, Graph, PairPack, Sharding, TextAnalysis}

/** Text-analysis / dedup operator inventory over the `documents`
  * fixture, oracle-paired where the semantics are SQL-expressible.
  * Since r16 that includes the minhash/simhash LSH family: their
  * FNV/splitmix signature arithmetic replays in DuckDB HUGEINT
  * modular SQL ([[LshOracleSql]] — the band combiner moved from
  * xxhash64 to the replayable `mix64_fold` to make it possible).
  */
object TextQueries {

  /** Token counting (whitespace + BPE-ish regex pre-tokenizer). */
  def q30TextTokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withTokenCounts(Tables.documents(spark, dir))
      .select(col("doc_id"),
        col("n_tokens_ws").cast("long").as("n_tokens_ws"),
        col("n_tokens_re").cast("long").as("n_tokens_re"))

  /** Quality scoring with deterministic arithmetic order. */
  def q31TextQuality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withQualityScore(Tables.documents(spark, dir))
      .select(col("doc_id"),
        col("n_words").cast("long").as("n_words"),
        col("mean_word_len"), col("stop_ratio"), col("punct_ratio"),
        col("quality_score"))

  /** Language-ID heuristic scores + argmax prediction. */
  def q32LangId(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withLanguageId(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        col("score_en"), col("score_es"), col("score_fr"), col("score_de"),
        col("lang_pred"))

  /** Exact dedup by content hash. */
  def q33DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(Tables.documents(spark, dir))

  /** The documents fixture is one parquet row-group = one input split;
    * shingle/hash work is CPU-heavy per row, so rebalance to the
    * cluster's cores first. (At 100 TB the scan already yields
    * thousands of splits and AQE balances them — this round-robin only
    * matters for the tiny-file case.) */
  private def docsRebalanced(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism)

  /** Exact 3-gram Jaccard pair set at a threshold: q34 consumes it at
    * t=0.2, q39/q49/q60 at t=0.6, q61 at t=0.2 — without sharing, a
    * full Verify/Bench run recomputes the O(n²)-verified self-join
    * once per consumer (the "oracle tax", ~3x).
    *
    * ONE memo entry serves every threshold: [[Dedup.ngramJaccardPairs]]
    * computes the full (common, n1, n2, jaccard) pair stats and only
    * then filters, so the t=0.6 set IS the t=`BaseThreshold` set
    * filtered on its already-computed `jaccard` column — the base leg
    * is built once per pass and each higher threshold is a free scan
    * of the (tiny) memoized pairs. Thresholds below the base would
    * need pairs the base already dropped, hence the require. */
  private val BaseJaccardThreshold = 0.2
  private def exactJaccardPairs(spark: SparkSession, dir: String,
                                threshold: Double): DataFrame = {
    require(threshold >= BaseJaccardThreshold,
      s"exactJaccardPairs memo base is t=$BaseJaccardThreshold; got $threshold")
    val base = Memo.of(spark, s"ngram_jaccard:$dir:k=3:t=$BaseJaccardThreshold") {
      Dedup.ngramJaccardPairs(docsRebalanced(spark, dir),
        k = 3, threshold = BaseJaccardThreshold)
    }
    if (threshold == BaseJaccardThreshold) base
    else base.filter(col("jaccard") >= threshold)
  }

  /** Exact 3-gram Jaccard near-dup pairs (brute-force oracle path). */
  def q34NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    exactJaccardPairs(spark, dir, threshold = 0.2)

  /** Exact Jaccard pairs at 500‰ through the PREFIX-FILTERED engine
    * ([[Dedup.prefixJaccardPairs]]) — q34's semantics from a different
    * plan: candidates seed only from each doc's df-rarest shingles, so
    * hot boilerplate never pays the f²/2 self-join toll AND the
    * semantics stay exact (no capped universe). The oracle is the
    * plain exact-Jaccard SQL at the same integer gate; a green row
    * certifies the prefix filter's LOSSLESSNESS end to end, because
    * any candidate the prefix drops would show up as a missing row.
    * Deliberately NOT memo-shared with q34's leg — the point is the
    * independent plan. */
  def q197PrefixJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.prefixJaccardPairs(docsRebalanced(spark, dir), k = 3,
      thresholdPermille = 500L)

  /** Dedup threshold calibration ([[Dedup.yieldCurve]]): pair and
    * flagged-doc volume at 600/700/800/900‰ Jaccard, all read off the
    * ONE memoized base pair leg — the sweep a pipeline runs to pick
    * its production threshold, at the cost of a 4-row broadcast grid
    * against the already-computed pair stats. Integer gates only, so
    * the curve is exact at every boundary. */
  def q157DedupYield(spark: SparkSession, dir: String): DataFrame =
    Dedup.yieldCurve(exactJaccardPairs(spark, dir, BaseJaccardThreshold),
      thresholdsPermille = Seq(600L, 700L, 800L, 900L))

  /** MinHash+LSH near-dup pairs (scale path) under the FULL
    * cross-engine gate since r16 ([[LshOracleSql.minHashPairsSql]]
    * replays signatures, band buckets and the verification Jaccard).
    * The band count is NOT passed: [[Dedup.lshBandsFor]] derives it
    * from (16 hashes, 600‰) — 4 bands of 4, the dial this query
    * deployed by hand since r7, now computed by the spec'd helper
    * (r19; the oracle below replays bands=4 explicitly, so the green
    * row certifies the helper lands on the deployed dial).
    * Memoized: q60 re-reads this output as its approx side. */
  def q35MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"minhash_pairs:$dir") {
      Dedup.minHashPairs(docsRebalanced(spark, dir),
        k = 3, numHashes = 16, threshold = 0.6)
    }

  /** SimHash near-dup pairs (scale path) under the FULL cross-engine
    * gate since r16 ([[LshOracleSql.simHashPairsSql]]).
    * Memoized: q61 re-reads this output as its approx side. */
  def q36SimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"simhash_pairs:$dir") {
      Dedup.simHashPairs(docsRebalanced(spark, dir), maxHamming = 6)
    }

  /** Content fingerprints (md5 columns only — xxhash64/rolling are
    * Spark-side integers DuckDB can't reproduce; spec-tested instead). */
  def q37Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withFingerprints(Tables.documents(spark, dir))
      .select(col("doc_id"), col("fp_md5"), col("fp_bucket"))

  /** Token-budget sharding per source stream (training-data packing). */
  def q38TokenShard(spark: SparkSession, dir: String): DataFrame =
    Sharding.tokenBudgetShards(Tables.documents(spark, dir), tokenBudget = 5000)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("shard_id"))

  /** Corpus-level term document frequency (the IDF statistic). */
  def q44TermDf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.termDocFreq(Tables.documents(spark, dir))

  /** Keyword extraction: top-3 terms per doc by frequency lift tf/df
    * (see [[TextAnalysis.topTermsPerDoc]] for why tf/df and not
    * tf·ln(N/df) under a cross-engine hash gate). */
  def q66TopTerms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topTermsPerDoc(Tables.documents(spark, dir), k = 3)

  /** Chunk-level (sub-document) duplicate detection: docs sharing at
    * least one aligned 32-token chunk with another doc — boilerplate
    * that document-level dedup can't see. */
  def q67DupChunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupChunkDocs(Tables.documents(spark, dir),
      chunkTokens = 32, overlap = 0, minDocs = 2, minDupChunks = 1)

  /** Any-offset duplicate spans (exact-substring-dedup shape): maximal
    * coalesced token ranges shared verbatim with another doc at ANY
    * alignment — q67's aligned chunks miss a one-token shift; this
    * does not. 15-token windows, all-integer output. */
  def q106DupSpans(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.dupSpans(Tables.documents(spark, dir),
      windowTokens = 15, minDocs = 2)

  /** Per-source corpus health report (volume, mean length, language
    * share, exact-dup volume) — integer-derived columns only. */
  def q68CorpusStats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusStats(Tables.documents(spark, dir))

  /** PII-style redaction: emails + long digit runs → tags + count. */
  def q45Redact(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.withRedaction(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_redactions"), col("redacted"))

  /** Deterministic weighted source mixing (reproducible data recipe). */
  val mixWeights: Map[String, Double] = Map(
    "src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1)
  def q46MixQuota(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.mixBySourceQuota(Tables.documents(spark, dir), mixWeights)
      .select(col("doc_id"), col("source"))

  /** Benchmark decontamination: src0 plays the eval set; every other
    * doc sharing >= 3 distinct 3-gram shingles with it is flagged. */
  def q48Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    Dedup.contamination(
      docs.filter(col("source") =!= "src0"),
      docs.filter(col("source") === "src0"),
      k = 3, minOverlap = 3)
  }

  /** Bloom-filter decontamination PRE-FILTER — the 100 TB shape of
    * q48: the eval set's distinct 3-gram shingles build a 2¹⁷-bit /
    * 3-hash Bloom bitmap (2,048 BIGINT words ≈ 16 KB — broadcastable
    * at ANY eval-set scale, where q48 broadcasts the shingle set
    * itself), and the corpus side is probed SHUFFLE-FREE
    * ([[graft.operators.Sketches.bloomMaybe]]: positions as columns,
    * broadcast lookups, no explode) with one final per-doc aggregate.
    * The Bloom theorem makes the split sound: NO false negatives —
    * every doc q48 flags, this flags (pinned in Round17Spec) — so the
    * exact overlap join need only run on the pre-filter's survivors;
    * false positives cost only wasted exact-checks, at the classic
    * (1−e^(−kn/m))^k ≈ 0.9 % at the sf0.1 dials. mBits is FIXED at
    * 2¹⁷ here because the DuckDB oracle replays the literal bitmap;
    * production must scale m with the eval-set size to hold the FPR —
    * [[graft.operators.Sketches.bloomBitsFor]] is that dial (2¹⁷ is
    * exactly its output for this fixture's ~10k-shingle eval set at
    * k=3 / 10‰ target; the deployed points are pinned in
    * Round18Spec). Everything is
    * integer arithmetic over md5-slice positions (one digest per
    * shingle, r18), so bitmap, probe, and per-doc counts all replay
    * under the DuckDB gate. */
  def q193BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), col("source"),
        explode(array_distinct(expr("transform(sequence(0, size(w) - 3), " +
          "i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"))).as("shingle"))
    val bits = graft.operators.Sketches.bloomBits(
      sh.filter(col("source") === "src0").select("shingle"), "shingle")
    graft.operators.Sketches.bloomMaybe(
        sh.filter(col("source") =!= "src0").select("doc_id", "shingle"),
        "shingle", bits, carry = Seq("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_shingles"),
        sum(when(col("maybe"), 1L).otherwise(0L)).as("n_maybe"))
      .withColumn("flagged_bloom", col("n_maybe") >= 3)
  }

  /** Flagship end-to-end dedup: exact pass → near-dup pairs →
    * connected components → one representative per component. Uses the
    * exact-Jaccard pair leg so DuckDB can replay the whole composition
    * (the production operator, [[Dedup.dedupCorpus]], swaps in
    * MinHash-LSH pairs — spec-pinned instead). */
  def q49DedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsRebalanced(spark, dir)
    val survivorIds = Dedup.exactDedup(docs).select("doc_id")
    val exact = docs.join(survivorIds, Seq("doc_id"), "left_semi")
    // Jaccard is pairwise, so the pair set over the exact-dedup
    // survivors IS the full-corpus pair set with both endpoints
    // restricted to survivors — which lets this composition reuse the
    // memoized leg q39/q60 already computed instead of re-running the
    // shingle self-join on an almost-identical input.
    val pairs = exactJaccardPairs(spark, dir, threshold = 0.6)
      .join(survivorIds.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
      .join(survivorIds.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")
      .select("d1", "d2")
    val comp = Graph.connectedComponents(pairs)
    exact.join(comp, Seq("doc_id"), "left")
      .filter(col("component_id").isNull || col("component_id") === col("doc_id"))
      .select(col("doc_id"), col("source"))
  }

  /** Fixed-window document chunking with overlap (RAG/pretraining
    * splitter): 32-token chunks, 8-token overlap. */
  def q56Chunks(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkDocs(Tables.documents(spark, dir),
      chunkTokens = 32, overlap = 8)

  /** Bigram-concentration repetition signal (boilerplate filter). */
  def q47Repetition(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramRepetition(Tables.documents(spark, dir))

  /** The near-dup component frame (doc_id, component_id) shared by
    * q39 and q140 — memoized because connectedComponents runs Spark
    * jobs (the bounded pair probe, or the iterative join chain above
    * `Graph.LocalMaxEdges`) worth paying once per session. */
  private def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"dedup_components:$dir:k=3:t=0.6") {
      Graph.connectedComponents(
        exactJaccardPairs(spark, dir, threshold = 0.6).select(col("d1"), col("d2")))
    }

  /** Near-dup clusters: exact-Jaccard pairs → connected components →
    * (doc_id, component_id=min reachable id). The full dedup story:
    * group near-dups, keep the representative per component. */
  def q39DedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)

  /** Survivor selection policy over the q39 components: per near-dup
    * cluster keep the LONGEST copy (token count, doc_id tiebreak) —
    * the policy real pretraining pipelines run, because the min-id
    * representative the CC labeling hands back is arbitrary while the
    * longest copy preserves the most content (truncated mirrors and
    * quoted excerpts lose). Emits (component_id, survivor_id,
    * n_tokens), one row per cluster.
    *
    * Scale: the rank window partitions by component_id, so its sort
    * frames are clique-sized — and cliques are bounded because the
    * mandatory exact-dedup pre-pass removes identical-copy blowups
    * before LSH clustering (the [[Dedup.exactDedup]] scaladoc
    * contract); the components leg is memoized and shared with q39. */
  def q140SurvivorPick(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy("component_id")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    dedupComponents(spark, dir).join(toks, "doc_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("component_id"), col("doc_id").as("survivor_id"),
        col("n_tokens"))
  }

  /** MinHash-LSH recall vs the exact-Jaccard pair set at the same
    * threshold — the numeric signal for q35's rows-only output
    * (one hash-checkable row, deterministic under fixed seeds). */
  def q60MinhashRecall(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q35MinhashPairs(spark, dir).select(col("d1"), col("d2")),
      exactJaccardPairs(spark, dir, threshold = 0.6).select(col("d1"), col("d2")),
      Seq("d1", "d2"))

  /** SimHash agreement vs the exact-Jaccard near-dup set at q34's
    * threshold (q36's signal): n_hits/n_exact = recall, and
    * n_hits vs n_approx exposes the precision side of hamming<=6. */
  def q61SimhashAgreement(spark: SparkSession, dir: String): DataFrame =
    Agreement.summarize(
      q36SimhashPairs(spark, dir).select(col("d1"), col("d2")),
      exactJaccardPairs(spark, dir, threshold = 0.2).select(col("d1"), col("d2")),
      Seq("d1", "d2"))

  /** The q62/q135 delta family's shared legs, memoized (the
    * exactJaccardPairs convention): the exact-novel delta frame and
    * [[Dedup.deltaPairStats]]' cross-side pair aggregate over the
    * %5 corpus/delta split. The two registered queries differ ONLY in
    * the dup predicate ([[Dedup.dupIdsFromStats]] — Jaccard-only vs
    * Jaccard+containment), so a Verify/Bench run pays the shingle
    * self-join once, not per gate. The eager count() populates the
    * lazily-persisted `en` before the consuming plan reads it from
    * two branches (the q105 lesson). */
  private def deltaLegs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = docsRebalanced(spark, dir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val delta = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val en = Memo.of(spark, s"delta_en:$dir:corpus=mod5ne0") {
      Dedup.exactNovelDocs(corpus, delta)
    }
    en.count()
    val stats = Memo.of(spark, s"delta_stats:$dir:k=3:corpus=mod5ne0") {
      Dedup.deltaPairStats(corpus, en, k = 3)
    }
    (en, stats)
  }

  /** Incremental dedup: the docs with doc_id % 5 == 0 arrive as a new
    * ingest batch and are tested for novelty against the rest of the
    * corpus — exact hash first, then cross-side shingle Jaccard.
    * Composed from the memoized [[deltaLegs]]; the one-shot operator
    * form is [[Dedup.deltaDedup]]`(releaseEagerly = false)`, which
    * builds the identical plan from the same shared cores
    * (equivalence spec-pinned in CorpusIngestSpec). */
  def q62DeltaDedup(spark: SparkSession, dir: String): DataFrame = {
    val (en, stats) = deltaLegs(spark, dir)
    en.join(Dedup.dupIdsFromStats(stats, threshold = 0.6,
        containmentPermille = None), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** The r7 indexed + CAPPED incremental dedup under the oracle gate:
    * q62's split driven through [[Dedup.writeDedupIndex]] →
    * [[Dedup.deltaDedupIndexed]] with the hot-shingle cap — the
    * materialized per-shingle dfs (corpus side) plus the batch's own
    * df, summed, decide hotness exactly as the direct operator's
    * both-sides measurement does, and the oracle replays the capped
    * universe over string shingles. Cap=2 is the one value that BITES
    * at sf0.01 (a DuckDB sweep of caps 2–20: only cap=2 changes the
    * novel set — one near-dup's shared shingles all sit at df=2, so
    * dropping them frees one extra delta doc, 88 rows vs q62's 87) —
    * measured, not assumed, so the query proves the capped path
    * changes the answer the way the cap is supposed to.
    *
    * Bounded to doc_id < 1000 (a no-op at the sf0.01 correctness
    * scale, whose ids stop at 499): with cap=2 pinned by the oracle,
    * larger fixtures turn most of their (richer-df) shingle universe
    * hot, which is maximal capping work on a gate that only certifies
    * semantics — the capped path's SCALING evidence is the biting-cap
    * equivalence spec and the ScaleProbe table, not this replay. */
  def q105DeltaDedupIndexedCapped(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsRebalanced(spark, dir).filter(col("doc_id") < 1000)
    // deltaDedupIndexed is written against a MATERIALIZED index (its
    // capped path reads the shingle table several times — dfs,
    // hot-per-doc adjustment, the anti-join — each a cheap parquet
    // scan in production, where the index SHIPS with the corpus like
    // q185's cluster.idx). r17: the materialization is now REAL — the
    // index is built once per (source parquet, dials) and persisted
    // via Dedup.writeDedupIndex, then every run (and every bench pass
    // past the first) consumes it as deterministic parquet scans.
    // This is both the honest production shape and the fix for the
    // r16-measured ±15% same-machine spread: the in-session
    // MEMORY_AND_DISK persist simulation re-ran the build every pass
    // and its spill/GC timing was the one non-deterministic leg
    // (ARCHITECTURE r16/r17 notes); a parquet read has no such mode.
    val index = Dedup.readDedupIndex(docs, q105IndexPath(spark, dir))
    Dedup.deltaDedupIndexed(index,
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      k = 3, threshold = 0.6, maxShingleDocFreq = Some(2),
      releaseEagerly = false)
      .select(col("doc_id"), col("source"))
  }

  /** Build-once path for q105's persisted dedup index. The artifact
    * key embeds the source parquet's (path, length, NANOSECOND mtime)
    * file set — ns granularity (ADVICE r17) so a same-size fixture
    * regenerated within the same wall-clock second still changes the
    * signature — so a regenerated fixture can never serve a stale
    * index, and the index layout ([[Dedup.indexLayout]]), so an index
    * an older writer left is never read as the current one. Staging +
    * atomic rename keeps concurrent builders (parallel local runs)
    * correct — the loser's staging dir is discarded. Build-path runs
    * also sweep crashed builders' orphaned `.stage-<pid>` dirs and
    * week-old index dirs, bounding tmpdir accumulation. */
  private def q105IndexPath(spark: SparkSession, dir: String): String =
    q105IndexLock.synchronized {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.sortBy(_.getName).flatMap(walk)
        else Seq(f)
      def nsMtime(f: java.io.File): Long =
        java.nio.file.Files.getLastModifiedTime(f.toPath)
          .to(java.util.concurrent.TimeUnit.NANOSECONDS)
      val corpus = docsRebalanced(spark, dir)
        .filter(col("doc_id") < 1000)
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val sigSrc = walk(new java.io.File(s"$dir/documents.parquet"))
        .map(f => s"${f.getPath}:${f.length}:${nsMtime(f)}")
        .mkString("|") + "|k=3|id_lt=1000|corpus=mod5ne0|" +
        Dedup.indexLayout(corpus, k = 3)
      val sig = java.security.MessageDigest.getInstance("MD5")
        .digest(sigSrc.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.take(16)
      val root = new java.io.File(
        sys.props("java.io.tmpdir"), s"graft_q105_idx_$sig")
      if (!root.isDirectory) {
        sweepStaleIndexArtifacts(root.getParentFile)
        val staging = new java.io.File(root.getParentFile,
          root.getName + ".stage-" + ProcessHandle.current.pid)
        Dedup.writeDedupIndex(corpus, staging.getAbsolutePath, k = 3)
        if (!staging.renameTo(root)) {
          // another process published first: keep theirs, drop ours
          if (!root.isDirectory)
            throw new java.io.IOException(
              s"could not publish q105 index at $root")
          rmTree(staging)
        }
      }
      root.getAbsolutePath
    }

  private val q105IndexLock = new Object

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** Publish-time sweep (ADVICE r17): a `.stage-<pid>` dir whose owner
    * process is gone is a crashed builder's leak; a `graft_q105_idx_*`
    * dir untouched for 7+ days keys a fixture long since regenerated
    * (live signatures are re-published on every build, and a
    * mid-sweep reader of a deleted week-old index just rebuilds).
    * Runs only on the build path — steady-state runs never pay it. */
  private def sweepStaleIndexArtifacts(tmp: java.io.File): Unit = {
    val stage = """graft_q105_idx_.*\.stage-(\d+)""".r
    val weekMs = 7L * 24 * 3600 * 1000
    val now = System.currentTimeMillis
    Option(tmp.listFiles).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case stage(pid) =>
          val o = ProcessHandle.of(pid.toLong)
          if (!(o.isPresent && o.get.isAlive)) rmTree(f)
        case n if n.startsWith("graft_q105_idx_") &&
          now - f.lastModified > weekMs => rmTree(f)
        case _ => ()
      }
    }
  }

  /** q62's incremental dedup with BOTH gates real pretraining
    * pipelines run: Jaccard ≥ 0.6 OR shingle containment ≥ 250‰ —
    * the [[Dedup.containmentPairs]] signal applied at ingest time (a
    * delta doc mostly quoted inside one corpus doc is non-novel even
    * when the container's length crushes its Jaccard). The gate reads
    * the same cross-side pair aggregate as Jaccard (one extra
    * predicate, zero extra joins), and the indexed path carries the
    * identical dial ([[Dedup.deltaDedupIndexed]], indexed ≡ direct
    * spec-pinned).
    *
    * 250‰ is measured to BITE at sf0.01 (DuckDB sweep: the max
    * containment among cross-split pairs below the Jaccard threshold
    * is exactly 250‰ — one delta doc, invisible to q62 — so 250 is
    * the largest permille that changes the novel set, 87 → 86 rows).
    * A production dial sits near 800; the oracle certifies the gate's
    * arithmetic at the fixture's own overlap level, the q105-cap=2 /
    * q127-cap=3 convention. Composed from the memoized [[deltaLegs]]
    * like q62 — one pair-stats build serves both gates. */
  def q135DeltaContainment(spark: SparkSession, dir: String): DataFrame = {
    val (en, stats) = deltaLegs(spark, dir)
    en.join(Dedup.dupIdsFromStats(stats, threshold = 0.6,
        containmentPermille = Some(250L)), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** Train/test leakage audit: every near-duplicate pair (exact
    * 3-gram Jaccard ≥ 0.6, the q34 gate) whose two docs landed in
    * DIFFERENT splits of the deterministic q126 partition — the check
    * a training pipeline runs after splitting, because a test doc
    * near-duplicated in train silently inflates eval scores. Emits
    * the offending pairs with both split labels; an empty result is
    * the certification a release wants.
    *
    * Plan: two memoized legs joined — the exact-Jaccard pair set
    * (shared with q34/q39/q60/q61) and the pure-function split
    * assignment (q126's md5 arithmetic) — so the audit costs two
    * id-keyed joins on the (small) pair frame, nothing else; at 100
    * TB the pair set comes from the LSH candidate path instead
    * ([[Dedup.minHashPairs]], same output contract), and the split
    * frame derives per-row from doc_id with no shuffle at all. */
  def q138SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val splits = Sharding.assignSplits(Tables.documents(spark, dir))
      .select(col("doc_id"), col("split"))
    exactJaccardPairs(spark, dir, threshold = 0.6)
      .select("d1", "d2", "common", "n1", "n2")
      .join(splits.select(col("doc_id").as("d1"), col("split").as("split1")), "d1")
      .join(splits.select(col("doc_id").as("d2"), col("split").as("split2")), "d2")
      .filter(col("split1") =!= col("split2"))
      .select("d1", "d2", "split1", "split2", "common", "n1", "n2")
  }

  /** Within-document repetition rate: the share of POSITIONAL word
    * 3-grams that are repeats of an earlier 3-gram in the same doc,
    * as the exact integer `(n - n_distinct) * 1000 div n` — the
    * Gopher-style duplicate-ngram quality signal, orthogonal to q63's
    * top-bigram concentration (one loops a single phrase, this counts
    * ALL internal duplication). Pure per-row array arithmetic: no
    * shuffle, no join, embarrassingly parallel — the plan is a scan
    * with a projection, which is exactly what a per-doc quality
    * signal must compile to at 100 TB. */
  def q139IntraRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        // let-bind the split (the shingleExpr trick) so the token
        // array isn't re-split per element access
        expr("transform(array(split(text, ' ')), w -> " +
          "case when size(w) >= 3 then transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', element_at(w, i + 1), element_at(w, i + 2), " +
          "element_at(w, i + 3))) else array() end)[0]").as("g"))
      .filter(size(col("g")) > 0)
      .select(col("doc_id"),
        size(col("g")).cast("long").as("n_ngrams"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct"))
      .withColumn("rep_permille",
        expr("(n_ngrams - n_distinct) * 1000 div n_ngrams"))

  /** The composed cleaning recipe over the fixture: token bounds
    * [20, 95], quality >= 0.55, English only, top-bigram ratio <=
    * 0.12 — each dimension filters a real share of the corpus. */
  def q63CleanCorpus(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.cleanCorpus(docsRebalanced(spark, dir),
      minTokens = 20, maxTokens = 95, minQuality = 0.55,
      maxTopBigramRatio = 0.12, langs = Seq("en"))

  /** Sequence packing: concat each source stream's docs and cut every
    * 64 tokens — fragments with in-doc and in-sequence offsets. */
  def q71PackSequences(spark: SparkSession, dir: String): DataFrame =
    Sharding.packSequences(Tables.documents(spark, dir), seqLen = 64)

  /** BM25 top-10 for a fixed keyword query (log-free rational idf —
    * see [[TextAnalysis.bm25TopK]] for the oracle-parity rationale). */
  val bm25Terms: Seq[String] = Seq("spark", "join", "window")
  def q72Bm25(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(spark, dir), bm25Terms, k = 10)

  /** Sparse TF-IDF cosine near-dup pairs (exact integer weighting —
    * see [[TextAnalysis.tfidfCosinePairs]]): frequency-weighted
    * lexical similarity, the signal set-based Jaccard (q34) is blind
    * to. The df cap at 50 (10% of the fixture corpus) is load-bearing:
    * without it the fixture's shared synthetic vocabulary pushes ~90%
    * of ALL pairs over the threshold, with it exactly the planted
    * rare-term structure survives (300 pairs, stable from t=0.5 to
    * 0.8) — the measured demonstration of why stop-term df-capping is
    * mandatory at corpus scale. */
  def q77TfidfPairs(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfCosinePairs(docsRebalanced(spark, dir),
      threshold = 0.5, maxDf = Some(50))

  /** Seed-keyed reproducible training order + shard assignment (see
    * [[Sharding.trainOrder]]): the oracle replays the md5 permutation,
    * nibble-bucket shard, and per-shard positions exactly — the
    * correctness claim IS the cross-engine reproducibility. */
  def q79TrainOrder(spark: SparkSession, dir: String): DataFrame =
    Sharding.trainOrder(Tables.documents(spark, dir), nShards = 8)
      .select(col("doc_id"), col("shard"), col("pos"), col("okey"))

  /** Global passage-level dedup with reassembly (CCNet/C4 paragraph
    * dedup): 32-token chunks, keep each distinct chunk's globally
    * first occurrence, rebuild docs from survivors. The fixture's
    * exact-dup docs collapse to empty (their every chunk is a repeat)
    * and near-dup docs lose exactly their copied passages — the
    * sub-document scrub the doc-level dedup family can't do. */
  def q82PassagePrune(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.prunePassages(docsRebalanced(spark, dir), chunkTokens = 32)

  /** Temperature mixing (α=0.5) over language groups with a 200-doc
    * budget: √-weighting flattens the language distribution — en
    * (218 docs ∝ 44% of the corpus) gets 60 picks where proportional
    * sampling would give 87, the four small languages get 34 each
    * instead of ~26-30 — the standard LLM-mix upweighting of small
    * sources, engine-reproducible because every step is integer/md5
    * arithmetic. */
  def q84TemperatureMix(spark: SparkSession, dir: String): DataFrame =
    Sharding.temperatureMix(Tables.documents(spark, dir), budget = 200L,
      groupCol = "lang")

  /** Per-doc term cap of the co-occurrence graph q101/q118/q181 read
    * ([[Graph.coOccurrenceEdges]]). The edge build is the expensive
    * leg and runs once, over each doc's TOP-[[PageRankMaxTermsPerDoc]]
    * terms by tf (ties broken on the term string, so the kept set is
    * engine-reproducible): uncapped, the per-doc term self-join is
    * O(distinct-terms²) per document — a web-scale doc with 10⁴
    * distinct terms would contribute 10⁸ edge rows, the same
    * pathology [[Dedup.ngramJaccardPairs]] caps with
    * `maxShingleDocFreq`. The cap bounds every doc's contribution at
    * N·(N−1) rows AND shrinks the persisted edge frame ~50x at sf0.1,
    * which un-squeezes executor storage memory for every query
    * sharing the pass (the round-6 dedup-family drift). Capping is
    * also the right GRAPH: co-occurrence edges from a document's rare
    * tail are noise; tf-top terms are the document's actual topical
    * vocabulary (standard practice in TextRank-style keyword graphs). */
  val PageRankMaxTermsPerDoc = 16

  /** The capped co-occurrence graph q101/q118/q181 share. The edge
    * build (per-doc term self-join + distinct) is the expensive leg
    * and has several consumers in one plan (PageRank's degrees and
    * every round's join); Catalyst has no cross-subplan CSE, so
    * without a persist each consumer re-runs the self-join — memoized
    * like the other multi-consumer legs (cleared per bench pass). */
  private def coOccurrenceGraph(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"pr_edges:$dir:cap=$PageRankMaxTermsPerDoc") {
      Graph.coOccurrenceEdges(Tables.documents(spark, dir), PageRankMaxTermsPerDoc)
    }

  /** Triangle census ([[Graph.triangleCensus]]) of the term
    * co-occurrence graph: one row of (n_nodes, n_edges, n_triangles)
    * BIGINTs over the same capped edge frame q101 ranks, read from the
    * shared q101 edge memo. */
  def q118Triangles(spark: SparkSession, dir: String): DataFrame =
    Graph.triangleCensus(coOccurrenceGraph(spark, dir))

  /** Rounds of q181's label propagation ([[Graph.lpaCommunities]]). */
  val LpaIters = 4

  /** Community sizes after [[LpaIters]] rounds over the q101 capped
    * co-occurrence graph: (community = the surviving label, n_terms).
    * The oracle replays every round as unrolled MATERIALIZED CTEs —
    * what it certifies is the ALGEBRA (neighbor counts, argmax
    * tie-breaks, the synchronous update), which on this fixture's
    * deliberately tiny 31-token vocabulary collapses to one dense
    * community (any community algorithm agrees there); the
    * structure-recovery behavior is pinned by the hand-derived
    * bridged-cliques spec. */
  def q181LpaCommunities(spark: SparkSession, dir: String): DataFrame =
    Graph.lpaCommunities(coOccurrenceGraph(spark, dir), LpaIters)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_terms"))

  /** Inverted index with bounded posting heads: term → (df, first 40
    * doc ids) for df ≥ 3 — the hot-key cap lives on posting LENGTH via
    * the k-capped native aggregate (see [[TextAnalysis.invertedIndex]]
    * and [[graft.functions.BoundedMinK]]). */
  def q123InvertedIndex(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(Tables.documents(spark, dir), minDf = 3, postingCap = 40)

  /** The capped per-doc term frame q101/q118's edge build starts from
    * (top-[[PageRankMaxTermsPerDoc]] terms by tf, ties on term) —
    * memoized separately from the edge memo because q124 consumes the
    * TERMS (it needs per-term doc counts), not the pair graph. */
  private def cappedTerms(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"pr_terms:$dir:cap=$PageRankMaxTermsPerDoc") {
      val tf = Tables.documents(spark, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      tf.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("tf").desc, col("term"))))
        .filter(col("rk") <= PageRankMaxTermsPerDoc)
        .select("doc_id", "term")
    }

  /** PMI collocations over the capped co-occurrence universe: for
    * term pairs co-occurring in ≥ 3 docs, the pointwise mutual
    * information lift n12·N / (n1·n2), emitted as the exact integer
    * `(n12 * N * 1000000) div (n1 * n2)` (> 10⁶ ⇔ positive PMI, the
    * kept set). Integer, not ln(): the log is monotone, so ranking
    * and thresholding are unchanged, and a transcendental's last ulp
    * is libm-specific while the scaled ratio replays exactly on any
    * engine (the [[TextAnalysis.topTermsPerDoc]] rationale).
    *
    * Scale: the per-doc universe is the same top-16-terms cap as
    * q101 — pair fan-out is C(16,2) per doc, never O(len²), emitted
    * by an in-row sorted-array expansion over the per-doc term list
    * (one bounded collect + one nested list-transform, the q128
    * stance; the earlier positional self-join paid a join for pairs
    * the row already holds) — and the
    * n1/n2 lookup joins key on single terms (AQE broadcasts the df
    * side at fixture scale; at web scale it hash-joins co-partitioned
    * on term). The products are staged through DECIMAL(38,0) — never
    * raw BIGINT, whose n12·N·10⁶ would silently WRAP past N ≈ 3·10⁶
    * docs under non-ANSI arithmetic — so the ratio is exact to
    * N ≈ 9·10¹² docs per analyzed slice (the point where the final
    * quotient itself outgrows BIGINT); the 1-row N frame fails fast
    * past that bound rather than dropping pairs to a decimal-overflow
    * null. */
  def q124PmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val t = cappedTerms(spark, dir)
    val dfreq = t.groupBy("term").agg(count(lit(1)).as("n"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
      .select(expr(
        "case when nd <= 9000000000000 then nd else cast(raise_error(concat(" +
          "'q124: ', nd, ' docs exceeds the exact integer-PMI range (9e12 per " +
          "slice); analyze per-domain/per-language slices')) as bigint) end")
        .as("nd"))
    t.groupBy("doc_id")
      // bounded at the 16-term cap, so the collected list is ≤ 16
      // elements — never a skew or memory concern; sorting it makes
      // the expansion emit each unordered pair once with t1 < t2
      .agg(sort_array(collect_list(col("term"))).as("ts"))
      .select(explode(expr(
        "flatten(transform(ts, (x, i) -> " +
          "transform(slice(ts, i + 2, size(ts)), y -> struct(x, y))))")).as("p"))
      .groupBy(col("p.x").as("t1"), col("p.y").as("t2"))
      .agg(count(lit(1)).as("n12"))
      .filter(col("n12") >= 3)
      .join(dfreq.select(col("term").as("t1"), col("n").as("n1")), "t1")
      .join(dfreq.select(col("term").as("t2"), col("n").as("n2")), "t2")
      .crossJoin(broadcast(nd))
      .withColumn("pmi_scaled", expr(
        // DECIMAL(38,0) staging: exact to ~1e38 intermediates (`div`
        // accepts decimal operands and still returns BIGINT), where
        // the all-BIGINT form wraps at n12*nd > 9.2e12
        "cast(n12 as decimal(19,0)) * nd * 1000000 div " +
          "(cast(n1 as decimal(19,0)) * n2)"))
      .filter(col("pmi_scaled") > 1000000L)
      .select("t1", "t2", "n12", "n1", "n2", "pmi_scaled")
  }

  /** Bigram language-model counts: for every adjacent token pair seen
    * ≥ 3 times corpus-wide, the conditional probability p(w2|w1) as
    * the exact integer `(c12 * 1000000) div c1` — c1 is the
    * bigram-CONTEXT count (occurrences of w1 with a successor, i.e.
    * Σ_w2 c12), so the scaled probabilities of one context sum to
    * ~10⁶ by construction. The n-gram statistics leg of a pretraining
    * pipeline: perplexity-proxy scoring, boilerplate detection, and
    * generation-artifact hunting all start from this table.
    *
    * Scale: adjacent pairs come from ONE transform over the
    * already-split token array (no posexplode self-join — the pair
    * list is built per row and exploded once); both aggregations are
    * map-side-combinable counts keyed on (w1, w2) / w1. The c1 lookup
    * join keys on single terms — AQE broadcasts at fixture scale,
    * hash-joins co-partitioned at vocab scale. */
  def q128BigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramModel(spark, dir)

  /** The corpus [[TextAnalysis.bigramModel]], memoized: q128 emits it
    * and q151 scores every document against it — without the memo a
    * Verify/Bench run would pay the two count aggregations twice. */
  private def bigramModel(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"bigramModel:$dir") {
      TextAnalysis.bigramModel(Tables.documents(spark, dir), minCount = 3L)
    }

  /** LM-based quality scoring ([[TextAnalysis.lmMeanScore]]): each
    * doc's mean scaled bigram probability under the memoized q128
    * model — the hash-safe stand-in for the CCNet-style perplexity
    * filter. Low scores mark transition patterns the corpus model has
    * never seen (gibberish, out-of-domain text); unseen bigrams score
    * 0 by design. Self-scoring against the corpus's own model is the
    * standard bootstrap when no external LM exists; at production
    * scale the model frame is simply built once from a reference
    * corpus and reused across candidate sources. */
  def q151LmScore(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.lmMeanScore(
      Tables.documents(spark, dir), bigramModel(spark, dir))

  /** Cross-corpus LM TRANSFER scoring — the deployment shape q151's
    * scaladoc promises ("the model frame is built once from a
    * reference corpus and reused across candidate sources"), now
    * registered and gated: the bigram model trains on the REFERENCE
    * half (even doc_id) and scores the HELD-OUT half it never saw —
    * the actual CCNet workflow (score candidate crawl text under a
    * trusted-corpus LM; self-scoring is only the bootstrap). Unseen
    * transitions score 0, so out-of-reference docs sink — exactly the
    * decontamination/quality-transfer signal. Same integer algebra as
    * q151, so the oracle is q151's replay split by the same
    * doc_id-parity predicate. */
  def q183CrossLmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = Memo.of(spark, s"bigramModelRef:$dir") {
      TextAnalysis.bigramModel(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), minCount = 3L)
    }
    TextAnalysis.lmMeanScore(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), model)
  }

  /** Tokenizer-vocabulary OOV audit ([[TextAnalysis.oovRate]]): per
    * (lang, source) stratum, the exact permille of tokens outside the
    * corpus top-1000 vocabulary — the coverage check run before
    * committing a vocab/merge table to a data mix. On this fixture the
    * non-English strata surface the highest OOV — exactly the signal
    * the audit exists to catch before those sources fragment into
    * byte-level tokens. */
  def q154OovRate(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.oovRate(Tables.documents(spark, dir), vocabSize = 1000)

  /** Per-source document cap — the mixing-recipe primitive "at most K
    * docs from any one domain/source", here as the first 100 doc ids
    * per source plus the source's full volume. Second oracle-gated
    * consumer of the k-capped native aggregate
    * ([[graft.functions.BoundedMinK]]): the cap holds in every agg
    * buffer at every stage, so one pathological source (the crawl
    * dump with 10⁹ pages) cannot concentrate work or memory anywhere
    * in the plan — the same property q123's posting heads rely on.
    * Id-ordered "first K" rather than a seeded sample keeps the kept
    * set a pure function of the corpus ([[Sharding.hashSample]] is
    * the randomized alternative when bias against low ids matters). */
  def q133SourceCap(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BoundedMinK.register(spark)
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        expr("array_join(transform(bounded_min_k(doc_id, 100), " +
          "x -> cast(x as string)), ',')").as("kept_ids"))
  }

  /** Deterministic stratum-preserving train/val/test assignment
    * ([[Sharding.assignSplits]]): pure function of (doc_id, seed). */
  def q126SplitAssign(spark: SparkSession, dir: String): DataFrame =
    Sharding.assignSplits(Tables.documents(spark, dir))
      .select("doc_id", "source", "split")

  /** Asymmetric containment dedup ([[Dedup.containmentPairs]]): docs
    * ≥ 80% of whose shingles appear in another doc — the
    * quoted-inside-a-longer-doc signal Jaccard can't see. Runs with
    * the hot-shingle cap ON (the 100 TB posture: without it one
    * boilerplate shingle in f docs is f·(f−1)/2 self-join rows).
    * Cap=3 is measured to BITE at sf0.01 (DuckDB sweep of caps 2–32
    * against max df 7: cap≤3 changes the pair set — 49→48 rows at 3,
    * 49→39 at 2 — cap≥4 is a no-op), so the oracle certifies the
    * capped universe semantics, not just the uncapped overlap. */
  def q127Containment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docsRebalanced(spark, dir),
      k = 3, minPermille = 800L, minShingles = 10L,
      maxShingleDocFreq = Some(3))

  /** Fixed-point PageRank ([[Graph.pageRank]]) over the capped term
    * co-occurrence graph: (term, deg, rank). */
  def q101PageRank(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRank(coOccurrenceGraph(spark, dir))

  /** [[q111EditDistancePairs]]' blocking dials: pairs form only inside
    * a 24-char-prefix block of ≤ 64 docs, and distance runs on 200-char
    * heads. */
  private val EditBlockChars = 24
  private val EditBlockCap = 64L
  private val EditHeadChars = 200
  private val EditMaxDist = 30

  /** Character-level near-dup pairs by bounded Levenshtein distance —
    * the edit-distance leg of the dedup family (ngram Jaccard is
    * set-based and misses single-char edit chains; SimHash is
    * token-hashed; this one sees transpositions and typos directly).
    *
    * Candidate generation is prefix BLOCKING, the classic
    * record-linkage move: only docs sharing their first 24 chars ever
    * meet, so the join is equi on the block key — never a cross
    * product. Two bounds make the worst case safe at corpus scale:
    * blocks larger than 64 docs are dropped entirely (boilerplate
    * headers are the skew risk here, the same pathology
    * maxShingleDocFreq caps on the shingle paths — a block of f docs
    * costs f·(f−1)/2 pairs), and the O(len²) distance itself runs on
    * 200-char heads, a constant per pair.
    *
    * ASCII guard, load-bearing for the oracle: DuckDB's levenshtein
    * counts UTF-8 BYTES ('héllo'→'hello' = 2) where Spark counts
    * chars (= 1), so the comparison is pinned to docs where the two
    * units coincide. A production corpus would route non-ASCII docs
    * through the token-based legs instead. */
  def q111EditDistancePairs(spark: SparkSession, dir: String): DataFrame =
    editDistancePairs(Tables.documents(spark, dir))

  /** The operator core over any (doc_id, text) frame — q111 binds it
    * to the fixture; the spec drives crafted corpora through it.
    *
    * The blocked frame is built in ONE corpus scan (ASCII regex over
    * full text + the two substrings, then text is DROPPED — heads
    * ride the shuffles, never documents), the block cap is a window
    * count (no block-list join), and the result is memoized: the
    * self-join consumes it twice, and without the persist each side
    * re-scans and re-regexes the corpus — measured at ~4 corpus scans
    * for a pair set three orders of magnitude smaller than the input. */
  def editDistancePairs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val blocked = Memo.of(spark, "edit_blocked:" + Memo.frameKey(docs) +
        s":c=$EditBlockChars:cap=$EditBlockCap:h=$EditHeadChars") {
      docs.filter(col("text").rlike("^[ -~]*$"))
        .select(col("doc_id"),
          substring(col("text"), 1, EditBlockChars).as("blk"),
          substring(col("text"), 1, EditHeadChars).as("head"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy("blk")))
        .filter(col("bn") <= EditBlockCap)
        .drop("bn")
    }
    // populate the cache BEFORE the self-join consumes it twice: a
    // lazily-persisted frame can be computed independently by both
    // join sides in the same job (the q105 lesson, same file) — the
    // eager count is what actually holds the scan count at one
    blocked.count()
    PairPack.pairsFromPostings(blocked, Seq("blk"), "doc_id")
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        levenshtein(col("a.head"), col("b.head")).cast("long").as("lev"))
      .filter(col("lev") <= EditMaxDist)
  }

  /** Token diversity per doc — Simpson's index 1 − Σc²/n² (the
    * probability two independently drawn tokens differ). The
    * repetition signal [[q47Repetition]]'s top-bigram ratio sees
    * locally, this sees globally: template/boilerplate docs score low
    * even when no single bigram dominates. Deliberately Simpson, NOT
    * Shannon entropy: entropy sums c·log₂c terms — transcendental
    * last-ulps differ across libm implementations AND float addition
    * doesn't associate across partitions, two independent hash-gate
    * killers (the BM25 rational-idf rationale) — while n and Σc² are
    * exact BIGINTs and the single final division is one IEEE op on
    * both engines. Two combinable aggregates; no shuffle beyond the
    * (doc_id, token) groupBy the tf queries already pay. */
  def q112TokenDiversity(spark: SparkSession, dir: String): DataFrame =
    tokenDiversity(Tables.documents(spark, dir))

  /** The operator core over any (doc_id, text) frame. */
  def tokenDiversity(docs: DataFrame): DataFrame = {
    val c = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
    c.groupBy("doc_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * col("c")).as("sumc2"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        ((col("n_tokens") * col("n_tokens") - col("sumc2")).cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("diversity"))
  }

  /** Distribution-drift report per source — "does this source's
    * length profile deviate from the corpus?", the per-slice health
    * check a mixing pipeline runs before re-weighting (q68's corpus
    * stats see means; this sees SHAPE).
    *
    * A Pearson chi-square of each source's n_chars histogram against
    * the corpus-wide expectation, in pure INTEGER arithmetic:
    *   - bins: 12 equal-width over the global [mn, mx], assigned as
    *     ((n_chars − mn)·12) div (mx − mn + 1) — all-integer (n_chars
    *     is integral), lands in [0, 11] by construction, no float
    *     binning edge to disagree on (the q87 histogram is the float
    *     cousin; +1 in the divisor is what caps the top value at 11).
    *   - χ² = Σ_b (o·N − t·n_s)² / (N·t·n_s) — the classic
    *     (o − e)²/e with e = t·n_s/N cleared of fractions; reported
    *     ×100 floor-divided per bin and SUMMED AS INTEGERS, so the
    *     statistic is bit-stable cross-engine (a float χ² sums
    *     partition-order-dependently). Fixture envelope: o·N ≤
    *     5·10³·5·10³ → numerator² ≤ 6.25·10¹⁴, ×100 well inside
    *     BIGINT; at corpus scales beyond ~10⁸ docs move the per-bin
    *     term to decimal(38,0) (same shape, wider lane).
    * Scale: two combinable aggregates ((source, bin) counts, then
    * bin totals), a broadcast 1-row global range, and a
    * sources×bins-sized join — nothing data-sized shuffles twice. */
  def q117SourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDrift(Tables.documents(spark, dir))

  /** The operator core over any (source, n_chars) frame. */
  def sourceDrift(docs: DataFrame): DataFrame = {
    val range = docs.agg(min(col("n_chars")).as("mn"),
      max(col("n_chars")).as("mx"),
      count(lit(1)).as("nn"))
    val binned = docs.crossJoin(broadcast(range))
      .withColumn("bin",
        expr("((n_chars - mn) * 12) div (mx - mn + 1)"))
    val o = binned.groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("o"))
    val t = o.groupBy("bin").agg(sum(col("o")).as("t"))
    val ns = o.groupBy("source").agg(sum(col("o")).as("n_s"))
    // DENSE sources × occupied-bins grid before the join: a source
    // with ZERO docs in some bin is the strongest drift signal of all
    // — its (0 − e)²/e term must contribute, and a sparse (source,
    // bin) count frame would silently drop exactly those terms. Both
    // grid sides are aggregate-sized; the cross join is sources×bins.
    ns.crossJoin(t)
      .join(o, Seq("source", "bin"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(range.select(col("nn"))))
      .withColumn("num", col("o") * col("nn") - col("t") * col("n_s"))
      .withColumn("term_e2",
        expr("(num * num * 100) div (nn * t * n_s)"))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_docs"),
        sum(col("term_e2")).as("chi2_e2"),
        count(lit(1)).as("n_bins"))
  }

  /** Deterministic stratified (language-balancing) sample: downsample
    * every language stratum toward the minority stratum's size with a
    * per-stratum Bernoulli rate — the mixing-recipe primitive between
    * q84's temperature flattening (soft reweight) and q133's hard
    * per-source cap. A balanced eval/calibration set wants strata of
    * comparable size; rate_s = min_n·4096 div n_s (in 1/4096ths)
    * brings every stratum's EXPECTED kept count to the minority
    * count, and the minority stratum itself rides rate = 4096 ≡ keep
    * all.
    *
    * The coin is `hv < rate_s` with hv = the first 3 hex chars of a
    * seed-keyed md5 over doc_id ([[Md5Key.hexToLong]], [0, 4096)) — a
    * pure function of (doc_id, seed) like q126's split labels, so the
    * sample survives repartition, engine swap, and incremental
    * backfill, where `rand()` or row-position sampling silently
    * reshuffles the kept set. Seed string ':s42' is deliberately
    * distinct from q126's ':42': the same doc must not be correlated
    * between its split assignment and its sample coin.
    *
    * Scale shape: the stratum-counts frame is a map-side-combinable
    * aggregate of |strata| rows, the rate frame joins back BROADCAST,
    * and the filter is per-row arithmetic in the scan projection — no
    * shuffle of data rows anywhere in the plan. */
  def q142StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_s"))
    val minN = counts.agg(min(col("n_s")).as("min_n"))
    val rates = counts.crossJoin(broadcast(minN))
      .withColumn("rate", expr("least(4096, (min_n * 4096) div n_s)"))
      .select("lang", "rate")
    docs.select(col("doc_id"), col("lang"))
      .withColumn("hx",
        expr("substr(md5(cast(doc_id as string) || ':s42'), 1, 3)"))
      .withColumn("hv", expr(Md5Key.hexToLongSpark("hx", 3)))
      .join(broadcast(rates), "lang")
      .filter(col("hv") < col("rate"))
      .select("doc_id", "lang")
  }

  /** BPE merge-candidate counts — the inner statistic of byte-pair-
    * encoding tokenizer training: corpus-wide counts of ADJACENT
    * character pairs inside whitespace tokens, ranked; the argmax is
    * the pair BPE would merge first, and re-running after each merge
    * is the whole training loop. Tokenizer fit is a training-data
    * job (the tokenizer must be trained on the corpus mix it will
    * tokenize), so the counting step belongs in the engine.
    *
    * Shape at 100 TB: pairs come from ONE in-row `transform` over the
    * token (q128's list-transform stance — no positional self-join,
    * no per-character explode), the aggregate's key space is bounded
    * by alphabet² (map-side combine collapses each partition to that
    * bound), and the final ranking is a TakeOrderedAndProject of 20
    * rows with a total order (count desc, pair asc — the q08 top-k
    * discipline). `substr` is character-based in both engines, so
    * multi-byte text counts pairs of CHARACTERS, not split bytes;
    * true byte-level BPE would cast to binary first. */
  def q145BpePairs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)

  /** Weighted priority sampling with subset-sum estimation — the
    * Duffield–Lund–Thorup scheme (Priority Sampling, JACM 2007): per
    * source, sample 8 docs with probability increasing in weight
    * (n_chars — stand-in for any quality/length weight), such that the
    * weighted total of EVERY source reconstructs from its 8-doc
    * sample. Priority p_i = hash_i div w_i (the integer form of
    * u_i/w_i: the k smallest priorities are exactly the k largest
    * w_i/u_i, DLT's selection); τ = the (k+1)-th smallest priority;
    * each sampled doc's weight estimate is ŵ_i = max(w_i, 2⁶⁰ div τ).
    * Groups at or below k keep everything exactly (τ absent, ŵ = w).
    *
    * This is what q84/q142's UNWEIGHTED coins can't do: downsample a
    * corpus while preserving per-stratum weighted totals (token
    * budgets, quality mass) with a per-group reservoir of k rows.
    * The reservoir is [[graft.functions.BoundedMinKPairs]] — the
    * (priority, doc_id) pair buffer holds ≤ k+1 pairs at every plan
    * stage, so a 10⁹-doc source samples without ever concentrating
    * its rows on one task (the row_number formulation would).
    * The md5 coin makes the sample a pure function of (doc_id, seed),
    * the q126/q142 reproducibility stance; `exact_total` (affordable
    * at fixture scale) rides along so the oracle certifies estimator
    * and sample from the same row. The estimator is unbiased but
    * right-skewed at small k (1/u order statistics): typical
    * realizations sit somewhat under the exact total and rare ones
    * overshoot — k is the variance dial, and a heavyweight item is
    * sampled almost surely (its priority ≈ hash/w is pushed toward
    * 0), which is the property that makes the scheme safe for
    * token-budget accounting. */
  def q148PrioritySample(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BoundedMinKPairs.register(spark)
    val k = 8
    val docs = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        greatest(col("n_chars"), lit(1L)).as("w"))
      .withColumn("hx",
        expr("substr(md5(cast(doc_id as string) || ':ps42'), 1, 15)"))
      .withColumn("p", expr(s"(${Md5Key.hex15ToLongSpark("hx")}) div w"))
    val agg = docs.groupBy("source").agg(
      expr(s"bounded_min_k_pairs(p, doc_id, ${k + 1})").as("ps"),
      sum(col("w")).as("exact_total"))
    val sampled = agg.select(col("source"), col("exact_total"),
        expr(s"CASE WHEN size(ps) > $k THEN element_at(ps, ${k + 1}).ord END")
          .as("tau"),
        explode(expr(s"slice(ps, 1, $k)")).as("s"))
      .select(col("source"), col("exact_total"), col("tau"),
        col("s.tag").as("doc_id"))
      .join(docs.select(col("doc_id"), col("w")), "doc_id")
      .withColumn("w_hat", expr(
        s"CASE WHEN tau IS NULL THEN w " +
          s"ELSE greatest(w, ${Md5Key.Space} div greatest(tau, 1)) END"))
    val est = sampled.groupBy("source")
      .agg(sum(col("w_hat")).as("est_total"))
    sampled.join(broadcast(est), "source")
      .select("source", "doc_id", "w", "w_hat", "est_total", "exact_total")
  }

  /** Snapshot diff between two corpus releases
    * ([[graft.operators.Maintenance.snapshotDiff]]): one row per doc
    * whose membership or content changed — the audit between training-
    * set releases, and the input feed for incremental paths (the
    * `added`/`changed` ids are exactly what delta-dedup consumes).
    * Output ∝ churn, never corpus.
    *
    * The fixture ships one snapshot, so v2 is derived by a
    * DETERMINISTIC mutation both engines replay: drop `doc_id % 7 = 3`
    * (removals), append " v2" to the text of `doc_id % 10 = 0`
    * (changes), and insert copies of `doc_id % 25 = 0` under
    * `doc_id + 1000000` (additions) — a stand-in for reading a second
    * snapshot path, exercising every branch of the full-outer
    * fingerprint compare. Plan: both sides reduce to (id, md5) at the
    * scan, one co-partitioned full-outer join. */
  def q149SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1 = Tables.documents(spark, dir)
    val v2 = v1.filter(expr("doc_id % 7 != 3"))
      .withColumn("text", expr(
        "CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END"))
      .unionByName(v1.filter(expr("doc_id % 25 = 0"))
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    graft.operators.Maintenance
      .snapshotDiff(v1, v2, "doc_id", Seq("text", "lang", "source"))
  }

  /** MERGE INTO / CDC-apply under the oracle gate
    * ([[graft.operators.Maintenance.applyChanges]]): the next corpus
    * release built from the base snapshot plus a deterministic change
    * feed — deletes (`doc_id % 7 = 3`), an upsert wave (`% 10 = 0` →
    * " v2"), a LATER wave overriding part of it (`% 50 = 0` → " v3",
    * seq 2 — last-wins is load-bearing), and inserts (`% 25 = 0`
    * under `+ 10⁶`). The q149 mutation family: q149 AUDITS the diff
    * between releases, this BUILDS the release, and the feed's delete
    * precedence matches q149's v2 derivation. One key-partitioned
    * rank window + one co-partitioned anti join — the standard merge
    * shape. */
  def q158MergeApply(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    graft.operators.Maintenance.applyChanges(base, docChangeFeed(base),
      key = "doc_id", seqCol = "seq")
  }

  /** The deterministic CDC feed q158 and q166 share: deletes (doc_id %
    * 7 = 3), two generations of upserts, and inserts shifted by 1e6 —
    * a stand-in for reading a second release's change log. */
  private def docChangeFeed(base: DataFrame): DataFrame = {
    val nullS = lit(null).cast("string")
    val deletes = base.filter(expr("doc_id % 7 = 3"))
      .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
        nullS.as("text"), nullS.as("lang"), nullS.as("source"))
    val v2 = base.filter(expr("doc_id % 10 = 0 AND doc_id % 7 != 3"))
      .select(col("doc_id"), lit(1L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"), col("lang"), col("source"))
    val v3 = base.filter(expr("doc_id % 50 = 0 AND doc_id % 7 != 3"))
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v3")).as("text"), col("lang"), col("source"))
    val ins = base.filter(expr("doc_id % 25 = 0"))
      .select((col("doc_id") + 1000000L).as("doc_id"), lit(1L).as("seq"),
        lit("upsert").as("op"), col("text"), col("lang"), col("source"))
    deletes.unionByName(v2).unionByName(v3).unionByName(ins)
  }

  /** Incremental view maintenance of a per-source rollup under the
    * q158 CDC feed: the refreshed (n_docs, sum_chars) per source,
    * computed from the PRIOR rollup plus the change feed — the base
    * corpus is only probed for the touched keys' retractions, never
    * re-aggregated ([[graft.operators.Maintenance.incrementalRollup]]).
    * The DuckDB oracle is the FULL recompute over the merged table
    * (q158's merge CTE + group-by), so the hash gate certifies
    * incremental ≡ recompute cross-engine — the IVM correctness
    * statement itself. The value is length(text) (character count,
    * identical semantics both engines), re-derived per version so a
    * v2/v3 upsert's longer text flows into the refreshed sums. */
  def q166IncrementalRollup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
    val baseRows = base.select(col("doc_id"), col("source"),
      length(col("text")).cast("long").as("v"))
    val baseRollup = baseRows.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("v")).as("sum_chars"))
    val changes = docChangeFeed(base)
      .select(col("doc_id"), col("seq"), col("op"), col("source"),
        length(col("text")).cast("long").as("v"))
    graft.operators.Maintenance.incrementalRollup(
        baseRollup, baseRows, changes,
        key = "doc_id", seqCol = "seq", groupCol = "source",
        nCol = "n_docs", sumCol = "sum_chars")
      .orderBy("source")
  }

  /** Per-language term heavy hitters via the native `misra_gries`
    * aggregate ([[graft.functions.MisraGries]]) — the vocab-pruning /
    * stop-list primitive, run in the aggregate's DETERMINISTIC regime:
    * the fixture vocabulary is ~31 terms per language and k = 64, so
    * no MG decrement ever fires on any path and the summary is the
    * EXACT per-term frequency table in (count desc, hash asc) order —
    * a pure function of the data, which is what lets the whole output
    * (ranks and counts) sit under the DuckDB hash gate. The BITING
    * regime (real vocabularies ≫ k), where MG counter values are
    * legitimately path-dependent, is certified guarantee-by-guarantee
    * in [[graft.ops.EventQueries.q162MgCertificate]] and stress-tested
    * in MisraGriesSpec.
    *
    * Terms ride as [[Md5Key]] md5-polynomial hashes (the oracle
    * replays them bit-for-bit; misra_gries takes bigint); the readable
    * term string comes back from a vocabulary dictionary built off the
    * DISTINCT terms — vocabulary-sized, broadcast. Both engines key
    * the dictionary by hash and take min(term), so a (cosmically
    * unlikely) hash collision still agrees cross-engine.
    *
    * Scale: state is ≤ k counters per language at every plan stage —
    * the corpus reduces map-side; the dictionary join is the only
    * other exchange and it is vocabulary-sized. At a real 10⁷-term
    * vocabulary the same plan emits ≤ k candidates per language with
    * the q162 guarantees instead of an exact table — that regime
    * change is the point of the operator. */
  def q161MgTopTerms(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.MisraGries.register(spark)
    val k = 64
    val toks = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("term"))
      .withColumn("hx", expr("substr(md5(term), 1, 15)"))
      .select(col("lang"), col("term"), expr(Md5Key.hex15ToLongSpark("hx")).as("hv"))
    val dict = toks.select("term").distinct()
      .withColumn("hx", expr("substr(md5(term), 1, 15)"))
      .select(col("term"), expr(Md5Key.hex15ToLongSpark("hx")).as("hv"))
      .groupBy("hv").agg(min(col("term")).as("term"))
    toks
      .groupBy("lang").agg(expr(s"misra_gries(hv, $k)").as("mg"))
      .select(col("lang"), posexplode(col("mg")).as(Seq("pos", "e")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("rk"),
        col("e.v").as("hv"), col("e.c").as("n_term"))
      .join(broadcast(dict), Seq("hv"))
      .select(col("lang"), col("rk"), col("term"), col("n_term"))
      .orderBy("lang", "rk")
  }

  /** Positional phrase search: which documents contain the corpus's
    * most frequent word TRIGRAM as a consecutive token sequence, and
    * where. Two stages, both deterministic: (1) derive the phrase —
    * trigram counts are one in-row list transform per doc (the q128
    * convention: never a positional self-join), top-1 by
    * (count desc, trigram asc) is a TakeOrdered, no full sort; (2)
    * match it with [[graft.operators.TextAnalysis.phraseOccurrences]]
    * — anchor arithmetic over positional postings, filtered to the 3
    * phrase terms by a broadcast join BEFORE the one (doc_id, anchor)
    * exchange. Deriving the phrase from the data (rather than
    * hardcoding a literal) keeps the query meaningful across fixture
    * regenerations; a production caller passes any phrase frame.
    *
    * Scale: stage 1 is a corpus-token-volume aggregate with map-side
    * combine (trigram key space, not doc count, bounds the shuffle);
    * stage 2 moves only candidate votes — L rows per occurrence of
    * any phrase TERM, selectivity L/|vocab| — and the anchor groups
    * are at most L rows each. The LIKE '%phrase%' scan this replaces
    * reads every byte of every document with no pushdown story. */
  def q163PhraseSearch(spark: SparkSession, dir: String): DataFrame =
    phraseSearch(Tables.documents(spark, dir))

  def phraseSearch(docs: DataFrame): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val top = w.filter(size(col("w")) >= 3)
      .select(explode(expr("transform(sequence(0, size(w) - 3), " +
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("tri"))
      .groupBy("tri").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tri").asc).limit(1)
      .select(col("tri"))
    val slots = top
      .select(posexplode(split(col("tri"), " ")).as(Seq("slot", "term")))
    TextAnalysis.phraseOccurrences(docs, slots, phraseLen = 3)
      .crossJoin(broadcast(top.select(col("tri").as("phrase"))))
      .select(col("doc_id"), col("phrase"), col("n_occ"), col("first_pos"))
      .orderBy("doc_id")
  }

  /** Proximity search over the corpus's three hottest terms: in which
    * documents do the top-3 terms (by corpus count, term-asc
    * tiebreak — a TOTAL order, the q154 vocabulary convention)
    * co-occur, and how tightly? Emits every doc containing all three
    * with its minimal covering span — the co-occurrence-mining
    * complement of q163's exact phrase: q163 asks "this exact
    * sequence", this asks "these terms near each other, any order"
    * ([[graft.operators.TextAnalysis.proximityMinSpan]]).
    *
    * Scale: term derivation is a combinable count + TakeOrdered
    * top-3; the match cuts the token stream to 3 terms via broadcast
    * BEFORE its one exchange, holds ≤ 3·16 positions per doc in
    * bounded agg state, and reduces spans in-row (≤ 16³ integer ops
    * per doc, codegen'd higher-order functions — no self-join, no
    * window). First-16-occurrences semantics, mirrored by the
    * oracle's row_number cap. */
  def q165ProximitySearch(spark: SparkSession, dir: String): DataFrame =
    proximitySearch(Tables.documents(spark, dir))

  def proximitySearch(docs: DataFrame): DataFrame = {
    val slots = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term").asc).limit(3)
      .select(col("term"), col("n"))
      .withColumn("slot",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("term").asc)) - 1).cast("int"))
      .select(col("slot"), col("term"))
    TextAnalysis.proximityMinSpan(docs, slots, k = 16)
      .orderBy("doc_id")
  }

  /** Compression-ratio quality screen per language: DEFLATE size over
    * raw UTF-8 size, in integer permille — the global-redundancy
    * signal ([[graft.functions.DeflateLen]]; Gopher/CCNet lineage)
    * that complements q47's bigram concentration (local loops) and
    * q139's positional n-grams (near-position repeats): a paragraph
    * pasted anywhere in the doc compresses away regardless of
    * position. One scan, one whole-stage-codegen'd native call per
    * row, one 5-group aggregate — no shuffle beyond the group-by.
    *
    * Oracle: DuckDB has no zlib surface, so the oracle is a PINNED
    * frame guarded twice — PinnedOracleSpec's fixture-content hash
    * (regenerated fixtures fail loudly with re-pin instructions) and
    * Round9SketchSpec's pin ≡ live-computation check, which also
    * trips if a JVM/zlib change ever shifts deflate output (the
    * q60/q61 pinned-agreement convention; deflate lengths are stable
    * per zlib build, not a cross-engine contract). */
  def q167CompressionRatio(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.DeflateLen.register(spark)
    Tables.documents(spark, dir)
      .select(col("lang"),
        expr("octet_length(text)").cast("long").as("raw"),
        expr("deflate_len(text)").as("defl"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("raw")).as("sum_raw"),
        sum(col("defl")).as("sum_deflated"))
      .withColumn("ratio_permille",
        // a group of all-empty documents has sum_raw = 0 while
        // sum_deflated = 2 bytes per doc (DEFLATE of "" is the 2-byte
        // empty stream), so plain division would report a huge ratio
        // and greatest(…,1) alone would report 2000·n_docs; define
        // the degenerate group as ratio 0 explicitly (no raw bytes →
        // no redundancy signal), which also avoids the ANSI
        // divide-by-zero
        expr("CASE WHEN sum_raw = 0 THEN 0L " +
          "ELSE sum_deflated * 1000 div sum_raw END"))
      .orderBy("lang")
  }

  /** Compressed web-crawl ingestion under the oracle gate: documents
    * are framed as WET records (one gzip member per doc, CRLF WARC
    * headers, Content-Length in bytes), concatenated into one archive
    * per source, then re-ingested through the full
    * [[graft.sources.WebArchive]] path — member split (native
    * [[graft.functions.GzipMembers]], provenance offsets), WARC
    * header parse, byte-exact Content-Length body slice. The output
    * is the RECOVERED corpus keyed by the URI-embedded doc_id, so the
    * DuckDB oracle is simply the documents table: any defect anywhere
    * in the codec chain (boundary drift, off-by-one in the slice,
    * header regex, CRC acceptance of a mangled member) breaks
    * byte-identity of `text` and fails the hash gate — no compressed
    * byte is ever pinned, so the gate is zlib-build-independent.
    *
    * Scale shape: build side is the fixture harness (per-source
    * collect_list — test-only); the INGEST side under test is pure
    * per-row expression work, zero shuffles from archive row to
    * document row, which is what a 1000-executor crawl ingest needs:
    * one task per archive, no exchange until dedup. */
  def q168WetIngest(spark: SparkSession, dir: String): DataFrame = {
    val archives = graft.sources.WebArchive.buildWetArchives(
      Tables.documents(spark, dir).select("doc_id", "source", "text"))
    graft.sources.WebArchive.wetDocuments(archives)
      .select(col("archive"),
        expr("cast(regexp_extract(target_uri, 'doc/([0-9]+)', 1) as bigint)")
          .as("doc_id"),
        col("content_length").as("n_bytes"),
        col("text"))
  }

  /** Corrupt-input ACCOUNTING under the oracle gate — the audit
    * identity q168's scaladoc states in prose (`member rows =
    * documents + quarantined`), registered as a query over a fixture
    * with PLANTED corruption: archives built from the documents table,
    * then every even-length source's archive gets its member-2 gzip
    * MAGIC byte zeroed (located via the payload-free
    * [[graft.sources.WebArchive.memberIndex]] — the corruption is
    * byte-surgical, so the quarantine reason is decided by OUR header
    * parser, not by whatever a zlib build does with a broken stream:
    * deterministic cross-engine). Per archive: total rows, document
    * rows, quarantine rows, the quarantine reason, and the identity as
    * a certified column. The DuckDB oracle derives it all from the
    * documents table alone: a corrupted archive yields its 2 smallest
    * doc_ids as documents plus ONE quarantine row covering the rest
    * (gzip has no resync marker), an intact archive yields every doc. */
  def q173WetQuarantineAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val archives = graft.sources.WebArchive.buildWetArchives(docs)
    val off2 = graft.sources.WebArchive.memberIndex(archives)
      .filter(col("member_index") === 2 && col("member_err").isNull)
      .select(col("archive"), col("member_offset").cast("int").as("corrupt_at"))
    val planted = archives
      .join(broadcast(off2), Seq("archive"), "left")
      .withColumn("payload",
        when(col("corrupt_at").isNotNull && length(col("archive")) % 2 === 0,
          expr("concat(substring(payload, 1, corrupt_at), X'00', " +
            "substring(payload, corrupt_at + 2, length(payload)))"))
          .otherwise(col("payload")))
      .select("archive", "payload")
    graft.sources.WebArchive.wetDocuments(planted)
      .groupBy("archive")
      .agg(count(lit(1)).as("n_rows"),
        count(col("text")).as("n_docs"),
        count(col("quarantine")).as("n_quarantined"),
        max(col("quarantine")).as("reason"))
      .withColumn("identity_ok",
        col("n_rows") === col("n_docs") + col("n_quarantined"))
  }

  /** The cluster.idx BUILDER under the oracle gate — q168's index-side
    * companion: the payload-free streaming member index
    * ([[graft.sources.WebArchive.memberIndex]] — constant memory
    * whatever the archive's decompressed size, the pass that makes
    * offset-splittable ingestion possible) over archives built from
    * the documents table. Certified two ways: (a) member count and Σ
    * decompressed bytes per archive are re-derived INDEPENDENTLY in
    * DuckDB by reconstructing every record's exact byte length from
    * the documents table (the WET record layout is deterministic —
    * header framing + body + trailing CRLFs, all byte-countable in
    * SQL); (b) the properties DuckDB cannot recompute without zlib —
    * offsets starting at 0 and compressed lengths exactly TILING the
    * archive payload — are emitted as an in-plan certified column
    * (the q173 convention). */
  def q176WetMemberIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val archives = graft.sources.WebArchive.buildWetArchives(docs)
    graft.sources.WebArchive.memberIndex(archives)
      .groupBy("archive")
      .agg(count(lit(1)).as("n_members"),
        sum(col("member_ulen")).as("sum_ulen"),
        count(col("member_err")).as("n_errors"),
        min(col("member_offset")).as("_min_off"),
        max(col("member_offset") + col("member_clen")).as("_max_end"),
        sum(col("member_clen")).as("_sum_clen"))
      .join(archives.select(col("archive"),
        octet_length(col("payload")).cast("long").as("_plen")), Seq("archive"))
      .select(col("archive"), col("n_members"), col("sum_ulen"),
        col("n_errors"),
        (col("_min_off") === 0L && col("_max_end") === col("_plen") &&
          col("_sum_clen") === col("_plen")).as("tiles_payload"))
  }

  /** WARC RESPONSE records as multimodal assets — the other half of a
    * real crawl file (WET text ingest is q168): binary bodies behind
    * genuine container magic numbers (PNG/JPEG/gzip + an unknown
    * tail — the q53 construction) travel the archive codec, the
    * byte-level [[graft.functions.WarcSplit]] header parse, the
    * byte-exact body slice, and the media-type router WITHOUT ever
    * being decoded as text — the capability the round-11 advice
    * finding was really about (binary bodies are the image/audio
    * pillar's input, not corruption). Per (archive, route): asset
    * count + total payload bytes, both re-derived in DuckDB from the
    * documents table (route and magic length are functions of
    * doc_id % 4; body bytes = magic + text bytes). */
  def q177WarcAssets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        concat(
          expr("element_at(array(X'89504E470D0A1A0A', X'FFD8FFE0', " +
            "X'1F8B0800', X'0000'), cast(pmod(doc_id, 4) + 1 as int))"),
          encode(col("text"), "UTF-8")).as("body"))
    val archives = graft.sources.WebArchive.buildWarcArchives(docs)
    graft.sources.WebArchive.warcAssets(archives)
      .groupBy("archive", "route")
      .agg(count(lit(1)).as("n_assets"),
        sum(octet_length(col("payload")).cast("long")).as("sum_bytes"))
  }

  /** HTML → training-text extraction under the strongest gate — the
    * crawl stage that PRODUCES a WET file (q168 consumes one): each
    * doc's text is wrapped in a full HTML page with hostile
    * boilerplate — a script whose string literal contains `</p>` (the
    * classic naive-stripper trap), a style block, title/nav/heading/
    * footer lines, an entity — and [[graft.operators.Html]] must give
    * back the corpus BYTE-FOR-BYTE: markup removal recovers the
    * rendered lines, the jusText-style minWords filter drops every
    * planted boilerplate line (all ≤ 2 words; real docs are ≥ 10).
    * The oracle is the documents table plus the one deterministic
    * suffix arm (q168's round-trip convention — no regex is pinned,
    * the whole chain is certified by identity).
    *
    * Character references ride the same identity: one doc arm ships
    * its spaces as `&#32;` (decimal numeric), one its `e`s as
    * `&#x65;` (hex numeric) — both must decode back to the exact
    * corpus bytes — and one arm appends a typographic named-entity
    * suffix (`&nbsp;&mdash;&ldquo;…`) whose decoded form the oracle
    * concatenates verbatim, so the named tier is cross-engine-checked
    * too, including the U+00A0 → space whitespace fold. */
  def q178HtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val html = docs.select(col("doc_id"), concat(
      lit("<html><head><title>doc "), col("doc_id"),
      lit("</title><script type=\"text/javascript\">var x = 1 < 2 && " +
        "\"</p>\";</script><style>p { color: red; }</style></head>" +
        "<body><nav>home about</nav><h1>doc "),
      col("doc_id"),
      lit("</h1><p>"),
      expr("CASE pmod(doc_id, 4) " +
        "WHEN 0 THEN replace(text, ' ', '&#32;') " +
        "WHEN 1 THEN replace(text, 'e', '&#x65;') " +
        "ELSE text END"),
      expr("CASE WHEN pmod(doc_id, 4) = 2 " +
        "THEN '&nbsp;&mdash;&nbsp;&ldquo;data&rdquo;&hellip;' " +
        // accented-letter names + a LEGACY no-semicolon form (&copy
        // followed by a space — the HTML5 missing-semicolon decode)
        "WHEN pmod(doc_id, 4) = 3 " +
        "THEN '&nbsp;caf&eacute;, &Uuml;ber na&iuml;ve &amp; more &copy 2020' " +
        "ELSE '' END"),
      lit("</p><div>short</div><footer>&amp; example.org</footer>" +
        "</body></html>")).as("html"))
    graft.operators.Html.extractMainText(html, "html", "main_text",
      minWords = 3)
      .select("doc_id", "main_text")
  }

  /** The extended-entity decode under its own gate: HTML5-only names
    * (letterlike, double-struck, dingbats, long arrows, the
    * multi-codepoint `&fjlig;` ligature) through `html_unescape_full`
    * with the committed snapshot of the published entity-table format
    * ([[graft.functions.HtmlEntities]] — production swaps in the real
    * ~2.2k-name file by path, the PSL stance). The arms also pin the
    * boundaries: an HTML 4.01 name (`&eacute;`) must still decode
    * through the MERGED table, an unknown name (`&notarealname;`)
    * must pass through literally (chosen with no legacy-name prefix:
    * `&notarealname;` would decode its `&not` head), and an extension
    * name WITHOUT its
    * semicolon must stay literal (the no-semicolon set is the frozen
    * Legacy list, extension-independent). The oracle derives every
    * expected character from its CODEPOINT (`chr(10003)` etc. — the
    * untypeable-wrong stance of the Latin-1 zip), never from a typed
    * glyph. */
  def q192Html5Entities(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.HtmlUnescapeFull.register(spark)
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    docs.select(col("doc_id"),
      call_function("html_unescape_full",
        concat(col("text"), expr("CASE pmod(doc_id, 4) " +
          "WHEN 0 THEN ' &check; list &cross; done &DoubleLongLeftArrow; back' " +
          "WHEN 1 THEN ' se&ell;&ell; the &numero;1 &copysr; label' " +
          "WHEN 2 THEN ' &fjlig;ord &Zopf; &Qopf; &Ropf; math' " +
          "ELSE ' &star;&starf; rated caf&eacute; &planck; &zzznope; " +
          "end &check no-semi' END")),
        lit("classpath:graft/html5_entities_snapshot.json")).as("decoded"))
  }

  /** The FULL crawl-to-corpus pipeline in one identity gate — the
    * composition a real ingest runs end-to-end: documents → hostile
    * HTML pages (q178's wrapper) → WARC RESPONSE records with the
    * HTML as binary bodies → concatenated-gzip archives → member
    * split (CRC-verified) → byte-level header parse → body slice →
    * HTML markup removal + boilerplate filter → documents. Every
    * stage that could shear a byte (gzip framing, Content-Length
    * arithmetic, char/byte desync, regex leakage, line filtering)
    * sits inside one hash-match against the unmodified documents
    * table. This is q168's round trip with the two round-12 layers —
    * binary WARC bodies and HTML extraction — composed in. */
  def q179CrawlPipeline(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val pages = docs.select(col("doc_id"), col("source"),
      encode(concat(
        lit("<html><head><title>doc "), col("doc_id"),
        lit("</title><script type=\"text/javascript\">var x = 1 < 2 && " +
          "\"</p>\";</script><style>p { color: red; }</style></head>" +
          "<body><nav>home about</nav><h1>doc "),
        col("doc_id"),
        lit("</h1><p>"), col("text"),
        lit("</p><div>short</div><footer>&amp; example.org</footer>" +
          "</body></html>")), "UTF-8").as("body"))
    val archives = graft.sources.WebArchive.buildWarcArchives(pages)
    val recs = graft.sources.WebArchive.warcRecords(
      graft.sources.WebArchive.expandGzipMembers(archives))
    graft.operators.Html.extractMainText(
      recs.filter(col("quarantine").isNull)
        .select(
          expr("cast(regexp_extract(target_uri, 'doc/([0-9]+)', 1) as bigint)")
            .as("doc_id"),
          col("body").cast("string").as("html")),
      "html", "main_text", minWords = 3)
      .select("doc_id", "main_text")
  }

  /** Domain governance under the oracle gate — per-domain corpus
    * accounting + blocklist flags ([[graft.operators.Domains]], the
    * C4-style stage between ingest and training): deterministic URIs
    * built over the documents table exercise userinfo stripping, port
    * stripping, subdomain → registrable-domain reduction, and
    * malformed-URI nulls; the DuckDB oracle replays the exact
    * construction + extraction regex chain, so host surgery is
    * cross-engine-certified, not pinned. Blocklist semantics (domain
    * `src0.org` bans www./cdn. subdomains too; exact host
    * `cdn.src1.org` bans only itself) surface as the `blocked`
    * column; [[graft.operators.Domains.filterBlocked]]'s anti-join ≡
    * this flag is spec-pinned.
    *
    * The URI arms deliberately cover every PSL rule class so the
    * when-chain in [[graft.operators.Domains.registrableDomainPsl]]
    * is certified arm-by-arm against a full SQL replay (not just on
    * hosts where PSL ≡ the two-label fallback): a `co.uk` normal
    * rule (arm 4), a `*.ck` wildcard (arm 5), the `!city.kawasaki.jp`
    * exception (arm 6), a host EQUAL to a wildcard base — the
    * default-rule fallthrough (arm 7), the trailing-dot FQDN form
    * (arm 8), and a host that IS a public suffix → null domain
    * (arm 9). */
  def q180DomainStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"),
        expr("CASE pmod(doc_id, 10) " +
          "WHEN 0 THEN concat('https://crawler@www.', source, " +
          "'.org:8443/p/', doc_id, '?q=1') " +
          "WHEN 1 THEN concat('http://', source, '.org/p/', doc_id) " +
          "WHEN 2 THEN concat('https://cdn.', source, '.org/img/', doc_id) " +
          "WHEN 3 THEN concat('notauri ', doc_id) " +
          "WHEN 4 THEN concat('https://www.', source, '.co.uk/p/', doc_id) " +
          "WHEN 5 THEN concat('http://a.b.', source, '.ck/x/', doc_id) " +
          "WHEN 6 THEN concat('https://www.city.kawasaki.jp/e/', doc_id) " +
          "WHEN 7 THEN concat('http://kawasaki.jp/w/', doc_id) " +
          "WHEN 8 THEN concat('https://cdn.', source, '.org./img/', doc_id) " +
          "ELSE concat('http://host.kawasaki.jp/s/', doc_id) END").as("uri"))
    graft.operators.Domains.domainStats(docs)
      .withColumn("blocked",
        coalesce(col("domain") === "src0.org", lit(false)) ||
          coalesce(col("host") === "cdn.src1.org", lit(false)))
  }

  /** The published Gopher rejection rules per doc under the oracle
    * gate ([[TextAnalysis.gopherFlags]] — Rae et al. 2021 A1.1):
    * integer evidence + one flag per rule + the composite pass. On
    * this synthetic fixture the stopword rule is uniformly false (the
    * 31-token vocabulary contains only 'the' of the canonical 8) and
    * the word-count bound splits the corpus at 50 — both replayed,
    * not assumed; every ratio is an integer cross-multiplication so
    * no float threshold can drift between engines. */
  def q182GopherFilter(spark: SparkSession, dir: String): DataFrame =
    graft.operators.TextAnalysis.gopherFlags(
      Tables.documents(spark, dir).select("doc_id", "text"))
      .select("doc_id", "n_words", "mwl_permille", "words_ok", "mwl_ok",
        "sym_ok", "alpha_ok", "stop_ok", "pass")

  /** The Gopher LINE-level rules on a MULTI-LINE corpus built in-query
    * (the q178 wrapper convention — the fixture is single-line, so the
    * bullet/ellipsis rules would be vacuous on it): each doc gains a
    * deterministic pmod-driven mix of bullet lines (`•`, `- `) and
    * ellipsis-terminated lines (`...`, `…`), so both rules trip on
    * known subsets and every count crosses the 90%/30% thresholds at
    * different doc_ids. The DuckDB oracle replays the construction AND
    * the line classification regexes verbatim. */
  def q184GopherLines(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val multi = docs.withColumn("mtext", concat(col("text"),
      expr("repeat('\n• bullet item', cast(pmod(doc_id, 12) as int))"),
      expr("repeat('\n- dash item', cast(pmod(doc_id, 3) as int))"),
      expr("repeat('\nsee more...', cast(pmod(doc_id, 4) as int))"),
      expr("repeat('\ntrailing note…', cast(pmod(doc_id, 2) as int))")))
    graft.operators.TextAnalysis.gopherFlags(multi, text = "mtext")
      .select("doc_id", "n_words", "n_lines", "words_ok", "bullet_ok",
        "ellip_ok", "pass")
  }

  /** The RANGE-READ crawl ingest under the oracle gate — the
    * production 100 TB archive path registered end-to-end: the
    * documents table becomes per-source WET archive FILES on disk
    * (the sandbox's test medium; the reader is Hadoop-FS
    * scheme-transparent, so the same plan does s3a ranged GETs), a
    * member index is built by STREAMING each path
    * ([[graft.sources.WebArchive.memberIndexFromPaths]] — bounded
    * window, no whole-file row even at build time) and PERSISTED once
    * (the cluster.idx role), and
    * [[graft.sources.WebArchive.wetDocumentsRanged]] re-ingests
    * every document through per-member byte-range reads — no archive
    * payload column exists anywhere in the measured plan. Output is
    * per-archive recovery + audit counts; the oracle replays them
    * from the raw documents table, so a shear anywhere in file-write
    * → index → ranged fetch → inflate → WARC parse → UTF-8 decode
    * breaks the hash. (The file materialization is the fixture
    * assembly, memoized once per session; its collect is
    * fixture-sized by construction, the buildWetArchives harness
    * convention.) */
  def q185RangedIngest(spark: SparkSession, dir: String): DataFrame = {
    val idx = Memo.of(spark, s"ranged_fixture_index:$dir") {
      val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
      val arcs = graft.sources.WebArchive.buildWetArchives(docs)
      val root = new java.io.File(sys.props("java.io.tmpdir"),
        "graft-q185-" + java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12))
      val arcDir = new java.io.File(root, "arcs"); arcDir.mkdirs()
      val files = arcs.collect().map { r =>
        val f = new java.io.File(arcDir, r.getString(0) + ".warc.gz")
        java.nio.file.Files.write(f.toPath, r.getAs[Array[Byte]](1))
        "file:" + f.getAbsolutePath
      }
      import spark.implicits._
      val idxPath = new java.io.File(root, "index").getAbsolutePath
      graft.sources.WebArchive
        .memberIndexFromPaths(files.toSeq.toDF("archive"))
        .write.mode("overwrite").parquet(idxPath)
      spark.read.parquet(idxPath)
    }
    graft.sources.WebArchive.wetDocumentsRanged(idx)
      .select(
        regexp_extract(col("archive"), "([^/]+)\\.warc\\.gz", 1).as("archive"),
        col("text"), col("quarantine"))
      .groupBy("archive")
      .agg(count(lit(1)).as("n_docs"),
        sum(octet_length(col("text"))).cast("long").as("sum_text_bytes"),
        count(col("quarantine")).as("n_quarantined"))
  }

  /** URL-level dedup on the canonical form under the oracle gate —
    * [[graft.operators.Domains.canonicalizeUrl]] +
    * [[graft.operators.Domains.urlDedup]]: five URI spellings per
    * (source, class) — mixed case + default port + fragment, encoded
    * tracking params (including a doc-varying one, so a lazy substring
    * match cannot pass), lowercase percent-escapes, a bare authority,
    * and a `:80/?utm_…` form — must collapse to exactly TWO canonical
    * URLs per source. The oracle derives the expected canonical
    * strings and group stats INDEPENDENTLY from the documents table
    * (the q173 convention: expected-form, not chain-replay), so any
    * canonicalization drift breaks the hash. */
  def q186UrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        expr("CASE pmod(doc_id, 5) " +
          "WHEN 0 THEN concat('https://www.', source, '.org/a%2fb?x=1') " +
          "WHEN 1 THEN concat('HTTPS://WWW.', upper(source), " +
          "'.ORG:443/a%2Fb?x=1#frag') " +
          "WHEN 2 THEN concat('https://www.', source, " +
          "'.org/a%2fb?utm_source=feed&x=1&utm_campaign=', doc_id) " +
          "WHEN 3 THEN concat('http://', source, '.org') " +
          // the full r16 click-id tier rides this arm: every one of
          // these params must strip (and the then-empty '?' drop) for
          // the oracle's expected canonical form to hash-match
          "ELSE concat('http://', source, '.org:80/?utm_campaign=z&gclid=', " +
          "doc_id, '&msclkid=m', doc_id, '&wbraid=w&twclid=t&mc_eid=e') " +
          "END").as("uri"))
    graft.operators.Domains.urlDedup(docs)
  }

  /** The C4 cleaning rules on a MULTI-LINE corpus built in-query (the
    * q184 wrapper convention) under the oracle gate
    * ([[graft.operators.TextAnalysis.c4Flags]] — Raffel et al. 2020
    * §2.2): each doc gains a deterministic pmod-driven mix of lines
    * that trip exactly one rule each — too few words, the
    * "javascript" word, no terminal punctuation — plus page-level
    * `{` / "lorem ipsum" / bad-word arms on disjoint doc subsets, so
    * every rule fires on a known slice and the sentence threshold
    * crosses at different doc_ids. `clean_md5` puts the kept CONTENT
    * itself under the hash gate; the DuckDB oracle replays the
    * construction AND every rule verbatim. */
  /** Page directives under the oracle gate ([[graft.operators.Html
    * .pageDirectives]]): each doc wraps in a head whose
    * `<link rel=canonical>` / `<meta name=robots>` arms rotate
    * through BOTH attribute orders, mixed tag/attribute case,
    * single/double/UNQUOTED attribute values, multi-token `rel`
    * lists, RELATIVE hrefs (root-path, dot-segment, and
    * `<base href>`-relative — the r17 RFC 3986 §5 resolution arms),
    * and absence — and the DuckDB oracle derives the expected outputs
    * INDEPENDENTLY from doc_id (the q186 convention), so the regex +
    * resolution layers are certified by producing exactly the right
    * value from every hostile spelling, not by replaying themselves. */
  def q189PageDirectives(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val id = col("doc_id").cast("string")
    val m7 = pmod(col("doc_id"), lit(7))
    val m4 = pmod(col("doc_id"), lit(4))
    val pageUrl = concat(lit("http://s"),
      pmod(col("doc_id"), lit(10)).cast("string"),
      lit(".example.com/dir/sub/page"), id, lit(".html"))
    val robotsArm = when(m4 === 0,
        lit("<meta name=\"robots\" content=\"noindex, follow\">"))
      .when(m4 === 1, lit("<meta content=\"NOFOLLOW,archive\" name=\"ROBOTS\">"))
      // unquoted attribute values — valid HTML the r16 form missed
      .when(m4 === 2, lit("<meta name=robots content=noindex>"))
      .otherwise(lit("<meta name=\"viewport\" content=\"width=device-width\">"))
    val baseArm = when(m7 === 4,
      lit("<base href=\"https://cdn.example.net/b/x.html\">")).otherwise(lit(""))
    val linkArm = when(m7 === 0, concat(
        lit("<link rel=\"canonical\" href=\"https://example.org/c/"), id, lit("\">")))
      .when(m7 === 1, concat(
        lit("<LINK href=\"https://Example.org/Alt/"), id, lit("\" rel=\"canonical\">")))
      // multi-token rel list + unquoted root-relative href
      .when(m7 === 2, concat(
        lit("<link rel=\"canonical alternate\" href=/article/"), id, lit(">")))
      // single-quoted, dot-segment relative (resolves via merge +
      // remove_dot_segments against the page URL)
      .when(m7 === 3, concat(
        lit("<link rel='canonical' href='../other/"), id, lit("'>")))
      // unquoted rel + path-relative href against the <base href>
      .when(m7 === 4, concat(lit("<link rel=canonical href=y/"), id, lit(">")))
      .otherwise(lit("<link rel=\"stylesheet\" href=\"/s.css\">"))
    val pages = docs.select(col("doc_id"), pageUrl.as("page_url"), concat(
      lit("<html><head><title>d</title>"), baseArm, robotsArm, linkArm,
      lit("</head><body><p>"), col("text"),
      lit("</p></body></html>")).as("html"))
    graft.operators.Html.pageDirectives(pages, "html",
        pageUrlCol = Some("page_url"))
      .select("doc_id", "rel_canonical", "canonical_resolved", "base_href",
        "meta_robots", "noindex", "nofollow")
  }

  /** Canonical-KEY dedup — the composition q189's resolution exists
    * for (r17), registered under its own cross-engine gate: mirror
    * hosts (`m0.`/`m1.` of the same site) declare canonical targets —
    * absolute on one arm, `<base href>`-RELATIVE on another — and the
    * dedup key is `coalesce(canonical_resolved, page URL)` through
    * [[graft.operators.Domains.urlDedup]]. Docs on DIFFERENT mirror
    * hosts merge exactly when their resolved canonical coincides (the
    * merge a raw relative href could never produce — it collides
    * textually across sites instead); no-canonical docs fall back to
    * their own URL as singletons. The oracle derives every doc's
    * expected KEY independently from doc_id (the q186 convention) and
    * groups — resolution is certified by producing the right cluster
    * structure, not by replaying RFC 3986 in SQL. */
  def q190CanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val id = col("doc_id").cast("string")
    val m2 = pmod(col("doc_id"), lit(2)).cast("string")
    val m5 = pmod(col("doc_id"), lit(5)).cast("string")
    val m3 = pmod(col("doc_id"), lit(3))
    val grp = expr("doc_id div 20").cast("string")
    val pageUrl = concat(lit("http://m"), m2, lit(".site"), m5,
      lit(".org/p/"), id)
    val baseArm = when(m3 === 1, concat(
      lit("<base href=\"https://site"), m5, lit(".org/b/\">")))
      .otherwise(lit(""))
    val linkArm = when(m3 === 0, concat(
        lit("<link rel=\"canonical\" href=\"https://site"), m5,
        lit(".org/art/"), grp, lit("\">")))
      .when(m3 === 1, concat(
        lit("<link rel=canonical href=art/"), grp, lit(">")))
      .otherwise(lit(""))
    val pages = docs.select(col("doc_id"), pageUrl.as("page_url"),
      concat(lit("<html><head>"), baseArm, linkArm,
        lit("</head><body>x</body></html>")).as("html"))
    val keyed = graft.operators.Html
      .pageDirectives(pages, "html", pageUrlCol = Some("page_url"))
      .withColumn("u", coalesce(col("canonical_resolved"), col("page_url")))
    graft.operators.Domains.urlDedup(keyed, uriCol = "u")
  }

  /** Anchor-text aggregation under the oracle gate ([[graft.operators
    * .Html.extractAnchors]] → [[graft.operators.Html.anchorStats]]):
    * the link-graph signal stage. Pages (the q189 hostile-spelling
    * convention, arms from doc_id arithmetic) carry a double-quoted
    * absolute link whose anchor holds a CHARACTER REFERENCE
    * (`story &amp; g` must aggregate as `story & g`), a single-quoted
    * RELATIVE link with INNER MARKUP (`local <b>g</b>` on the page's
    * own host — resolution makes it absolute, stripping makes it
    * `local g`), an unquoted-href link behind a `data-href` decoy
    * whose anchor alternates so the per-target argmax has real
    * competition, and a no-href `<a name>` that must vanish. The
    * oracle derives every link row INDEPENDENTLY from doc_id and
    * aggregates — extraction, resolution, entity decode, tag strip,
    * and the (count desc, text asc) argmax are certified by producing
    * exactly the right aggregate from every spelling. */
  def q199AnchorStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val id = col("doc_id").cast("string")
    val h = pmod(col("doc_id"), lit(7)).cast("string")
    val g = expr("doc_id div 10").cast("string")
    val pageUrl = concat(lit("http://h"), h, lit(".example.org/p/"), id)
    val armA = concat(lit("<a href=\"http://t.example.com/art/"), g,
      lit("\">story &amp; "), g, lit("</a>"))
    val armB = when(pmod(col("doc_id"), lit(3)) === 1, concat(
        lit("<a href='/local/"), g, lit("'>local <b>"), g, lit("</b></a>")))
      .otherwise(lit(""))
    val armD = when(pmod(col("doc_id"), lit(4)) === 2, concat(
        lit("<a class=x data-href=/wrong href=http://t.example.com/alt/"),
        pmod(col("doc_id"), lit(5)).cast("string"),
        lit(">alt "), pmod(expr("doc_id div 4"), lit(2)).cast("string"),
        lit("</a>")))
      .otherwise(lit(""))
    val armE = when(pmod(col("doc_id"), lit(5)) === 3,
      lit("<a name=\"x\">no link</a>")).otherwise(lit(""))
    val pages = docs.select(col("doc_id"), pageUrl.as("page_url"),
      concat(lit("<html><body><p>intro</p>"), armA, armB, armD, armE,
        lit("</body></html>")).as("html"))
    graft.operators.Html.anchorStats(
      graft.operators.Html.extractAnchors(pages, "html", "page_url"))
  }

  /** robots.txt parse + longest-match decision under the oracle gate
    * ([[graft.operators.Domains.robotsParse]] →
    * [[graft.operators.Domains.robotsDecision]]): each host publishes
    * a REAL REP file built in-query — a specific-agent group
    * (`gptbot: Disallow /`) that the wildcard view must IGNORE, the
    * `*` group with a root allow, an empty `Disallow:` (no
    * restriction, must emit nothing), a host-parity `/p/` disallow,
    * a longer `/p/1` allow that must BEAT it on specificity, and on
    * one host the equal-length `/p/2` allow+disallow pair whose tie
    * RFC 9309 §2.2.2 resolves least-restrictive. r19 grows the §2.2.3
    * wildcard arms (patterns spelled star-as-`…` here — a literal
    * slash-star would nest this comment; the code below has the real
    * text): host 3 pits the anchored `Disallow: /p/…9$` wildcard
    * against both the shorter `/p/1` prefix allow (the wildcard must
    * WIN on raw length) and the longer `Allow: /p/…99$` (which must
    * win back); host 4 anchors `Allow: /p/…0$` over its `/p/`
    * disallow; host 5 carries a literal-underscore WILDCARD rule
    * (`_9$`-anchored) that must match NOTHING on all-digit paths
    * (escaping proof — `_` is data, not a LIKE wildcard; unescaped it
    * would disallow every page ending `9` there); host 6 disallows
    * `…?ref=` which must match the pages that carry a `?ref=a` query
    * (path+query matching). Hosts 1 and 4 serve their
    * file with CRLF line endings and host 3 spells its host
    * MiXeD-CaSe — both must change nothing. The oracle derives every
    * page's expected (allowed, matched_prefix) independently from
    * doc_id arithmetic — parse, grouping, wildcard compilation, and
    * precedence are certified by producing the right decision from
    * the raw file text. */
  /** The 7-host robots fixture q200 AND q204 decide against —
    * published as the parsed rule table. See [[q200RobotsFilter]]'s
    * scaladoc for what each arm exercises. */
  private def robotsFixtureRules(spark: SparkSession): DataFrame = {
    val hosts = spark.range(7).select(
      when(col("id") === 3,
        concat(lit("H"), col("id").cast("string"), lit(".Example.ORG")))
        .otherwise(
          concat(lit("h"), col("id").cast("string"), lit(".example.org")))
        .as("host"),
      col("id").as("hn"))
    val robotsTxt = concat(
      lit("# crawl policy\nUser-agent: gptbot\nDisallow: /\n\n"),
      lit("User-agent: *\nAllow: /\n"),
      when(pmod(col("hn"), lit(2)) === 1, lit("Disallow:\n"))
        .otherwise(lit("")),
      when(pmod(col("hn"), lit(2)) === 0, lit("Disallow: /p/\n"))
        .otherwise(lit("")),
      lit("Allow: /p/1\n"),
      when(col("hn") === 2, lit("Allow: /p/2\nDisallow: /p/2\n"))
        .otherwise(lit("")),
      when(col("hn") === 3, lit("Disallow: /p/*9$\nAllow: /p/*99$\n"))
        .otherwise(lit("")),
      when(col("hn") === 4, lit("Allow: /p/*0$\n")).otherwise(lit("")),
      when(col("hn") === 5, lit("Disallow: /*_9$\n")).otherwise(lit("")),
      when(col("hn") === 6, lit("Disallow: /*?ref=\n")).otherwise(lit("")))
    // hosts 1 and 4 publish CRLF files — decisions must be identical
    val served = when(col("hn").isin(1, 4),
      regexp_replace(robotsTxt, "\n", "\r\n")).otherwise(robotsTxt)
    graft.operators.Domains.robotsParse(
      hosts.select(col("host"), served.as("robots_txt")))
  }

  def q200RobotsFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val id = col("doc_id").cast("string")
    val h = pmod(col("doc_id"), lit(7)).cast("string")
    val q = when(pmod(col("doc_id"), lit(10)) === 6, lit("?ref=a"))
      .otherwise(lit(""))
    val pages = docs.select(col("doc_id"),
      concat(lit("http://h"), h, lit(".example.org/p/"), id, q).as("url"))
    graft.operators.Domains.robotsDecision(pages,
        robotsFixtureRules(spark), uriCol = "url")
      .select("doc_id", "url", "allowed", "matched_prefix")
  }

  /** The crawl-frontier COMPOSITION under the oracle gate: the
    * sitemap tells the crawler what exists ([[q203SitemapFrontier]]'s
    * urlset leaves — child sitemapindex entries are fetches, not
    * pages, and drop here), robots tells it what it may fetch
    * ([[robotsFixtureRules]] → [[graft.operators.Domains
    * .robotsDecision]]) — the frontier loop every crawler runs,
    * as one stateless stream-compatible plan. The sitemap arms
    * interact with the wildcard rules on purpose: an ends-9 page on
    * host 3 is disallowed by the anchored wildcard ONLY when its loc
    * carries no query arm (the `?a=1&b=2` suffix defeats the `$`
    * anchor — anchoring is over path+query), while the ends-99 and
    * ends-0 arms never coincide with a query arm (mod arithmetic)
    * and must keep their q200 outcomes verbatim. The oracle derives
    * every row — loc decode included — independently from doc_id. */
  def q204CrawlFrontier(spark: SparkSession, dir: String): DataFrame = {
    val leaves = q203SitemapFrontier(spark, dir)
      .filter(col("kind") === "url")
      .select(col("loc").as("url"), col("lastmod"))
    graft.operators.Domains.robotsDecision(leaves,
        robotsFixtureRules(spark), uriCol = "url")
      .select("url", "lastmod", "allowed", "matched_prefix")
  }

  /** Sitemap ingestion under the oracle gate
    * ([[graft.operators.Domains.sitemapParse]], the q200 convention:
    * REAL protocol XML built in-query, expected rows derived
    * independently from doc_id arithmetic): hosts 0–5 publish
    * `<urlset>` leaves — with a CDATA-wrapped loc arm whose content
    * is ENTITY-SHAPED (`&amp;` inside CDATA is literal text and must
    * survive verbatim — decoding it is the double-decode bug), an
    * entity-escaped query arm (`&amp;` must decode to `&`), a
    * numeric-character-reference arm (`&#38;` decimal and `&#x26;`
    * hex must both decode), whitespace-padded `<loc>` values, a junk
    * `<priority>` tag the parser must ignore, and a lastmod arm
    * that is ABSENT on every doc_id≡0 (mod 3) entry (null, not "")
    * — while host 6 publishes a `<sitemapindex>` whose entries must
    * come back `kind='sitemap'` (child fetches, not page URLs). The
    * XML assembly groups per host, but the PARSER is stateless
    * per-row work (see sitemapParse's streaming spec). */
  def q203SitemapFrontier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val id = col("doc_id").cast("string")
    val hn = pmod(col("doc_id"), lit(7))
    val h = hn.cast("string")
    val base = concat(lit("https://h"), h, lit(".example.org/p/"), id)
    val lastmod = when(pmod(col("doc_id"), lit(3)) =!= 0,
      concat(lit("2026-0"),
        (pmod(col("doc_id"), lit(3)) + 1).cast("string"), lit("-01")))
    val urlLoc = when(pmod(col("doc_id"), lit(5)) === 2,
        // ENTITY-SHAPED CDATA content: must come back verbatim —
        // CDATA is literal by XML rules, so the `&amp;` stays five
        // characters (the r19 ADVICE double-decode arm)
        concat(lit("<![CDATA["), base, lit("?raw=a&amp;b]]>")))
      .when(pmod(col("doc_id"), lit(8)) === 1,
        concat(base, lit("?a=1&amp;b=2")))
      .when(pmod(col("doc_id"), lit(8)) === 5,
        // numeric character references, both spellings — must decode
        // to `?n=1&m=2&o=3` (the r19 VERDICT's remaining crawl gap).
        // mod-8 splits the OLD mod-4==1 arm, so the query-armed doc
        // set — and with it every q204/q206 wildcard interaction —
        // is unchanged (ends-99 ids are ≡3 mod 4, still query-free)
        concat(base, lit("?n=1&#38;m=2&#x26;o=3")))
      .otherwise(base)
    val entry = when(hn === 6, concat(
        lit("<sitemap>\n  <loc>https://h6.example.org/sm/"), id,
        lit(".xml</loc>"),
        coalesce(concat(lit("\n  <lastmod>"), lastmod, lit("</lastmod>")),
          lit("")),
        lit("\n</sitemap>")))
      .otherwise(concat(
        lit("<url>\n  <loc>\n    "), urlLoc, lit("\n  </loc>"),
        coalesce(concat(lit("<lastmod>"), lastmod, lit("</lastmod>")),
          lit("")),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("<priority>0.5</priority>")).otherwise(lit("")),
        lit("\n</url>")))
    val ns = "xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\""
    val xml = docs.select(hn.as("hn"), entry.as("e"))
      .groupBy("hn")
      .agg(concat_ws("\n", collect_list(col("e"))).as("body"))
      .select(
        concat(lit("h"), col("hn").cast("string"), lit(".example.org"))
          .as("host"),
        when(col("hn") === 6, concat(
            lit(s"<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<sitemapindex $ns>\n"),
            col("body"), lit("\n</sitemapindex>")))
          .otherwise(concat(
            lit(s"<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<urlset $ns>\n"),
            col("body"), lit("\n</urlset>"))).as("sitemap_xml"))
    graft.operators.Domains.sitemapParse(xml)
  }

  /** Crawl-delay politeness budget under the oracle gate
    * ([[graft.operators.Domains.robotsCrawlDelay]]): each host's REP
    * file carries a decoy delay in a specific-agent group (must NOT
    * reach the `*` view), a whole-second arm, a FRACTIONAL `0.5` arm
    * (decimal→ms must stay exact), a no-delay arm (hosts emit NO
    * row, not null), and one host stacking a second `*` group whose
    * smaller delay must win the conservative MIN. The derived
    * `fetches_per_hour = 3600000 div delay_ms` is the number a fetch
    * scheduler actually allocates. Expected rows derived
    * independently from the host arithmetic. */
  def q205CrawlDelay(spark: SparkSession, dir: String): DataFrame = {
    // documents carries every residue mod 7 at all fixture scales, so
    // the oracle can derive the same host set from DISTINCT doc_id%7
    val hosts = Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(7)).as("hn")).distinct()
      .select(concat(lit("h"), col("hn").cast("string"),
        lit(".example.org")).as("host"), col("hn"))
    val txt = concat(
      lit("User-agent: gptbot\nDisallow: /\nCrawl-delay: 99\n\n"),
      lit("User-agent: *\nAllow: /\n"),
      when(pmod(col("hn"), lit(3)) === 0, concat(lit("Crawl-delay: "),
        (col("hn") + 1).cast("string"), lit("\n"))).otherwise(lit("")),
      when(pmod(col("hn"), lit(3)) === 1, lit("Crawl-delay: 0.5\n"))
        .otherwise(lit("")),
      when(col("hn") === 6, lit("\nUser-agent: *\nCrawl-delay: 2\n"))
        .otherwise(lit("")))
    graft.operators.Domains.robotsCrawlDelay(
        hosts.select(col("host"), txt.as("robots_txt")))
      .withColumn("fetches_per_hour", expr("3600000 div crawl_delay_ms"))
  }

  /** The crawl loop's LAST stage under the oracle gate — the fetch
    * SCHEDULE: q204's robots-allowed sitemap leaves, sequenced per
    * host (deterministic url order) and priced by q205's politeness
    * budget into a per-URL dispatch offset (`slot × crawl_delay_ms`;
    * hosts that mandate no delay dispatch back-to-back at offset 0).
    * This is the frame a fetcher ACTUALLY consumes: what exists
    * (sitemap) ∩ what's allowed (robots) × when it may be fetched
    * (crawl-delay). The per-host window is the scheduler's natural
    * shape — its partition is one host's frontier, the axis a real
    * deployment shards further by time window when a single host's
    * frontier outgrows a partition (the q07 partitioned-rank
    * posture, disclosed). The oracle replays frontier, decision,
    * budget, and row-number sequencing independently from doc_id. */
  def q206FetchSchedule(spark: SparkSession, dir: String): DataFrame = {
    val frontier = q204CrawlFrontier(spark, dir).filter(col("allowed"))
    val delays = q205CrawlDelay(spark, dir)
      .select(col("host").as("_host"), col("crawl_delay_ms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_host").orderBy("url")
    frontier
      .withColumn("_host", graft.operators.Domains.uriHost(col("url")))
      .join(delays, Seq("_host"), "left")
      .withColumn("slot", (row_number().over(w) - 1).cast("long"))
      .withColumn("offset_ms",
        col("slot") * coalesce(col("crawl_delay_ms"), lit(0L)))
      .select(col("_host").as("host"), col("url"), col("slot"),
        col("offset_ms"))
  }

  /** The crawl loop's FRESHNESS edge under the oracle gate — q206
    * sequences what MAY be fetched; this schedules only what's DUE
    * ([[graft.operators.Domains.recrawlDecision]], r20): q204's
    * allowed frontier joins a stored last-fetch state (every
    * even-doc_id URL was fetched 2026-02-15, the SCD-style state
    * table a crawler keeps), and each URL resolves to one of the
    * four freshness arms — `new` (odd ids: never fetched),
    * `no_lastmod` (fetched, but the sitemap's doc_id≡0 (mod 3)
    * entries carry no lastmod → conservative refetch), `modified`
    * (lastmod 2026-03-01 > the fetch date), `fresh` (lastmod
    * 2026-02-01 ≤ it → skip, null slot). Due rows re-sequence per
    * host and price by q205's politeness budget — the slots are a
    * SUBSET re-numbering of q206's, which is the operator's point:
    * the incremental crawl dispatches a fraction of the full one.
    * The oracle re-derives every arm from doc_id arithmetic. */
  def q208RecrawlSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frontier = q204CrawlFrontier(spark, dir).filter(col("allowed"))
      .select("url", "lastmod")
    val fetched = frontier
      .withColumn("_id", regexp_extract(col("url"), "/p/([0-9]+)", 1)
        .cast("long"))
      .filter(pmod(col("_id"), lit(2)) === 0)
      .select(col("url"), lit("2026-02-15").as("last_fetch"))
    val dec = graft.operators.Domains.recrawlDecision(frontier, fetched)
      .withColumn("host", graft.operators.Domains.uriHost(col("url")))
    val delays = q205CrawlDelay(spark, dir)
      .select(col("host"), col("crawl_delay_ms"))
    // r22: ONE pass over the decision frame — the old
    // filter(should_fetch) / filter(!should_fetch) split + unionByName
    // referenced `dec` twice, re-inlining the whole frontier→decision
    // subtree per branch (plan 1904 → ~990 lines, 58 → ~30 Exchanges;
    // the q109-class duplication, guide §2.4). A due row's slot is its
    // row_number among due rows in (host, url asc) order == the
    // running ROWS-frame count of due rows at its position (urls are
    // unique within a host, so the orders agree row-for-row); skipped
    // rows take null slot/offset in the same projection. delays is
    // one row per host, so the left join multiplies nothing.
    val w = Window.partitionBy("host").orderBy("url")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .join(delays, Seq("host"), "left")
      .withColumn("_due", sum(when(col("should_fetch"), 1L)
        .otherwise(0L)).over(w))
      .withColumn("slot", when(col("should_fetch"), col("_due") - 1L))
      .withColumn("offset_ms", when(col("should_fetch"),
        col("slot") * coalesce(col("crawl_delay_ms"), lit(0L))))
      .select("host", "url", "reason", "should_fetch", "slot", "offset_ms")
  }

  /** Sitemap DISCOVERY from robots.txt under the oracle gate
    * ([[graft.operators.Domains.robotsSitemaps]]): each host's REP
    * file carries one `Sitemap:` directive BEFORE any group (global
    * directives are valid there — a group-scoped reading would drop
    * it), even hosts a second one inside the `*` group (still
    * global), host 5 an EMPTY `Sitemap:` value that must emit
    * nothing, and host 3 a trailing comment on the directive line
    * that must strip. Expected rows derived independently from the
    * host arithmetic. */
  def q207SitemapDiscovery(spark: SparkSession, dir: String): DataFrame = {
    val hosts = Tables.documents(spark, dir)
      .select(pmod(col("doc_id"), lit(7)).as("hn")).distinct()
      .select(concat(lit("h"), col("hn").cast("string"),
        lit(".example.org")).as("host"), col("hn"))
    val h = col("hn").cast("string")
    val txt = concat(
      lit("# discovery\nSitemap: https://h"), h,
      lit(".example.org/sitemap.xml"),
      when(col("hn") === 3, lit("   # primary")).otherwise(lit("")),
      lit("\nUser-agent: *\nDisallow: /private\n"),
      when(pmod(col("hn"), lit(2)) === 0, concat(
        lit("Sitemap: https://h"), h, lit(".example.org/sm/part-"), h,
        lit(".xml\n"))).otherwise(lit("")),
      when(col("hn") === 5, lit("Sitemap:\n")).otherwise(lit("")))
    graft.operators.Domains.robotsSitemaps(
      hosts.select(col("host"), txt.as("robots_txt")))
  }

  def q187C4Clean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val multi = docs.withColumn("mtext", concat(col("text"), lit("."),
      expr("repeat('\nshort no.', cast(pmod(doc_id, 3) as int))"),
      expr("repeat('\nthis line mentions javascript somewhere fine.', " +
        "cast(pmod(doc_id, 2) as int))"),
      expr("repeat('\nanother good sentence right here!', " +
        "cast(pmod(doc_id, 4) as int))"),
      expr("repeat('\ntrailing line without terminal punct', " +
        "cast(pmod(doc_id, 5) as int))"),
      expr("CASE WHEN pmod(doc_id, 7) = 0 " +
        "THEN '\ncode { here } is flagged.' ELSE '' END"),
      expr("CASE WHEN pmod(doc_id, 11) = 0 " +
        "THEN '\nLorem Ipsum dolor sit amet.' ELSE '' END"),
      expr("CASE WHEN pmod(doc_id, 13) = 0 " +
        "THEN '\nthis page has badword inside it.' ELSE '' END"),
      // r16: the hardened badWords arms under the oracle gate — a
      // multi-word PHRASE entry (substring semantics) and a
      // quote-bearing token entry (quotes are data, not SQL syntax)
      expr("CASE WHEN pmod(doc_id, 17) = 0 " +
        "THEN '\nthe page contains a bad phrase somewhere.' ELSE '' END"),
      expr("CASE WHEN pmod(doc_id, 19) = 0 " +
        "THEN '\nquote arm: don\\'t appears here.' ELSE '' END")))
    graft.operators.TextAnalysis
      .c4Flags(multi, text = "mtext",
        badWords = Seq("badword", "bad phrase", "don't"))
      .select("doc_id", "clean_md5", "n_lines", "n_kept_lines",
        "n_sentences", "has_brace", "has_lorem", "has_bad_word", "pass")
  }

  /** The q169/q170 merge table — memoized so train runs once per
    * Verify/Bench pass whichever of the two consumers goes first. */
  val BpeNumMerges = 16
  private def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    Memo.of(spark, s"bpe_merges:$dir:$BpeNumMerges:1") {
      graft.operators.Bpe.train(
        Tables.documents(spark, dir), numMerges = BpeNumMerges)
    }

  /** BPE tokenizer TRAINING under the oracle gate — the iterative
    * loop q145 counts one step of: 16 rounds of (argmax adjacent
    * pair by weighted count, pair-asc tiebreak → merge it everywhere
    * → recount), on the word-frequency table (Sennrich et al., ACL
    * 2016 — corpus size enters only through the one vocabulary scan;
    * see [[graft.operators.Bpe]] for the separator-wrapped `replace`
    * encoding that makes each merge a plain string function). The
    * DuckDB oracle replays ALL 16 rounds as unrolled materialized
    * CTEs (the q101 convention) — every count, tiebreak, and
    * left-to-right merge collision is cross-engine-certified, not
    * pinned. */
  def q169BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(spark, dir)

  /** BPE ENCODE over the trained merges — registered over the
    * DEPLOY-SHAPE dictionary path ([[graft.operators.Bpe.encodeStats]]):
    * the 16-merge fold runs once per DISTINCT token, documents consume
    * the result by broadcast join, and each doc reports whitespace vs
    * BPE token counts plus the id-stream checksum under the
    * deterministic symbol-ascending id numbering — so q38/q71-style
    * token budgeting can run on real tokenizer output. (The
    * per-occurrence [[graft.operators.Bpe.encode]] fold — same
    * answers, spec-pinned equivalent — stays as the OOV fallback; at
    * sf0.1 it cost 34.6 s vs 0.5 s here, 20% of the whole r11
    * bench.) The oracle replays the train chain, dictionary-joins the
    * final vocab (minCount = 1 ⇒ no OOV on the fixture), and
    * re-derives the id table. */
  def q170BpeEncode(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bpe.encodeStats(
      Tables.documents(spark, dir).select("doc_id", "text"),
      bpeMerges(spark, dir))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q187_c4_clean" -> (q187C4Clean _),
    "q189_page_directives" -> (q189PageDirectives _),
    "q199_anchor_stats" -> (q199AnchorStats _),
    "q200_robots_filter" -> (q200RobotsFilter _),
    "q203_sitemap_frontier" -> (q203SitemapFrontier _),
    "q208_recrawl_schedule" -> (q208RecrawlSchedule _),
    "q204_crawl_frontier" -> (q204CrawlFrontier _),
    "q205_crawl_delay" -> (q205CrawlDelay _),
    "q206_fetch_schedule" -> (q206FetchSchedule _),
    "q207_sitemap_discovery" -> (q207SitemapDiscovery _),
    "q190_canonical_dedup" -> (q190CanonicalDedup _),
    "q186_url_dedup" -> (q186UrlDedup _),
    "q185_ranged_ingest" -> (q185RangedIngest _),
    "q184_gopher_lines" -> (q184GopherLines _),
    "q183_cross_lm_score" -> (q183CrossLmScore _),
    "q182_gopher_filter" -> (q182GopherFilter _),
    "q181_lpa_communities" -> (q181LpaCommunities _),
    "q180_domain_stats" -> (q180DomainStats _),
    "q179_crawl_pipeline" -> (q179CrawlPipeline _),
    "q178_html_extract" -> (q178HtmlExtract _),
    "q192_html5_entities" -> (q192Html5Entities _),
    "q177_warc_assets" -> (q177WarcAssets _),
    "q176_wet_member_index" -> (q176WetMemberIndex _),
    "q173_wet_quarantine_audit" -> (q173WetQuarantineAudit _),
    "q170_bpe_encode" -> (q170BpeEncode _),
    "q169_bpe_train" -> (q169BpeTrain _),
    "q168_wet_ingest" -> (q168WetIngest _),
    "q167_compression_ratio" -> (q167CompressionRatio _),
    "q166_incremental_rollup" -> (q166IncrementalRollup _),
    "q165_proximity_search" -> (q165ProximitySearch _),
    "q163_phrase_search" -> (q163PhraseSearch _),
    "q161_mg_top_terms"  -> (q161MgTopTerms _),
    "q158_merge_apply"   -> (q158MergeApply _),
    "q151_lm_score"      -> (q151LmScore _),
    "q154_oov_rate"      -> (q154OovRate _),
    "q157_dedup_yield"   -> (q157DedupYield _),
    "q149_snapshot_diff" -> (q149SnapshotDiff _),
    "q148_priority_sample" -> (q148PrioritySample _),
    "q145_bpe_pairs"     -> (q145BpePairs _),
    "q142_stratified_sample" -> (q142StratifiedSample _),
    "q111_edit_distance" -> (q111EditDistancePairs _),
    "q112_token_diversity" -> (q112TokenDiversity _),
    "q117_source_drift" -> (q117SourceDrift _),
    "q82_passage_prune" -> (q82PassagePrune _),
    "q84_temperature_mix" -> (q84TemperatureMix _),
    "q101_pagerank"     -> (q101PageRank _),
    "q118_triangles"    -> (q118Triangles _),
    "q123_inverted_index" -> (q123InvertedIndex _),
    "q124_pmi_collocations" -> (q124PmiCollocations _),
    "q128_bigram_lm"    -> (q128BigramLm _),
    "q133_source_cap"   -> (q133SourceCap _),
    "q126_split_assign" -> (q126SplitAssign _),
    "q127_containment"  -> (q127Containment _),
    "q30_text_tokens"   -> (q30TextTokens _),
    "q31_text_quality"  -> (q31TextQuality _),
    "q32_lang_id"       -> (q32LangId _),
    "q33_dedup_exact"   -> (q33DedupExact _),
    "q34_ngram_jaccard" -> (q34NgramJaccard _),
    "q197_prefix_jaccard" -> (q197PrefixJaccard _),
    "q35_minhash_pairs" -> (q35MinhashPairs _),
    "q36_simhash_pairs" -> (q36SimhashPairs _),
    "q37_fingerprint"   -> (q37Fingerprint _),
    "q38_token_shard"   -> (q38TokenShard _),
    "q39_dedup_clusters" -> (q39DedupClusters _),
    "q44_term_df"       -> (q44TermDf _),
    "q45_redact"        -> (q45Redact _),
    "q46_mix_quota"     -> (q46MixQuota _),
    "q47_repetition"    -> (q47Repetition _),
    "q48_decontaminate" -> (q48Decontaminate _),
    "q193_bloom_decontaminate" -> (q193BloomDecontaminate _),
    "q49_dedup_corpus"  -> (q49DedupCorpus _),
    "q56_chunks"        -> (q56Chunks _),
    "q60_minhash_recall" -> (q60MinhashRecall _),
    "q61_simhash_agreement" -> (q61SimhashAgreement _),
    "q62_delta_dedup"   -> (q62DeltaDedup _),
    "q105_delta_dedup_capped" -> (q105DeltaDedupIndexedCapped _),
    "q135_delta_containment" -> (q135DeltaContainment _),
    "q138_split_leakage" -> (q138SplitLeakage _),
    "q139_intra_repetition" -> (q139IntraRepetition _),
    "q140_survivor_pick" -> (q140SurvivorPick _),
    "q63_clean_corpus"  -> (q63CleanCorpus _),
    "q66_top_terms"     -> (q66TopTerms _),
    "q67_dup_chunks"    -> (q67DupChunks _),
    "q106_dup_spans"    -> (q106DupSpans _),
    "q68_corpus_stats"  -> (q68CorpusStats _),
    "q71_pack_sequences" -> (q71PackSequences _),
    "q72_bm25_topk"     -> (q72Bm25 _),
    "q77_tfidf_pairs"   -> (q77TfidfPairs _),
    "q79_train_order"   -> (q79TrainOrder _)
  )

  private val BPEISH = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
  private val STOP_EN = "\\b(the|a|of|to|in|and|is)\\b"

  /** One BPE training round of the q169/q170 oracle: pair counts over
    * v$i's symbol strings, argmax b$i (count desc, pair asc), merged
    * vocab v${i+1} — MATERIALIZED because each stage is referenced
    * twice and naive CTE inlining would double work per stage. */
  private def bpeStageSql(i: Int): String =
    s"""x$i AS (SELECT unnest(range(len(a) - 1)) AS j, a, cnt FROM (
       |    SELECT string_split(substr(s, 2, length(s) - 2),
       |                        chr(31) || chr(31)) AS a, cnt
       |    FROM v$i)),
       |b$i AS MATERIALIZED (SELECT l, r, cnt FROM (
       |    SELECT a[j+1] AS l, a[j+2] AS r, sum(cnt) AS cnt
       |    FROM x$i GROUP BY 1, 2)
       |  ORDER BY cnt DESC, l, r LIMIT 1),
       |v${i + 1} AS MATERIALIZED (SELECT tok, v$i.cnt AS cnt,
       |    replace(s, chr(31)||l||chr(31)||chr(31)||r||chr(31),
       |            chr(31)||l||r||chr(31)) AS s
       |  FROM v$i, b$i)""".stripMargin

  /** The full 16-round unrolled BPE train chain: word counts → v0
    * (chars wrapped in U+001F, the [[graft.operators.Bpe]] encoding)
    * → 16 (pairs, argmax, merge) stages. Shared prefix of the q169
    * and q170 oracles. */
  private def bpeChainSql: String =
    s"""WITH wc AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE length(tok) >= 1 AND strpos(tok, chr(31)) = 0
       |  GROUP BY tok),
       |v0 AS MATERIALIZED (SELECT tok, cnt,
       |    regexp_replace(tok, '(.)', chr(31) || '\\1' || chr(31), 'g') AS s
       |  FROM wc),
       |${(0 until BpeNumMerges).map(bpeStageSql).mkString(",\n")}""".stripMargin

  /** One synchronous LPA round of the q181 oracle: each node adopts
    * its neighbors' most frequent label, count desc / label asc (the
    * window evaluates AFTER the group-by, so `ORDER BY count(*)` is
    * the per-(src,lbl) neighbor count — exactly Spark's
    * `min_by((−c, lbl))`). */
  private def lpaIterSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (SELECT src AS v, lbl FROM (
       |  SELECT e.src, p.lbl,
       |         row_number() OVER (PARTITION BY e.src
       |                            ORDER BY count(*) DESC, p.lbl) AS rn
       |  FROM e JOIN $prev p ON e.dst = p.v
       |  GROUP BY e.src, p.lbl) WHERE rn = 1)""".stripMargin

  /** One PageRank iteration of the q101 oracle: rank_{k+1} from
    * rank_k, all integer floor division (see [[q101PageRank]]). */
  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT r.term, r.deg,
       |  CAST((15 * (1000000000000 // nn.n)) // 100
       |    + (85 * coalesce(c.s, 0)) // 100 AS BIGINT) AS rank
       |FROM $prev r CROSS JOIN nn
       |LEFT JOIN (SELECT e.dst, CAST(sum(p.rank // p.deg) AS BIGINT) AS s
       |           FROM e JOIN $prev p ON e.src = p.term
       |           GROUP BY e.dst) c ON r.term = c.dst)""".stripMargin

  /** DuckDB replay of the PSL suffix-length when-chain in
    * [[graft.operators.Domains.PslRules.suffixLen]] — GENERATED from
    * the same embedded rule set the engine compiles, so the q180
    * oracle and the production matcher cannot drift. Arm order is the
    * matcher's exactly: exception rules (longest first, value = rule
    * labels − 1), then effective suffix lengths descending (normal
    * `isin` probe OR label-guarded wildcard probe), default rule 1
    * last. `labs`/`n` name the label-array / label-count columns in
    * the enclosing CTE. */
  private def pslSuffixLenSql(labs: String, n: String): String = {
    val r = graft.operators.Domains.PslRules.embedded
    def inList(xs: Seq[String]) = xs.sorted.map(x => s"'$x'").mkString(", ")
    // last i labels joined by '.', guarded on the host having >= i
    def sufKIn(i: Int, xs: Seq[String]) =
      s"($n >= $i AND array_to_string(list_slice($labs, $n - ${i - 1}, $n)," +
        s" '.') IN (${inList(xs)}))"
    val excArms = r.exception.keys.toSeq.sorted.reverse.map { e =>
      s"WHEN ${sufKIn(e, r.exception(e))} THEN ${e - 1}"
    }
    val effLens =
      (r.normal.keys ++ r.wildcard.keys.map(_ + 1)).toSeq.distinct.sorted.reverse
    val lenArms = effLens.map { s =>
      val conds = r.normal.get(s).map(sufKIn(s, _)).toSeq ++
        // the wildcard needs a label IN the starred position: n >= s
        r.wildcard.get(s - 1).map(w => s"($n >= $s AND ${sufKIn(s - 1, w)})")
      s"WHEN ${conds.mkString(" OR ")} THEN $s"
    }
    (excArms ++ lenArms).mkString("CASE ", " ", " ELSE 1 END")
  }

  val oracles: Map[String, String] = Map(
    // the multi-line construction AND every C4 rule replayed verbatim;
    // clean_md5 certifies the kept CONTENT cross-engine, not just the
    // counts (md5 hex is identical in both engines, the q37 stance)
    // expected values derived INDEPENDENTLY of the extraction regexes
    // (the q186 convention): the html arms rotate attribute order and
    // case, and the gate demands exactly these outputs from each
    "q190_canonical_dedup" ->
      """WITH k AS (SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'https://site' || (doc_id % 5) || '.org/art/' || (doc_id // 20)
        |    WHEN 1 THEN 'https://site' || (doc_id % 5) || '.org/b/art/' || (doc_id // 20)
        |    ELSE 'http://m' || (doc_id % 2) || '.site' || (doc_id % 5) || '.org/p/' || doc_id
        |  END AS u FROM documents)
        |SELECT u AS canonical_url, min(doc_id) AS doc_id,
        |  count(*) AS n_copies
        |FROM k GROUP BY u""".stripMargin,

    "q189_page_directives" ->
      """SELECT doc_id,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'https://example.org/c/' || doc_id
        |    WHEN 1 THEN 'https://Example.org/Alt/' || doc_id
        |    WHEN 2 THEN '/article/' || doc_id
        |    WHEN 3 THEN '../other/' || doc_id
        |    WHEN 4 THEN 'y/' || doc_id
        |    ELSE NULL END AS rel_canonical,
        |  CASE doc_id % 7
        |    WHEN 0 THEN 'https://example.org/c/' || doc_id
        |    WHEN 1 THEN 'https://Example.org/Alt/' || doc_id
        |    WHEN 2 THEN 'http://s' || (doc_id % 10) || '.example.com/article/' || doc_id
        |    WHEN 3 THEN 'http://s' || (doc_id % 10) || '.example.com/dir/other/' || doc_id
        |    WHEN 4 THEN 'https://cdn.example.net/b/y/' || doc_id
        |    ELSE NULL END AS canonical_resolved,
        |  CASE WHEN doc_id % 7 = 4 THEN 'https://cdn.example.net/b/x.html'
        |    ELSE NULL END AS base_href,
        |  CASE doc_id % 4 WHEN 0 THEN 'noindex, follow'
        |    WHEN 1 THEN 'NOFOLLOW,archive'
        |    WHEN 2 THEN 'noindex' ELSE NULL END AS meta_robots,
        |  doc_id % 4 IN (0, 2) AS noindex,
        |  doc_id % 4 = 1 AS nofollow
        |FROM documents""".stripMargin,

    "q187_c4_clean" ->
      raw"""WITH md AS (SELECT doc_id,
        |  text || '.'
        |  || repeat(chr(10) || 'short no.', doc_id % 3)
        |  || repeat(chr(10) ||
        |     'this line mentions javascript somewhere fine.', doc_id % 2)
        |  || repeat(chr(10) ||
        |     'another good sentence right here!', doc_id % 4)
        |  || repeat(chr(10) ||
        |     'trailing line without terminal punct', doc_id % 5)
        |  || CASE WHEN doc_id % 7 = 0
        |     THEN chr(10) || 'code { here } is flagged.' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0
        |     THEN chr(10) || 'Lorem Ipsum dolor sit amet.' ELSE '' END
        |  || CASE WHEN doc_id % 13 = 0
        |     THEN chr(10) || 'this page has badword inside it.' ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0
        |     THEN chr(10) || 'the page contains a bad phrase somewhere.' ELSE '' END
        |  || CASE WHEN doc_id % 19 = 0
        |     THEN chr(10) || 'quote arm: don''t appears here.' ELSE '' END
        |    AS mtext
        |  FROM documents),
        |k AS (SELECT doc_id, mtext,
        |  string_split_regex(mtext, '\r?\n') AS ls,
        |  list_filter(string_split_regex(mtext, '\r?\n'), _l ->
        |    regexp_matches(rtrim(_l), '[.!?"”]$$')
        |    AND len(list_filter(string_split(_l, ' '), _w -> _w <> '')) >= 3
        |    AND NOT contains(lower(_l), 'javascript')) AS kept
        |  FROM md),
        |c AS (SELECT doc_id, mtext, ls, kept,
        |  array_to_string(kept, chr(10)) AS clean,
        |  (len(list_intersect(list_filter(
        |    string_split_regex(lower(mtext), '[ \n\r]'), _w -> _w <> ''),
        |    ['badword', 'don''t'])) > 0
        |   OR contains(lower(mtext), 'bad phrase')) AS bad
        |  FROM k)
        |SELECT doc_id, md5(clean) AS clean_md5,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST(length(clean) - length(translate(clean, '.!?', ''))
        |    AS BIGINT) AS n_sentences,
        |  contains(mtext, '{') AS has_brace,
        |  contains(lower(mtext), 'lorem ipsum') AS has_lorem,
        |  bad AS has_bad_word,
        |  (length(clean) - length(translate(clean, '.!?', ''))) >= 5
        |    AND NOT contains(mtext, '{')
        |    AND NOT contains(lower(mtext), 'lorem ipsum')
        |    AND NOT bad AS pass
        |FROM c""".stripMargin,

    // the EXPECTED decisions, derived independently of the parser,
    // wildcard compilation, and precedence chain: host-3 pages ending
    // 99/9 hit the anchored-wildcard pair (longest raw pattern wins),
    // host-4 pages ending 0 hit the wildcard allow over the /p/
    // disallow, host-6 ?ref= pages hit the path+query wildcard
    // disallow, /p/1 pages hit the specificity override, h=2 pages
    // starting '2' hit the least-restrictive tie, remaining even-host
    // pages hit the /p/ disallow, odd hosts default-allow (host 5's
    // literal-underscore wildcard rule matches nothing by design)
    "q200_robots_filter" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS h,
        |             doc_id % 7 AS hn, CAST(doc_id AS VARCHAR) AS s,
        |             doc_id % 10 = 6 AS qf
        |           FROM documents)
        |SELECT doc_id,
        |  'http://h' || h || '.example.org/p/' || s ||
        |    CASE WHEN qf THEN '?ref=a' ELSE '' END AS url,
        |  CASE WHEN hn = 3 AND s LIKE '%99' THEN TRUE
        |       WHEN hn = 3 AND s LIKE '%9' THEN FALSE
        |       WHEN hn = 4 AND s LIKE '%0' THEN TRUE
        |       WHEN hn = 6 AND qf THEN FALSE
        |       WHEN s LIKE '1%' THEN TRUE
        |       WHEN hn = 2 AND s LIKE '2%' THEN TRUE
        |       WHEN hn % 2 = 0 THEN FALSE
        |       ELSE TRUE END AS allowed,
        |  CASE WHEN hn = 3 AND s LIKE '%99' THEN '/p/*99$'
        |       WHEN hn = 3 AND s LIKE '%9' THEN '/p/*9$'
        |       WHEN hn = 4 AND s LIKE '%0' THEN '/p/*0$'
        |       WHEN hn = 6 AND qf THEN '/*?ref='
        |       WHEN s LIKE '1%' THEN '/p/1'
        |       WHEN hn = 2 AND s LIKE '2%' THEN '/p/2'
        |       WHEN hn % 2 = 0 THEN '/p/'
        |       ELSE '/' END AS matched_prefix
        |FROM d""".stripMargin,

    // the EXPECTED frontier rows, derived independently of the XML
    // assembly + parse chain: host-6 docs come back as child-sitemap
    // fetches, CDATA locs keep their content VERBATIM (the literal
    // five-char '&amp;' included — CDATA never decodes), escaped
    // locs decode &amp;, NCR locs decode both &#38; and &#x26;,
    // every doc_id%3==0 lastmod is NULL
    "q203_sitemap_frontier" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS hn,
        |             CAST(doc_id % 7 AS VARCHAR) AS h,
        |             CAST(doc_id AS VARCHAR) AS s
        |           FROM documents)
        |SELECT 'h' || h || '.example.org' AS host,
        |  CASE WHEN hn = 6 THEN 'sitemap' ELSE 'url' END AS kind,
        |  CASE WHEN hn = 6
        |         THEN 'https://h6.example.org/sm/' || s || '.xml'
        |       WHEN doc_id % 5 = 2
        |         THEN 'https://h' || h || '.example.org/p/' || s || '?raw=a&amp;b'
        |       WHEN doc_id % 8 = 1
        |         THEN 'https://h' || h || '.example.org/p/' || s || '?a=1&b=2'
        |       WHEN doc_id % 8 = 5
        |         THEN 'https://h' || h || '.example.org/p/' || s || '?n=1&m=2&o=3'
        |       ELSE 'https://h' || h || '.example.org/p/' || s
        |       END AS loc,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL
        |       ELSE '2026-0' || CAST(doc_id % 3 + 1 AS VARCHAR) || '-01'
        |       END AS lastmod
        |FROM d""".stripMargin,

    // the EXPECTED discovered sitemap URLs, derived independently of
    // the parse chain: one pre-group directive per host (global —
    // must survive having no enclosing group), a second in-group one
    // on even hosts, host 5's empty value emits nothing, host 3's
    // trailing comment strips
    "q207_sitemap_discovery" ->
      """WITH h AS (SELECT DISTINCT doc_id % 7 AS hn FROM documents),
        |x AS (SELECT hn, CAST(hn AS VARCHAR) AS s FROM h)
        |SELECT 'h' || s || '.example.org' AS host,
        |  'https://h' || s || '.example.org/sitemap.xml' AS sitemap_url
        |FROM x
        |UNION ALL
        |SELECT 'h' || s || '.example.org',
        |  'https://h' || s || '.example.org/sm/part-' || s || '.xml'
        |FROM x WHERE hn % 2 = 0""".stripMargin,

    // the EXPECTED dispatch timeline, derived independently of the
    // whole frontier → decision → budget → sequencing chain: q204's
    // allowed rows, row-numbered per host in url order, priced by
    // q205's budgets (hosts 2 and 5 mandate no delay → offset 0)
    "q206_fetch_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS hn,
        |             CAST(doc_id % 7 AS VARCHAR) AS h,
        |             CAST(doc_id AS VARCHAR) AS s
        |           FROM documents WHERE doc_id % 7 <> 6),
        |u AS (SELECT doc_id, hn, s,
        |        CASE WHEN doc_id % 5 = 2
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?raw=a&amp;b'
        |             WHEN doc_id % 8 = 1
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?a=1&b=2'
        |             WHEN doc_id % 8 = 5
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?n=1&m=2&o=3'
        |             ELSE 'https://h' || h || '.example.org/p/' || s
        |             END AS url,
        |        CASE WHEN hn = 3 AND s LIKE '%99' THEN TRUE
        |             WHEN hn = 3 AND s LIKE '%9' AND doc_id % 4 <> 1 THEN FALSE
        |             WHEN hn = 4 AND s LIKE '%0' THEN TRUE
        |             WHEN s LIKE '1%' THEN TRUE
        |             WHEN hn = 2 AND s LIKE '2%' THEN TRUE
        |             WHEN hn % 2 = 0 THEN FALSE
        |             ELSE TRUE END AS allowed
        |      FROM d),
        |del AS (SELECT hn,
        |          CASE WHEN hn = 6 THEN 2000
        |               WHEN hn % 3 = 0 THEN (hn + 1) * 1000
        |               WHEN hn % 3 = 1 THEN 500 END AS ms
        |        FROM (SELECT DISTINCT doc_id % 7 AS hn FROM documents)
        |        WHERE hn % 3 <> 2),
        |sched AS (SELECT hn, url,
        |            row_number() OVER (PARTITION BY hn ORDER BY url) - 1
        |              AS slot
        |          FROM u WHERE allowed)
        |SELECT 'h' || CAST(sched.hn AS VARCHAR) || '.example.org' AS host,
        |  url, CAST(slot AS BIGINT) AS slot,
        |  CAST(slot * coalesce(ms, 0) AS BIGINT) AS offset_ms
        |FROM sched LEFT JOIN del ON sched.hn = del.hn""".stripMargin,

    // the EXPECTED incremental schedule, derived independently of the
    // frontier → decision → freshness → re-sequencing chain: odd ids
    // are new, fetched-but-lastmod-less (mod-3-zero) ids refetch
    // conservatively, 2026-03-01 lastmods beat the 2026-02-15 fetch
    // date, 2026-02-01 lastmods are fresh (null slot); due rows
    // re-number per host and price by q205's budgets
    "q208_recrawl_schedule" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS hn,
        |             CAST(doc_id % 7 AS VARCHAR) AS h,
        |             CAST(doc_id AS VARCHAR) AS s
        |           FROM documents WHERE doc_id % 7 <> 6),
        |u AS (SELECT doc_id, hn, s,
        |        CASE WHEN doc_id % 5 = 2
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?raw=a&amp;b'
        |             WHEN doc_id % 8 = 1
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?a=1&b=2'
        |             WHEN doc_id % 8 = 5
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?n=1&m=2&o=3'
        |             ELSE 'https://h' || h || '.example.org/p/' || s
        |             END AS url,
        |        CASE WHEN hn = 3 AND s LIKE '%99' THEN TRUE
        |             WHEN hn = 3 AND s LIKE '%9' AND doc_id % 4 <> 1 THEN FALSE
        |             WHEN hn = 4 AND s LIKE '%0' THEN TRUE
        |             WHEN s LIKE '1%' THEN TRUE
        |             WHEN hn = 2 AND s LIKE '2%' THEN TRUE
        |             WHEN hn % 2 = 0 THEN FALSE
        |             ELSE TRUE END AS allowed
        |      FROM d),
        |r AS (SELECT doc_id, hn, url,
        |        CASE WHEN doc_id % 2 = 1 THEN 'new'
        |             WHEN doc_id % 3 = 0 THEN 'no_lastmod'
        |             WHEN doc_id % 3 = 2 THEN 'modified'
        |             ELSE 'fresh' END AS reason
        |      FROM u WHERE allowed),
        |del AS (SELECT hn,
        |          CASE WHEN hn = 6 THEN 2000
        |               WHEN hn % 3 = 0 THEN (hn + 1) * 1000
        |               WHEN hn % 3 = 1 THEN 500 END AS ms
        |        FROM (SELECT DISTINCT doc_id % 7 AS hn FROM documents)
        |        WHERE hn % 3 <> 2),
        |sched AS (SELECT hn, url,
        |            row_number() OVER (PARTITION BY hn ORDER BY url) - 1
        |              AS slot
        |          FROM r WHERE reason <> 'fresh')
        |SELECT 'h' || CAST(r.hn AS VARCHAR) || '.example.org' AS host,
        |  r.url, r.reason, r.reason <> 'fresh' AS should_fetch,
        |  CAST(sched.slot AS BIGINT) AS slot,
        |  CAST(sched.slot * coalesce(del.ms, 0) AS BIGINT) AS offset_ms
        |FROM r
        |LEFT JOIN sched ON r.hn = sched.hn AND r.url = sched.url
        |LEFT JOIN del ON r.hn = del.hn""".stripMargin,

    // the EXPECTED politeness budgets, derived independently of the
    // parse + group-selection + min + decimal→ms chain: mod-3-zero
    // hosts get (hn+1) whole seconds (host 6's stacked second group
    // wins the min at 2 s), mod-3-one hosts the fractional 500 ms,
    // mod-3-two hosts NO row, the gptbot decoy reaches nobody
    "q205_crawl_delay" ->
      """WITH h AS (SELECT DISTINCT doc_id % 7 AS hn FROM documents),
        |d AS (SELECT hn,
        |        CASE WHEN hn = 6 THEN 2000
        |             WHEN hn % 3 = 0 THEN (hn + 1) * 1000
        |             WHEN hn % 3 = 1 THEN 500 END AS ms
        |      FROM h WHERE hn % 3 <> 2)
        |SELECT 'h' || CAST(hn AS VARCHAR) || '.example.org' AS host,
        |  CAST(ms AS BIGINT) AS crawl_delay_ms,
        |  CAST(3600000 // ms AS BIGINT) AS fetches_per_hour
        |FROM d""".stripMargin,

    // the EXPECTED frontier decisions, derived independently of the
    // whole sitemap-parse → robots-decide composition: host-6 docs
    // are index children (no leaf), ends-99/ends-0 wildcard arms are
    // provably query-free (mod arithmetic) and keep their q200
    // outcomes, the ends-9 disallow fires only on query-free locs
    // (the $ anchor runs over path+query), everything else falls
    // through the q200 precedence chain
    "q204_crawl_frontier" ->
      """WITH d AS (SELECT doc_id, doc_id % 7 AS hn,
        |             CAST(doc_id % 7 AS VARCHAR) AS h,
        |             CAST(doc_id AS VARCHAR) AS s
        |           FROM documents WHERE doc_id % 7 <> 6),
        |u AS (SELECT doc_id, hn, s,
        |        CASE WHEN doc_id % 5 = 2
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?raw=a&amp;b'
        |             WHEN doc_id % 8 = 1
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?a=1&b=2'
        |             WHEN doc_id % 8 = 5
        |               THEN 'https://h' || h || '.example.org/p/' || s || '?n=1&m=2&o=3'
        |             ELSE 'https://h' || h || '.example.org/p/' || s
        |             END AS url,
        |        CASE WHEN doc_id % 3 = 0 THEN NULL
        |             ELSE '2026-0' || CAST(doc_id % 3 + 1 AS VARCHAR) || '-01'
        |             END AS lastmod
        |      FROM d)
        |SELECT url, lastmod,
        |  CASE WHEN hn = 3 AND s LIKE '%99' THEN TRUE
        |       WHEN hn = 3 AND s LIKE '%9' AND doc_id % 4 <> 1 THEN FALSE
        |       WHEN hn = 4 AND s LIKE '%0' THEN TRUE
        |       WHEN s LIKE '1%' THEN TRUE
        |       WHEN hn = 2 AND s LIKE '2%' THEN TRUE
        |       WHEN hn % 2 = 0 THEN FALSE
        |       ELSE TRUE END AS allowed,
        |  CASE WHEN hn = 3 AND s LIKE '%99' THEN '/p/*99$'
        |       WHEN hn = 3 AND s LIKE '%9' AND doc_id % 4 <> 1 THEN '/p/*9$'
        |       WHEN hn = 4 AND s LIKE '%0' THEN '/p/*0$'
        |       WHEN s LIKE '1%' THEN '/p/1'
        |       WHEN hn = 2 AND s LIKE '2%' THEN '/p/2'
        |       WHEN hn % 2 = 0 THEN '/p/'
        |       ELSE '/' END AS matched_prefix
        |FROM u""".stripMargin,

    // the EXPECTED link rows, derived independently of the extraction/
    // resolution/decode chain from doc_id arithmetic (the q186/q189
    // convention), then the same two-leg aggregate: per-target link
    // count, distinct linking hosts, (count desc, text asc) top anchor
    "q199_anchor_stats" ->
      """WITH d AS (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS h,
        |             CAST(doc_id // 10 AS VARCHAR) AS g
        |           FROM documents),
        |l AS (
        |  SELECT 'http://t.example.com/art/' || g AS target,
        |         'story & ' || g AS anchor,
        |         'h' || h || '.example.org' AS src_host
        |  FROM d
        |  UNION ALL
        |  SELECT 'http://h' || h || '.example.org/local/' || g,
        |         'local ' || g, 'h' || h || '.example.org'
        |  FROM d WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT 'http://t.example.com/alt/' || CAST(doc_id % 5 AS VARCHAR),
        |         'alt ' || CAST((doc_id // 4) % 2 AS VARCHAR),
        |         'h' || h || '.example.org'
        |  FROM d WHERE doc_id % 4 = 2),
        |c AS (SELECT target, anchor, count(*) AS cnt FROM l GROUP BY 1, 2),
        |t AS (SELECT target, CAST(sum(cnt) AS BIGINT) AS n_links
        |      FROM c GROUP BY target),
        |top AS (SELECT target, anchor AS top_anchor FROM (
        |          SELECT target, anchor, row_number() OVER (
        |            PARTITION BY target ORDER BY cnt DESC, anchor) AS rn
        |          FROM c) WHERE rn = 1),
        |hh AS (SELECT target, CAST(count(DISTINCT src_host) AS BIGINT) AS n_hosts
        |       FROM l GROUP BY target)
        |SELECT t.target, t.n_links, hh.n_hosts, top.top_anchor
        |FROM t JOIN hh USING (target) JOIN top USING (target)""".stripMargin,

    // the EXPECTED canonical forms, derived independently of the
    // canonicalization chain: arms 0-2 collapse onto the %2F/x=1 form,
    // arms 3-4 onto the bare root — group stats must match exactly
    "q186_url_dedup" ->
      """SELECT CASE WHEN doc_id % 5 <= 2
        |  THEN 'https://www.' || source || '.org/a%2Fb?x=1'
        |  ELSE 'http://' || source || '.org/' END AS canonical_url,
        |  CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    // the ranged ingest is certified by full recovery: every document
    // of every source must come back byte-complete (sum_text_bytes =
    // raw strlen sum) with zero quarantines through file-write → index
    // → per-member byte-range fetch → inflate → WARC parse → decode
    "q185_ranged_ingest" ->
      """SELECT source AS archive, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS sum_text_bytes,
        |  CAST(0 AS BIGINT) AS n_quarantined
        |FROM documents GROUP BY source""".stripMargin,

    // the whole HTML extraction chain is certified by IDENTITY: if any
    // regex step leaked markup or sheared content, main_text would not
    // hash-match the corpus (the q168 round-trip convention)
    "q178_html_extract" ->
      """SELECT doc_id, text || CASE WHEN doc_id % 4 = 2
        |  THEN ' — “data”…'
        |  WHEN doc_id % 4 = 3
        |  THEN ' café, Über naïve & more © 2020' ELSE '' END AS main_text
        |FROM documents""".stripMargin,

    // extended-entity decode: every expected character is DERIVED from
    // its codepoint (chr), never typed; the unknown name and the
    // no-semicolon extension name must survive literally
    "q192_html5_entities" ->
      """SELECT doc_id, text || CASE doc_id % 4
        |  WHEN 0 THEN ' ' || chr(10003) || ' list ' || chr(10007) ||
        |    ' done ' || chr(10232) || ' back'
        |  WHEN 1 THEN ' se' || chr(8467) || chr(8467) || ' the ' ||
        |    chr(8470) || '1 ' || chr(8471) || ' label'
        |  WHEN 2 THEN ' fjord ' || chr(8484) || ' ' || chr(8474) || ' ' ||
        |    chr(8477) || ' math'
        |  ELSE ' ' || chr(9734) || chr(9733) || ' rated caf' || chr(233) ||
        |    ' ' || chr(8463) || ' &zzznope; end &check no-semi'
        |END AS decoded
        |FROM documents""".stripMargin,

    // the complete crawl ingest (gzip codec -> WARC byte split -> HTML
    // extraction) under ONE identity: any sheared byte anywhere in the
    // chain fails the hash
    "q179_crawl_pipeline" ->
      "SELECT doc_id, text AS main_text FROM documents",

    // q151's replay with the model CTEs restricted to the reference
    // half and the scored side to the held-out half
    "q183_cross_lm_score" ->
      """WITH dr AS (SELECT doc_id, string_split(text, ' ') AS w
        |            FROM documents WHERE doc_id % 2 = 0),
        |br AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
        |        i -> w[i+1] || ' ' || w[i+2])) AS pair
        |      FROM dr WHERE len(w) >= 2),
        |bbr AS (SELECT split_part(pair, ' ', 1) AS w1,
        |          split_part(pair, ' ', 2) AS w2
        |        FROM br),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM bbr GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |m AS (SELECT c12.w1, c12.w2,
        |        CAST((c12.c12 * 1000000) // c1.c1 AS BIGINT) AS p_scaled
        |      FROM c12 JOIN c1 USING (w1) WHERE c12.c12 >= 3),
        |dh AS (SELECT doc_id, string_split(text, ' ') AS w
        |       FROM documents WHERE doc_id % 2 = 1),
        |bh AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
        |        i -> w[i+1] || ' ' || w[i+2])) AS pair
        |       FROM dh WHERE len(w) >= 2),
        |bbh AS (SELECT doc_id, split_part(pair, ' ', 1) AS w1,
        |          split_part(pair, ' ', 2) AS w2
        |        FROM bh)
        |SELECT bbh.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(sum(coalesce(m.p_scaled, 0)) AS BIGINT) // count(*)
        |    AS BIGINT) AS lm_score
        |FROM bbh LEFT JOIN m ON bbh.w1 = m.w1 AND bbh.w2 = m.w2
        |GROUP BY bbh.doc_id""".stripMargin,

    // every Gopher rule re-derived: integer cross-multiplied ratios,
    // permille mean word length, the 8-stopword intersection
    "q182_gopher_filter" ->
      """WITH w AS (SELECT doc_id, text,
        |  list_filter(string_split_regex(text, '[ \n\r]'), _w -> _w <> '') AS ws
        |  FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(ws, _w -> length(_w))), 0)
        |    AS BIGINT) AS chars,
        |  CAST((length(text) - length(replace(text, '#', '')))
        |    + (length(text) - length(replace(text, '...', ''))) // 3
        |    AS BIGINT) AS nsym,
        |  CAST(len(list_filter(ws, _w -> regexp_matches(_w, '(?i)[a-z]')))
        |    AS BIGINT) AS nalpha,
        |  CAST(len(list_intersect(list_distinct(ws),
        |    ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |    AS nstop
        |  FROM w)
        |SELECT doc_id, n_words,
        |  CAST(CASE WHEN n_words > 0 THEN chars * 1000 // n_words
        |       ELSE 0 END AS BIGINT) AS mwl_permille,
        |  n_words >= 50 AND n_words <= 100000 AS words_ok,
        |  (CASE WHEN n_words > 0 THEN chars * 1000 // n_words ELSE 0 END)
        |    BETWEEN 3000 AND 10000 AS mwl_ok,
        |  nsym * 10 <= n_words AS sym_ok,
        |  nalpha * 10 >= n_words * 8 AS alpha_ok,
        |  nstop >= 2 AS stop_ok,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND ((CASE WHEN n_words > 0 THEN chars * 1000 // n_words
        |          ELSE 0 END) BETWEEN 3000 AND 10000)
        |    AND nsym * 10 <= n_words AND nalpha * 10 >= n_words * 8
        |    AND nstop >= 2 AS pass
        |FROM m""".stripMargin,

    // the multi-line construction AND every rule (the line-level
    // bullet/ellipsis pair included) re-derived over mtext; all
    // thresholds integer cross-multiplications as in q182
    "q184_gopher_lines" ->
      """WITH md AS (SELECT doc_id,
        |  text || repeat(chr(10) || '• bullet item', doc_id % 12)
        |       || repeat(chr(10) || '- dash item', doc_id % 3)
        |       || repeat(chr(10) || 'see more...', doc_id % 4)
        |       || repeat(chr(10) || 'trailing note…', doc_id % 2) AS mtext
        |  FROM documents),
        |w AS (SELECT doc_id, mtext,
        |  list_filter(string_split_regex(mtext, '[ \n\r]'), _w -> _w <> '') AS ws,
        |  string_split_regex(mtext, '\r?\n') AS ls
        |  FROM md),
        |m AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(coalesce(list_sum(list_transform(ws, _w -> length(_w))), 0)
        |    AS BIGINT) AS chars,
        |  CAST((length(mtext) - length(replace(mtext, '#', '')))
        |    + (length(mtext) - length(replace(mtext, '...', ''))) // 3
        |    AS BIGINT) AS nsym,
        |  CAST(len(list_filter(ws, _w -> regexp_matches(_w, '(?i)[a-z]')))
        |    AS BIGINT) AS nalpha,
        |  CAST(len(list_intersect(list_distinct(ws),
        |    ['the','be','to','of','and','that','have','with'])) AS BIGINT)
        |    AS nstop,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(list_filter(ls, _l -> regexp_matches(_l, '^(•|- |\* )')))
        |    AS BIGINT) AS nbullet,
        |  CAST(len(list_filter(ls, _l -> regexp_matches(_l, '(\.\.\.|…)$')))
        |    AS BIGINT) AS nellip
        |  FROM w)
        |SELECT doc_id, n_words, n_lines,
        |  n_words >= 50 AND n_words <= 100000 AS words_ok,
        |  nbullet * 10 <= n_lines * 9 AS bullet_ok,
        |  nellip * 10 <= n_lines * 3 AS ellip_ok,
        |  (n_words >= 50 AND n_words <= 100000)
        |    AND ((CASE WHEN n_words > 0 THEN chars * 1000 // n_words
        |          ELSE 0 END) BETWEEN 3000 AND 10000)
        |    AND nsym * 10 <= n_words AND nalpha * 10 >= n_words * 8
        |    AND nstop >= 2
        |    AND nbullet * 10 <= n_lines * 9
        |    AND nellip * 10 <= n_lines * 3 AS pass
        |FROM m""".stripMargin,

    // the q101 edge prefix + every LPA round unrolled (q101's
    // convention): argmax tie-breaks and the synchronous update are
    // re-derived cross-engine, nothing pinned
    "q181_lpa_communities" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |                  FROM documents)
         |            GROUP BY doc_id, term),
         |t AS (SELECT doc_id, term FROM (
         |        SELECT doc_id, term,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY tf DESC, term) AS rk
         |        FROM tf) WHERE rk <= ${TextQueries.PageRankMaxTermsPerDoc}),
         |e AS (SELECT DISTINCT a.term AS src, b.term AS dst
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term != b.term),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM e),
         |${lpaIterSql("l0", "l1")},
         |${lpaIterSql("l1", "l2")},
         |${lpaIterSql("l2", "l3")},
         |${lpaIterSql("l3", "l4")}
         |SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_terms
         |FROM l4 GROUP BY lbl""".stripMargin,

    // the URI construction AND the host/domain extraction are replayed
    // verbatim (regexes RE2 ∩ Java dialect; the PSL when-chain is
    // GENERATED from the same embedded rule set the engine compiles,
    // via pslSuffixLenSql — oracle and engine cannot drift); coalesce()
    // normalizes the engines' no-match conventions before nullif
    "q180_domain_stats" ->
      raw"""WITH u AS (SELECT doc_id, text,
        |  CASE doc_id % 10
        |    WHEN 0 THEN 'https://crawler@www.' || source || '.org:8443/p/'
        |                || doc_id || '?q=1'
        |    WHEN 1 THEN 'http://' || source || '.org/p/' || doc_id
        |    WHEN 2 THEN 'https://cdn.' || source || '.org/img/' || doc_id
        |    WHEN 3 THEN 'notauri ' || doc_id
        |    WHEN 4 THEN 'https://www.' || source || '.co.uk/p/' || doc_id
        |    WHEN 5 THEN 'http://a.b.' || source || '.ck/x/' || doc_id
        |    WHEN 6 THEN 'https://www.city.kawasaki.jp/e/' || doc_id
        |    WHEN 7 THEN 'http://kawasaki.jp/w/' || doc_id
        |    WHEN 8 THEN 'https://cdn.' || source || '.org./img/' || doc_id
        |    ELSE 'http://host.kawasaki.jp/s/' || doc_id END AS uri
        |  FROM documents),
        |h AS (SELECT doc_id, text,
        |  lower(nullif(regexp_replace(coalesce(regexp_extract(
        |    coalesce(regexp_extract(uri,
        |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), ''),
        |    '^(?:[^@]*@)?(\[[^\]]*\]|[^:]+)', 1), ''), '\.$$', ''), ''))
        |    AS host
        |  FROM u),
        |l AS (SELECT doc_id, text, host, string_split(host, '.') AS labs,
        |  len(string_split(host, '.')) AS n FROM h),
        |s AS (SELECT doc_id, text, host, labs, n,
        |  ${pslSuffixLenSql("labs", "n")} AS sl FROM l),
        |d AS (SELECT doc_id, text, host,
        |  CASE WHEN host IS NOT NULL AND n > sl
        |    THEN array_to_string(list_slice(labs, n - sl, n), '.') END
        |    AS domain
        |  FROM s)
        |SELECT host, domain, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  coalesce(domain = 'src0.org', false)
        |    OR coalesce(host = 'cdn.src1.org', false) AS blocked
        |FROM d GROUP BY host, domain""".stripMargin,

    // route and magic-prefix length are pure functions of doc_id % 4,
    // body bytes = magic + text bytes — so the whole multimodal
    // routing of binary WARC bodies replays from the documents table
    "q177_warc_assets" ->
      """SELECT source AS archive,
        |  CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'image'
        |       WHEN 2 THEN 'archive' ELSE 'unknown' END AS route,
        |  CAST(count(*) AS BIGINT) AS n_assets,
        |  CAST(sum(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
        |           WHEN 2 THEN 4 ELSE 2 END + strlen(text)) AS BIGINT)
        |    AS sum_bytes
        |FROM documents GROUP BY 1, 2""".stripMargin,

    // every member's decompressed byte length is re-derived by
    // reconstructing the deterministic WET record layout from the
    // documents table (strlen = BYTES in DuckDB, matching Spark's
    // octet_length); the zlib-dependent offset/clen facts arrive as
    // the in-plan certified tiles_payload column (q173 convention)
    "q176_wet_member_index" ->
      """WITH r AS (SELECT source,
        |  strlen('WARC/1.0' || chr(13)||chr(10)
        |    || 'WARC-Type: conversion' || chr(13)||chr(10)
        |    || 'WARC-Target-URI: https://example.org/doc/'
        |    || CAST(doc_id AS VARCHAR) || chr(13)||chr(10)
        |    || 'Content-Length: ' || CAST(strlen(text) AS VARCHAR)
        |    || chr(13)||chr(10)||chr(13)||chr(10)
        |    || text || chr(13)||chr(10)||chr(13)||chr(10)) AS ulen
        |  FROM documents)
        |SELECT source AS archive, CAST(count(*) AS BIGINT) AS n_members,
        |  CAST(sum(ulen) AS BIGINT) AS sum_ulen,
        |  CAST(0 AS BIGINT) AS n_errors,
        |  TRUE AS tiles_payload
        |FROM r GROUP BY source""".stripMargin,

    // planted corruption is byte-surgical (member-2 gzip magic zeroed),
    // so the outcome is decided by the repo's OWN header parser and the
    // oracle derives every count from the documents table: corrupted
    // archives (even-length source, >= 3 docs) keep their 2 smallest
    // doc_ids + one quarantine row, intact archives keep every doc
    "q173_wet_quarantine_audit" ->
      """SELECT source AS archive,
        |  CAST(CASE WHEN length(source) % 2 = 0 AND n >= 3
        |       THEN 3 ELSE n END AS BIGINT) AS n_rows,
        |  CAST(CASE WHEN length(source) % 2 = 0 AND n >= 3
        |       THEN 2 ELSE n END AS BIGINT) AS n_docs,
        |  CAST(CASE WHEN length(source) % 2 = 0 AND n >= 3
        |       THEN 1 ELSE 0 END AS BIGINT) AS n_quarantined,
        |  CASE WHEN length(source) % 2 = 0 AND n >= 3
        |       THEN 'malformed or truncated gzip header' END AS reason,
        |  TRUE AS identity_ok
        |FROM (SELECT source, count(*) AS n FROM documents GROUP BY source)""".stripMargin,

    // the WET round trip recovers the corpus byte-for-byte, so the
    // oracle IS the documents table — zlib never enters the compare
    "q168_wet_ingest" ->
      """SELECT source AS archive, doc_id,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes, text
        |FROM documents""".stripMargin,

    // full 16-round replay (q101 unrolled convention): every count,
    // argmax tiebreak, and left-to-right merge is re-derived in DuckDB
    "q169_bpe_train" ->
      (bpeChainSql + "\n" +
        (0 until BpeNumMerges).map(i =>
          s"SELECT $i AS merge_rank, l AS lhs, r AS rhs, " +
            s"CAST(cnt AS BIGINT) AS cnt FROM b$i")
          .mkString("\nUNION ALL\n")),

    // same chain + dictionary join of the final vocab (minCount = 1 ⇒
    // every doc token trained) + the symbol-ascending id numbering
    "q170_bpe_encode" ->
      (bpeChainSql + s""",
        |tk AS (SELECT doc_id, tok FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 1 AND strpos(tok, chr(31)) = 0),
        |ec AS MATERIALIZED (SELECT tk.doc_id, v.s
        |  FROM tk JOIN v$BpeNumMerges v ON tk.tok = v.tok),
        |persym AS MATERIALIZED (SELECT doc_id,
        |    unnest(string_split(substr(s, 2, length(s) - 2),
        |                        chr(31) || chr(31))) AS sym
        |  FROM ec),
        |ids AS (SELECT sym,
        |    CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS sym_id
        |  FROM (SELECT DISTINCT sym FROM persym)),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
        |    CAST(sum(sym_id) AS BIGINT) AS isum
        |  FROM persym JOIN ids USING (sym) GROUP BY doc_id),
        |nws AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws
        |  FROM tk GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_ws, 0) AS BIGINT) AS n_tokens_ws,
        |  CAST(coalesce(n_bpe, 0) AS BIGINT) AS n_tokens_bpe,
        |  CAST(coalesce(isum, 0) AS BIGINT) AS id_sum
        |FROM documents d LEFT JOIN nws USING (doc_id)
        |LEFT JOIN agg USING (doc_id)""".stripMargin),

    // PINNED frame (DuckDB has no zlib surface): measured at sf0.01,
    // guarded by PinnedOracleSpec's fixture-content hash and by
    // Round9SketchSpec's pin ≡ live-computation check — a fixture
    // regen or a zlib change fails loudly with re-pin instructions
    "q167_compression_ratio" ->
      """SELECT lang, CAST(n AS BIGINT) AS n_docs,
        |  CAST(r AS BIGINT) AS sum_raw,
        |  CAST(d AS BIGINT) AS sum_deflated,
        |  CAST(p AS BIGINT) AS ratio_permille
        |FROM (VALUES
        |  ('de',  70, 19525,  9548, 489),
        |  ('en', 218, 64437, 30901, 479),
        |  ('es',  73, 21756, 10416, 478),
        |  ('fr',  64, 20623,  9610, 465),
        |  ('zh',  75, 22833, 10874, 476)) t(lang, n, r, d, p)
        |ORDER BY lang""".stripMargin,

    // the FULL RECOMPUTE over q158's merged table — deliberately not
    // the incremental algebra: the hash gate then certifies
    // incremental ≡ recompute cross-engine, the IVM correctness claim
    "q166_incremental_rollup" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS lang,
        |    CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id, 1, 'upsert', text || ' v2', lang, source
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 2, 'upsert', text || ' v3', lang, source
        |  FROM documents WHERE doc_id % 50 = 0 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, 1, 'upsert', text, lang, source
        |  FROM documents WHERE doc_id % 25 = 0),
        |lt AS (SELECT * FROM (
        |         SELECT ch.*, row_number() OVER (PARTITION BY doc_id
        |                                         ORDER BY seq DESC) AS rn
        |         FROM ch) WHERE rn = 1),
        |merged AS (
        |  SELECT d.text, d.source
        |  FROM documents d
        |  WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.doc_id = d.doc_id)
        |  UNION ALL
        |  SELECT text, source FROM lt WHERE op = 'upsert')
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars
        |FROM merged GROUP BY source ORDER BY source""".stripMargin,

    // top-3 terms by (count desc, term asc), first-16 positions per
    // (doc, slot) via row_number (mirroring bounded_min_k's cap), min
    // covering span via the 3-way per-doc position join
    "q165_proximity_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tokx AS (SELECT doc_id, unnest(range(len(w))) AS pos, w FROM w),
        |tok AS (SELECT doc_id, pos, w[pos+1] AS term FROM tokx),
        |cnt AS (SELECT term, count(*) AS n FROM tok GROUP BY term),
        |top3 AS (SELECT term,
        |           CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) - 1
        |             AS slot
        |         FROM cnt ORDER BY n DESC, term LIMIT 3),
        |m AS (SELECT t.doc_id, t.pos, s.slot,
        |        row_number() OVER (PARTITION BY t.doc_id, s.slot
        |          ORDER BY t.pos) AS rn
        |      FROM tok t JOIN top3 s USING (term)),
        |p AS (SELECT doc_id, pos, slot FROM m WHERE rn <= 16),
        |sp AS (SELECT a.doc_id,
        |         greatest(a.pos, b.pos, c.pos) - least(a.pos, b.pos, c.pos)
        |           AS span
        |       FROM p a
        |       JOIN p b ON a.doc_id = b.doc_id AND b.slot = 1
        |       JOIN p c ON a.doc_id = c.doc_id AND c.slot = 2
        |       WHERE a.slot = 0)
        |SELECT doc_id, CAST(min(span) AS BIGINT) AS min_span
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // stage 1: trigram counts via 1-based list indexing over a 0-based
    // range (the q67 shape), top-1 by (count desc, trigram asc);
    // stage 2: the anchor-arithmetic phrase match — token at pos p
    // matching slot i votes anchor p-i, an anchor with all 3 distinct
    // slots is an exact occurrence
    "q163_phrase_search" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |tric AS (SELECT doc_id, unnest(range(len(w) - 2)) AS i, w
        |         FROM w WHERE len(w) >= 3),
        |tcnt AS (SELECT concat_ws(' ', w[i+1], w[i+2], w[i+3]) AS tri,
        |           count(*) AS n
        |         FROM tric GROUP BY tri),
        |top AS (SELECT tri FROM tcnt ORDER BY n DESC, tri LIMIT 1),
        |ph AS (SELECT unnest(range(3)) AS slot, string_split(tri, ' ') AS ts
        |       FROM top),
        |slots AS (SELECT slot, ts[slot+1] AS term FROM ph),
        |tokx AS (SELECT doc_id, unnest(range(len(w))) AS pos, w FROM w),
        |tok AS (SELECT doc_id, pos, w[pos+1] AS term FROM tokx),
        |m AS (SELECT t.doc_id, t.pos - s.slot AS anchor, s.slot
        |      FROM tok t JOIN slots s USING (term)),
        |occ AS (SELECT doc_id, anchor FROM m
        |        GROUP BY doc_id, anchor HAVING count(DISTINCT slot) = 3),
        |res AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occ,
        |          CAST(min(anchor) AS BIGINT) AS first_pos
        |        FROM occ GROUP BY doc_id)
        |SELECT r.doc_id, t.tri AS phrase, r.n_occ, r.first_pos
        |FROM res r, top t ORDER BY r.doc_id""".stripMargin,

    // exact per-(lang, term-hash) counts ranked (count desc, hash asc)
    // — identical to the MG summary in its deterministic regime
    // (vocab <= k: no decrement ever fires). rk <= 64 mirrors the
    // summary size cap; the dictionary joins min(term) per hash just
    // as the Spark side does.
    "q161_mg_top_terms" ->
      s"""WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS term
         |              FROM documents),
         |hx AS (SELECT lang, substr(md5(term), 1, 15) AS hx FROM toks),
         |hv AS (SELECT lang, ${Md5Key.hex15ToLong("hx")} AS hv FROM hx),
         |cnt AS (SELECT lang, hv, CAST(count(*) AS BIGINT) AS n_term
         |        FROM hv GROUP BY lang, hv),
         |dx AS (SELECT term, substr(md5(term), 1, 15) AS hx
         |       FROM (SELECT DISTINCT term FROM toks)),
         |dict AS (SELECT hv, min(term) AS term
         |         FROM (SELECT term, ${Md5Key.hex15ToLong("hx")} AS hv FROM dx)
         |         GROUP BY hv),
         |rk AS (SELECT lang, hv, n_term,
         |         CAST(row_number() OVER (PARTITION BY lang
         |           ORDER BY n_term DESC, hv) AS BIGINT) AS rk
         |       FROM cnt)
         |SELECT r.lang, r.rk, d.term, r.n_term
         |FROM rk r JOIN dict d USING (hv)
         |WHERE r.rk <= 64 ORDER BY r.lang, r.rk""".stripMargin,

    // the q128 model CTE verbatim (c1 = context count over ALL pairs,
    // floor at c12 >= 3), then every doc's bigram stream left-joined
    // against it — unseen pairs contribute 0 — and folded to the
    // integer mean; docs with < 2 tokens have no bigrams and are absent
    "q151_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(len(w) - 1),
        |        i -> w[i+1] || ' ' || w[i+2])) AS pair
        |      FROM d WHERE len(w) >= 2),
        |bb AS (SELECT doc_id, split_part(pair, ' ', 1) AS w1,
        |         split_part(pair, ' ', 2) AS w2
        |       FROM b),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |        FROM bb GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1),
        |m AS (SELECT c12.w1, c12.w2,
        |        CAST((c12.c12 * 1000000) // c1.c1 AS BIGINT) AS p_scaled
        |      FROM c12 JOIN c1 USING (w1) WHERE c12.c12 >= 3)
        |SELECT bb.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(CAST(sum(coalesce(m.p_scaled, 0)) AS BIGINT) // count(*)
        |    AS BIGINT) AS lm_score
        |FROM bb LEFT JOIN m ON bb.w1 = m.w1 AND bb.w2 = m.w2
        |GROUP BY bb.doc_id""".stripMargin,

    // the same change feed (delete precedence, two upsert waves with
    // last-wins on seq, +1e6 inserts), latest-per-key via the same
    // rank, untouched base via NOT EXISTS, upserts unioned back
    "q158_merge_apply" ->
      """WITH ch AS (
        |  SELECT doc_id, 1 AS seq, 'delete' AS op,
        |    CAST(NULL AS VARCHAR) AS text, CAST(NULL AS VARCHAR) AS lang,
        |    CAST(NULL AS VARCHAR) AS source
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id, 1, 'upsert', text || ' v2', lang, source
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id, 2, 'upsert', text || ' v3', lang, source
        |  FROM documents WHERE doc_id % 50 = 0 AND doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, 1, 'upsert', text, lang, source
        |  FROM documents WHERE doc_id % 25 = 0),
        |lt AS (SELECT * FROM (
        |         SELECT ch.*, row_number() OVER (PARTITION BY doc_id
        |                                         ORDER BY seq DESC) AS rn
        |         FROM ch) WHERE rn = 1)
        |SELECT d.doc_id, d.text, d.lang, d.source
        |FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM ch WHERE ch.doc_id = d.doc_id)
        |UNION ALL
        |SELECT doc_id, text, lang, source FROM lt WHERE op = 'upsert'""".stripMargin,

    // q34's full pair-stats CTE (no threshold), a 4-row threshold grid,
    // and the same INTEGER gate common*1000 >= th*(n1+n2-common) —
    // exact at every boundary where a float jaccard compare is not;
    // thresholds with zero surviving pairs are absent in both engines
    "q157_dedup_yield" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT d1, d2, common, n1.ns AS n1, n2.ns AS n2
        |      FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id),
        |g AS (SELECT CAST(unnest([600, 700, 800, 900]) AS BIGINT) AS th),
        |f AS (SELECT g.th, p.d1, p.d2
        |      FROM p CROSS JOIN g
        |      WHERE p.common * 1000 >= g.th * (p.n1 + p.n2 - p.common))
        |SELECT th, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(count(DISTINCT d2) AS BIGINT) AS n_docs_flagged
        |FROM f GROUP BY th""".stripMargin,

    // same total-order vocabulary pick ((count desc, term) — the
    // rank-1000 boundary tie is engine-reproducible) and the same
    // membership left join + integer permille roll-up
    "q154_oov_rate" ->
      """WITH t AS (SELECT lang, source, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |v AS (SELECT term FROM (
        |        SELECT term, count(*) AS cnt FROM t GROUP BY term
        |        ORDER BY cnt DESC, term LIMIT 1000))
        |SELECT t.lang, t.source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST((CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000) // count(*) AS BIGINT) AS oov_permille
        |FROM t LEFT JOIN v ON t.term = v.term
        |GROUP BY t.lang, t.source""".stripMargin,

    // same v2 mutation, same chr(1)-separated md5 fingerprints, same
    // full-outer compare; 'unchanged' filtered both sides
    "q149_snapshot_diff" ->
      """WITH v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source
        |  FROM documents WHERE doc_id % 7 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source
        |  FROM documents WHERE doc_id % 25 = 0),
        |o AS (SELECT doc_id,
        |        md5(text || chr(1) || lang || chr(1) || source) AS fp
        |      FROM documents),
        |n AS (SELECT doc_id,
        |        md5(text || chr(1) || lang || chr(1) || source) AS fp
        |      FROM v2),
        |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |        CASE WHEN o.fp IS NULL THEN 'added'
        |             WHEN n.fp IS NULL THEN 'removed'
        |             WHEN o.fp <> n.fp THEN 'changed'
        |             ELSE 'unchanged' END AS change
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change FROM j WHERE change <> 'unchanged'""".stripMargin,

    // the DLT priority sample replayed: same md5 priorities, the
    // (p, doc_id) rank mirror of the pair buffer's lexicographic
    // order, same tau pick and max(w, 2^60 // tau) estimator
    "q148_priority_sample" ->
      s"""WITH d AS (SELECT source, doc_id, greatest(n_chars, 1) AS w,
         |        substr(md5(cast(doc_id as string) || ':ps42'), 1, 15) AS hx
         |      FROM documents),
         |p AS (SELECT source, doc_id, w,
         |        (${Md5Key.hex15ToLong("hx")}) // w AS p
         |      FROM d),
         |r AS (SELECT source, doc_id, w, p,
         |        row_number() OVER (PARTITION BY source
         |                           ORDER BY p, doc_id) AS rn
         |      FROM p),
         |tau AS (SELECT source, min(CASE WHEN rn = 9 THEN p END) AS tau
         |        FROM r GROUP BY source),
         |ex AS (SELECT source, CAST(sum(w) AS BIGINT) AS exact_total
         |       FROM p GROUP BY source),
         |smp AS (SELECT r.source, r.doc_id, r.w,
         |          CASE WHEN t.tau IS NULL THEN r.w
         |               ELSE greatest(r.w,
         |                 ${Md5Key.Space} // greatest(t.tau, 1)) END AS w_hat
         |        FROM r JOIN tau t USING (source) WHERE rn <= 8),
         |est AS (SELECT source, CAST(sum(w_hat) AS BIGINT) AS est_total
         |        FROM smp GROUP BY source)
         |SELECT smp.source, smp.doc_id, smp.w, smp.w_hat,
         |  est.est_total, ex.exact_total
         |FROM smp JOIN est USING (source) JOIN ex USING (source)""".stripMargin,

    // adjacent-char pairs via the same one-list-transform shape as
    // q128 (range is 0-based in DuckDB, hence the i+1); total order
    // on (cnt desc, pair) makes the LIMIT deterministic
    "q145_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        |p AS (SELECT unnest(list_transform(range(length(tok) - 1),
        |        i -> substr(tok, i + 1, 2))) AS pair
        |      FROM t WHERE length(tok) >= 2),
        |c AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |      FROM p GROUP BY pair)
        |SELECT pair, cnt FROM c ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // the sample replayed exactly: same stratum counts, same integer
    // rate, same seed-keyed md5 3-hex coin via the shared polynomial
    "q142_stratified_sample" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_s
         |           FROM documents GROUP BY lang),
         |m AS (SELECT min(n_s) AS min_n FROM c),
         |r AS (SELECT lang, least(4096, (min_n * 4096) // n_s) AS rate
         |      FROM c CROSS JOIN m),
         |h AS (SELECT doc_id, lang,
         |        substr(md5(cast(doc_id as string) || ':s42'), 1, 3) AS hx
         |      FROM documents)
         |SELECT doc_id, lang
         |FROM h JOIN r USING (lang)
         |WHERE ${Md5Key.hexToLong("hx", 3)} < rate""".stripMargin,

    // same blocking dials as the Spark side; the ASCII guard pins
    // DuckDB's byte-counting levenshtein to inputs where bytes=chars
    "q111_edit_distance" ->
      """WITH d AS (
        |  SELECT doc_id, substr(text, 1, 24) AS blk,
        |    substr(text, 1, 200) AS head
        |  FROM documents WHERE regexp_matches(text, '^[ -~]*$')),
        |ok AS (SELECT blk FROM d GROUP BY blk HAVING count(*) <= 64)
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(levenshtein(a.head, b.head) AS BIGINT) AS lev
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE a.blk IN (SELECT blk FROM ok)
        |  AND levenshtein(a.head, b.head) <= 30""".stripMargin,

    // same integer binning, dense grid, and floor-divided per-bin
    // terms — the whole chi-square is BIGINT in both engines
    "q117_source_drift" ->
      """WITH r AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx,
        |             CAST(count(*) AS BIGINT) AS nn FROM documents),
        |b AS (SELECT source,
        |        ((n_chars - mn) * 12) // (mx - mn + 1) AS bin
        |      FROM documents CROSS JOIN r),
        |o AS (SELECT source, bin, CAST(count(*) AS BIGINT) AS o
        |      FROM b GROUP BY 1, 2),
        |t AS (SELECT bin, CAST(sum(o) AS BIGINT) AS t FROM o GROUP BY bin),
        |ns AS (SELECT source, CAST(sum(o) AS BIGINT) AS n_s FROM o GROUP BY source),
        |g AS (SELECT ns.source, t.bin, ns.n_s, t.t,
        |        coalesce(o.o, 0) AS o
        |      FROM ns CROSS JOIN t
        |      LEFT JOIN o ON o.source = ns.source AND o.bin = t.bin),
        |terms AS (SELECT source, n_s,
        |        CAST(((o * nn - t * n_s) * (o * nn - t * n_s) * 100)
        |             // (nn * t * n_s) AS BIGINT) AS term_e2
        |      FROM g CROSS JOIN r)
        |SELECT source, max(n_s) AS n_docs,
        |  CAST(sum(term_e2) AS BIGINT) AS chi2_e2,
        |  CAST(count(*) AS BIGINT) AS n_bins
        |FROM terms GROUP BY source""".stripMargin,

    // integer-exact Simpson diversity; the one division is the only
    // float op and runs on identical BIGINT inputs in both engines
    "q112_token_diversity" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |      FROM t GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |        CAST(count(*) AS BIGINT) AS n_distinct,
        |        CAST(sum(c * c) AS BIGINT) AS sumc2
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(n_tokens * n_tokens - sumc2 AS DOUBLE) /
        |    CAST(n_tokens * n_tokens AS DOUBLE) AS diversity
        |FROM s""".stripMargin,

    // fixed-point integer PageRank, three unrolled iterations — every
    // division floors identically in both engines; the per-doc top-16
    // term cap (tf desc, term asc — the Spark side's exact window)
    // bounds the co-occurrence self-join identically in both
    // the bounded head replays as a row_number top-40 per term; df
    // counts the FULL posting set
    "q123_inverted_index" ->
      """WITH t AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |           FROM documents),
        |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY term
        |      HAVING count(*) >= 3),
        |rk AS (SELECT t.term, t.doc_id,
        |         row_number() OVER (PARTITION BY t.term ORDER BY t.doc_id) AS rn
        |       FROM t JOIN d USING (term))
        |SELECT rk.term, d.df,
        |  string_agg(CAST(rk.doc_id AS VARCHAR), ',' ORDER BY rk.doc_id) AS postings_head
        |FROM rk JOIN d USING (term)
        |WHERE rn <= 40
        |GROUP BY rk.term, d.df""".stripMargin,

    // same capped per-doc term CTE as q101/q118; integer-scaled lift,
    // floor division mirrored // vs div (both operands positive)
    "q124_pmi_collocations" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |                  FROM documents)
         |            GROUP BY doc_id, term),
         |t AS (SELECT doc_id, term FROM (
         |        SELECT doc_id, term,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY tf DESC, term) AS rk
         |        FROM tf) WHERE rk <= ${TextQueries.PageRankMaxTermsPerDoc}),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         |p AS (SELECT a.term AS t1, b.term AS t2, CAST(count(*) AS BIGINT) AS n12
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term < b.term
         |      GROUP BY 1, 2 HAVING count(*) >= 3)
         |SELECT t1, t2, n12, x.n AS n1, y.n AS n2,
         |  CAST(n12 * nd.nd * 1000000 // (x.n * y.n) AS BIGINT) AS pmi_scaled
         |FROM p JOIN dfreq x ON p.t1 = x.term
         |       JOIN dfreq y ON p.t2 = y.term CROSS JOIN nd
         |WHERE n12 * nd.nd * 1000000 // (x.n * y.n) > 1000000""".stripMargin,

    // adjacent pairs via a list transform (1-indexed on the DuckDB
    // side), counts only; c1 = Σ c12 over the context so both engines
    // define the denominator identically
    "q128_bigram_lm" ->
      """WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
        |b AS (SELECT unnest(list_transform(range(len(w) - 1),
        |        i -> w[i+1] || ' ' || w[i+2])) AS pair
        |      FROM d WHERE len(w) >= 2),
        |c12 AS (SELECT split_part(pair, ' ', 1) AS w1,
        |          split_part(pair, ' ', 2) AS w2,
        |          CAST(count(*) AS BIGINT) AS c12
        |        FROM b GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY w1)
        |SELECT c12.w1, c12.w2, c12.c12 AS c12, c1.c1 AS c1,
        |  CAST((c12.c12 * 1000000) // c1.c1 AS BIGINT) AS p_scaled
        |FROM c12 JOIN c1 USING (w1)
        |WHERE c12.c12 >= 3""".stripMargin,

    // bounded_min_k replays as a row_number top-100 per source
    "q133_source_cap" ->
      """WITH d AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |           FROM documents GROUP BY source),
        |rk AS (SELECT source, doc_id,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |       FROM documents)
        |SELECT rk.source, d.n_docs,
        |  string_agg(CAST(rk.doc_id AS VARCHAR), ',' ORDER BY rk.doc_id) AS kept_ids
        |FROM rk JOIN d USING (source)
        |WHERE rn <= 100
        |GROUP BY rk.source, d.n_docs""".stripMargin,

    // seed-keyed md5 first hex char, ASCII-compared — replays on any
    // engine without hex-to-int parsing (Sharding.assignSplits)
    "q126_split_assign" ->
      """SELECT doc_id, source,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 1) < 'c'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 1) < 'e'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,

    // q34's pair CTE at the 0.6 gate joined to q126's split CASE,
    // kept only where the splits differ — the leakage audit replay
    "q138_split_leakage" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT d1, d2, common, n1.ns AS n1, n2.ns AS n2
        |      FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) >= 0.6),
        |sp AS (SELECT doc_id,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 1) < 'c'
        |         THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':' || '42'), 1, 1) < 'e'
        |         THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT d1, d2, s1.split AS split1, s2.split AS split2, common, n1, n2
        |FROM p JOIN sp s1 ON p.d1 = s1.doc_id JOIN sp s2 ON p.d2 = s2.doc_id
        |WHERE s1.split != s2.split""".stripMargin,

    // positional (non-distinct) 3-grams per doc: total vs distinct
    // counts and the integer repeat share
    "q139_intra_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |g AS (SELECT doc_id,
        |        list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) AS gs
        |      FROM d WHERE len(w) >= 3)
        |SELECT doc_id,
        |  CAST(len(gs) AS BIGINT) AS n_ngrams,
        |  CAST(len(list_distinct(gs)) AS BIGINT) AS n_distinct,
        |  (CAST(len(gs) AS BIGINT) - CAST(len(list_distinct(gs)) AS BIGINT))
        |    * 1000 // CAST(len(gs) AS BIGINT) AS rep_permille
        |FROM g""".stripMargin,

    // q34's shingle CTE under the df>3 hot-shingle exclusion (the
    // operator's capped universe: ns and common both count surviving
    // shingles only), then both directions of each undirected pair
    // with the CONTAINED side's shingle count as the denominator.
    // Collision caveat: Spark counts over 64-bit shingle HASHES where
    // this CTE counts real string shingles — a hash collision (within-
    // or cross-doc) would diverge common/ns/df under the gate. Same
    // approximation q34/q105 already accept (~1e-10 at fixture scale);
    // it hash-matches on the fixture.
    "q127_containment" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s0 AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |hot AS (SELECT shingle FROM (
        |          SELECT shingle, count(*) AS df FROM s0 GROUP BY shingle) f
        |        WHERE df > 3),
        |s AS (SELECT * FROM s0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(count(*) AS BIGINT) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |u AS (SELECT d1 AS contained, d2 AS container, common, n1.ns AS n_contained
        |      FROM c JOIN n n1 ON c.d1 = n1.doc_id
        |      UNION ALL
        |      SELECT d2 AS contained, d1 AS container, common, n2.ns AS n_contained
        |      FROM c JOIN n n2 ON c.d2 = n2.doc_id)
        |SELECT contained, container, common, n_contained,
        |  CAST(common * 1000 // n_contained AS BIGINT) AS cont_permille
        |FROM u
        |WHERE n_contained >= 10 AND common * 1000 // n_contained >= 800""".stripMargin,

    "q101_pagerank" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |                  FROM documents)
         |            GROUP BY doc_id, term),
         |t AS (SELECT doc_id, term FROM (
         |        SELECT doc_id, term,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY tf DESC, term) AS rk
         |        FROM tf) WHERE rk <= ${TextQueries.PageRankMaxTermsPerDoc}),
         |e AS (SELECT DISTINCT a.term AS src, b.term AS dst
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term != b.term),
         |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
         |r0 AS (SELECT src AS term, deg,
         |         CAST(1000000000000 // n AS BIGINT) AS rank
         |       FROM d CROSS JOIN nn),
         |${prIterSql("r0", "r1")},
         |${prIterSql("r1", "r2")},
         |${prIterSql("r2", "r3")}
         |SELECT term, deg, rank FROM r3""".stripMargin,

    // the same capped edge build as q101, then degree orientation by
    // the (deg, term) total order and wedge ⋈ closing-edge counting —
    // the NOT-EXISTS-free formulation both engines replay exactly
    "q118_triangles" ->
      s"""WITH tf AS (SELECT doc_id, term, count(*) AS tf
         |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |                  FROM documents)
         |            GROUP BY doc_id, term),
         |t AS (SELECT doc_id, term FROM (
         |        SELECT doc_id, term,
         |               row_number() OVER (PARTITION BY doc_id
         |                                  ORDER BY tf DESC, term) AS rk
         |        FROM tf) WHERE rk <= ${TextQueries.PageRankMaxTermsPerDoc}),
         |e AS (SELECT DISTINCT a.term AS src, b.term AS dst
         |      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.term != b.term),
         |und AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
         |d AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg
         |      FROM e GROUP BY src),
         |o AS (SELECT
         |        CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS lo,
         |        CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS hi,
         |        greatest(da, db) AS dhi
         |      FROM (SELECT a, b, x.deg AS da, y.deg AS db
         |            FROM und JOIN d x ON x.v = a JOIN d y ON y.v = b)),
         |w AS (SELECT x.hi AS b, y.hi AS c
         |      FROM o x JOIN o y ON x.lo = y.lo
         |      WHERE x.dhi < y.dhi OR (x.dhi = y.dhi AND x.hi < y.hi)),
         |tr AS (SELECT count(*) AS n_triangles
         |       FROM w WHERE EXISTS (SELECT 1 FROM o
         |                            WHERE o.lo = w.b AND o.hi = w.c))
         |SELECT CAST((SELECT count(*) FROM d) AS BIGINT) AS n_nodes,
         |  CAST((SELECT count(*) FROM und) AS BIGINT) AS n_edges,
         |  CAST(n_triangles AS BIGINT) AS n_triangles
         |FROM tr""".stripMargin,

    // 32-token chunks (overlap 0), first occurrence by (doc_id,
    // chunk_id), reassembly ordered by chunk_id — all string/integer
    // ops, replayed in full
    "q82_passage_prune" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |x AS (SELECT doc_id, w, greatest(1, (len(w) + 31) // 32) AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(range(nc)) AS chunk_id FROM x),
        |ch AS (SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |         array_to_string(list_slice(w, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ') AS chunk_text
        |       FROM c),
        |k AS (SELECT doc_id, chunk_id, chunk_text,
        |        row_number() OVER (PARTITION BY md5(chunk_text)
        |          ORDER BY doc_id, chunk_id) AS rn
        |      FROM ch),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY doc_id),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |        string_agg(chunk_text, ' ' ORDER BY chunk_id) AS pruned_text
        |      FROM k WHERE rn = 1 GROUP BY doc_id)
        |SELECT n.doc_id, n.n_chunks, r.n_kept, r.pruned_text
        |FROM n JOIN r USING (doc_id)""".stripMargin,

    // ⌊√n⌋ group weights, integer-division quotas, md5-keyed picks —
    // the full temperature-mix recipe replayed step for step. The
    // NULL-lang exclusion mirrors the operator's up-front filter (a
    // NULL group would otherwise weigh into the quotas that the
    // null-dropping USING join could never spend); no-op on the
    // fixture (lang is non-null) but load-bearing for the parity claim
    "q84_temperature_mix" ->
      """WITH g AS (SELECT lang, count(*) AS n_grp,
        |             CAST(floor(sqrt(count(*))) AS BIGINT) AS w_grp
        |           FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        |t AS (SELECT sum(w_grp) AS tot_w FROM g),
        |q AS (SELECT lang, (200 * w_grp) // tot_w AS quota FROM g CROSS JOIN t),
        |r AS (SELECT doc_id, lang,
        |        md5(CAST(doc_id AS VARCHAR) || ':' || '42') AS okey
        |      FROM documents WHERE lang IS NOT NULL),
        |p AS (SELECT doc_id, lang,
        |        CAST(row_number() OVER (PARTITION BY lang ORDER BY okey, doc_id) AS BIGINT) AS pick_rank
        |      FROM r)
        |SELECT p.doc_id, p.lang, p.pick_rank
        |FROM p JOIN q USING (lang) WHERE pick_rank <= quota""".stripMargin,

    "q30_text_tokens" ->
      s"""SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_tokens_ws,
         |  len(regexp_extract_all(text, '$BPEISH')) AS n_tokens_re
         |FROM documents""".stripMargin,

    "q31_text_quality" ->
      s"""SELECT doc_id, n_words,
         |  CAST(n_chars_m - (n_words - 1) AS DOUBLE) / n_words AS mean_word_len,
         |  CAST(stop_hits AS DOUBLE) / n_words AS stop_ratio,
         |  CAST(punct_hits AS DOUBLE) / greatest(n_chars_m, 1) AS punct_ratio,
         |  (least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
         |   + least((CAST(stop_hits AS DOUBLE) / n_words) * 5.0, 1.0)
         |   + (1.0 - CAST(punct_hits AS DOUBLE) / greatest(n_chars_m, 1))) / 3.0 AS quality_score
         |FROM (
         |  SELECT doc_id,
         |    len(string_split(text, ' ')) AS n_words,
         |    length(text) AS n_chars_m,
         |    len(regexp_extract_all(text, '$STOP_EN')) AS stop_hits,
         |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct_hits
         |  FROM documents) t""".stripMargin,

    "q32_lang_id" ->
      """SELECT doc_id, lang, score_en, score_es, score_fr, score_de,
        |  CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en > 0 THEN 'en'
        |       WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
        |       WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
        |       WHEN score_de > 0 THEN 'de'
        |       ELSE 'unknown' END AS lang_pred
        |FROM (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '\b(the|a|of|to|in|and|is)\b')) AS score_en,
        |    len(regexp_extract_all(text, '\b(el|la|de|que|y|en|los)\b')) AS score_es,
        |    len(regexp_extract_all(text, '\b(le|la|de|et|les|des|un)\b')) AS score_fr,
        |    len(regexp_extract_all(text, '\b(der|die|und|das|von|mit|ein)\b')) AS score_de
        |  FROM documents) t""".stripMargin,

    "q33_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q34_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT d1, d2, common, n1.ns AS n1, n2.ns AS n2,
        |  CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) AS jaccard
        |FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) >= 0.2""".stripMargin,

    // same CTEs as q34 at the 500‰ INTEGER gate — the engine side is
    // the prefix-filtered plan, so row-for-row equality here is the
    // losslessness proof of the prefix filter itself
    "q197_prefix_jaccard" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(range(len(w) - 2),
        |          i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT d1, d2, common, n1.ns AS n1, n2.ns AS n2,
        |  CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) AS jaccard
        |FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |WHERE common * 1000 >= 500 * (n1.ns + n2.ns - common)""".stripMargin,

    // r16: the FULL LSH replays — FNV/splitmix/band-fold arithmetic
    // restated in DuckDB HUGEINT modular SQL (generated — see
    // LshOracleSql); candidate generation AND the verification gate
    // both under the cross-engine hash, ending the rows-only era for
    // the minhash/simhash family (their recall oracles q60/q61 stay)
    "q35_minhash_pairs" ->
      LshOracleSql.minHashPairsSql(k = 3, numHashes = 16, bands = 4,
        thresholdSql = "0.6"),
    "q36_simhash_pairs" ->
      LshOracleSql.simHashPairsSql(k = 3, maxHamming = 6),

    "q37_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5, substring(md5(text), 1, 4) AS fp_bucket
        |FROM documents""".stripMargin,

    "q38_token_shard" ->
      """SELECT doc_id, source, n_tokens,
        |  CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
        |  CAST((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1) // 5000 AS BIGINT) AS shard_id
        |FROM (
        |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents) t""".stripMargin,

    "q44_term_df" ->
      """SELECT term, count(*) AS df
        |FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
        |      FROM documents) t
        |GROUP BY term""".stripMargin,

    // 32-token chunks, overlap 0 -> step 32; DISTINCT per (doc, chunk
    // hash) so only cross-doc sharing counts (mirrors dupChunkDocs)
    "q67_dup_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |x AS (SELECT doc_id, w, greatest(1, (len(w) + 31) // 32) AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(range(nc)) AS chunk_id FROM x),
        |ch AS (SELECT DISTINCT doc_id,
        |         md5(array_to_string(list_slice(w, chunk_id * 32 + 1, chunk_id * 32 + 32), ' ')) AS chunk_md5
        |       FROM c),
        |sh AS (SELECT chunk_md5 FROM ch GROUP BY chunk_md5 HAVING count(*) >= 2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks
        |FROM ch JOIN sh USING (chunk_md5)
        |GROUP BY doc_id""".stripMargin,

    // stride-1 15-token windows; cross-doc shared windows mark their
    // positions; gaps-and-islands (break when the gap exceeds the
    // window length) coalesces them into maximal [start, end) spans
    "q106_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |wins AS (SELECT doc_id, i AS pos,
        |           md5(array_to_string(list_slice(w, i + 1, i + 15), ' ')) AS h
        |         FROM d, UNNEST(range(len(w) - 14)) AS t(i) WHERE len(w) >= 15),
        |shared AS (SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |m AS (SELECT DISTINCT doc_id, pos FROM wins JOIN shared USING (h)),
        |isl AS (SELECT doc_id, pos,
        |          CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 15
        |               THEN 0 ELSE 1 END AS brk
        |        FROM m),
        |grp AS (SELECT doc_id, pos,
        |          sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS g
        |        FROM isl)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + 15 AS span_end,
        |       max(pos) + 15 - min(pos) AS span_tokens
        |FROM grp GROUP BY doc_id, g""".stripMargin,

    "q68_corpus_stats" ->
      """WITH l AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_tokens,
        |    CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en > 0 THEN 'en'
        |         WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
        |         WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
        |         WHEN score_de > 0 THEN 'de'
        |         ELSE 'unknown' END AS lang_pred
        |  FROM (
        |    SELECT doc_id, source, text,
        |      len(regexp_extract_all(text, '\b(the|a|of|to|in|and|is)\b')) AS score_en,
        |      len(regexp_extract_all(text, '\b(el|la|de|que|y|en|los)\b')) AS score_es,
        |      len(regexp_extract_all(text, '\b(le|la|de|et|les|des|un)\b')) AS score_fr,
        |      len(regexp_extract_all(text, '\b(der|die|und|das|von|mit|ein)\b')) AS score_de
        |    FROM documents) s)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_doc_tokens,
        |  CAST(count(CASE WHEN lang_pred = 'en' THEN 1 END) AS BIGINT) AS n_en_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_docs
        |FROM l GROUP BY source""".stripMargin,

    // tf/df is one integer-input double division in both engines —
    // bit-identical ordering (ln would not be; see topTermsPerDoc)
    "q66_top_terms" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM t GROUP BY 1)
        |SELECT doc_id, term, tf, df, rank FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term ASC) AS rank
        |  FROM tf JOIN df USING (term)) x
        |WHERE rank <= 3""".stripMargin,

    "q45_redact" ->
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.emailPattern}'))
         |     + len(regexp_extract_all(text, '${TextAnalysis.longDigitsPattern}')) AS BIGINT) AS n_redactions,
         |  regexp_replace(
         |    regexp_replace(text, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.longDigitsPattern}', '<NUM>', 'g') AS redacted
         |FROM documents""".stripMargin,

    "q46_mix_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_src,
        |    CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.5
        |                WHEN 'src2' THEN 0.25 WHEN 'src3' THEN 0.1
        |                ELSE 0.0 END AS wt
        |  FROM documents) t
        |WHERE rn <= ceil(wt * n_src)""".stripMargin,

    // 32-token chunks, 8 overlap -> step 24
    "q56_chunks" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |x AS (SELECT doc_id, w,
        |        greatest(1, (len(w) - 8 + 23) // 24) AS nc FROM d),
        |c AS (SELECT doc_id, w, unnest(range(nc)) AS chunk_id FROM x)
        |SELECT doc_id, chunk_id,
        |  array_to_string(list_slice(w, chunk_id * 24 + 1, chunk_id * 24 + 32), ' ') AS chunk_text,
        |  CAST(len(list_slice(w, chunk_id * 24 + 1, chunk_id * 24 + 32)) AS BIGINT) AS n_chunk_tokens
        |FROM c""".stripMargin,

    "q49_dedup_corpus" ->
      """WITH RECURSIVE
        |ex AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |docs2 AS (SELECT d.doc_id, d.source, d.text
        |          FROM documents d JOIN ex USING (doc_id)),
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs2),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT d1, d2 FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
        |         FROM reach GROUP BY a)
        |SELECT d2.doc_id, d2.source
        |FROM docs2 d2 LEFT JOIN comp USING (doc_id)
        |WHERE comp.component_id IS NULL OR comp.component_id = d2.doc_id""".stripMargin,

    // full Bloom replay: same single-digest md5 positions (hash r =
    // the disjoint 8-hex slice at offset 1+8r of ONE md5 per shingle,
    // the r18 engine convention, through the shared instr-polynomial),
    // the sign-bit mask via the q134 minlong trick, bit_or build,
    // 3-way word-join probe. Validated against an independent python
    // reimplementation before porting.
    "q193_bloom_decontaminate" -> {
      def mask(p: String) =
        s"CASE WHEN $p % 64 = 63 THEN -9223372036854775807 - 1 " +
          s"ELSE (1::BIGINT << CAST($p % 64 AS INT)) END"
      def hxCols = "md5(shingle || ':bf') AS hx"
      def pCols = (0 until 3).map { r =>
        s"${Md5Key.hexToLongAt("hx", 1 + 8 * r, 8)} % 131072 AS p$r" }.mkString(", ")
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |           FROM documents),
         |sh AS (SELECT doc_id, source,
         |         unnest(list_distinct(list_transform(range(len(w) - 2),
         |           i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
         |       FROM d WHERE len(w) >= 3),
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
         |bhx AS (SELECT shingle, $hxCols FROM bench),
         |bp AS (SELECT shingle, $pCols FROM bhx),
         |bw AS (SELECT pos // 64 AS word, ${mask("pos")} AS bitv
         |       FROM (SELECT unnest([p0, p1, p2]) AS pos FROM bp) u),
         |bits AS (SELECT word, bit_or(bitv) AS bits FROM bw GROUP BY word),
         |phx AS (SELECT doc_id, shingle, $hxCols
         |        FROM sh WHERE source != 'src0'),
         |pr AS (SELECT doc_id, shingle, $pCols FROM phx),
         |h AS (SELECT doc_id,
         |        (coalesce(b0.bits & ${mask("p0")}, 0) != 0
         |         AND coalesce(b1.bits & ${mask("p1")}, 0) != 0
         |         AND coalesce(b2.bits & ${mask("p2")}, 0) != 0) AS maybe
         |      FROM pr
         |      LEFT JOIN bits b0 ON p0 // 64 = b0.word
         |      LEFT JOIN bits b1 ON p1 // 64 = b1.word
         |      LEFT JOIN bits b2 ON p2 // 64 = b2.word)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
         |  (sum(CASE WHEN maybe THEN 1 ELSE 0 END) >= 3) AS flagged_bloom
         |FROM h GROUP BY doc_id""".stripMargin
    },

    "q48_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(range(len(w) - 2),
        |      i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents) d
        |  WHERE len(w) >= 3),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0')
        |SELECT doc_id, count(*) AS n_overlap
        |FROM sh JOIN bench USING (shingle)
        |WHERE source != 'src0'
        |GROUP BY doc_id
        |HAVING count(*) >= 3""".stripMargin,

    "q47_repetition" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(len(w) - 1),
        |      i -> w[i+1] || ' ' || w[i+2])) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
        |  WHERE len(w) >= 2),
        |c AS (SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(max(c) AS BIGINT) AS top_bigram_n,
        |  CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_ratio
        |FROM c GROUP BY doc_id""".stripMargin,

    "q39_dedup_clusters" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT d1, d2 FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, least(a, min(b)) AS component_id
        |FROM reach GROUP BY a""".stripMargin,

    // q39's closure + per-component argmax by (n_tokens, doc_id
    // tiebreak) — the longest-copy survivor policy
    "q140_survivor_pick" ->
      """WITH RECURSIVE
        |d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |        i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |      FROM d WHERE len(w) >= 3),
        |n AS (SELECT doc_id, count(*) AS ns FROM s GROUP BY doc_id),
        |c AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        |      FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2),
        |p AS (SELECT d1, d2 FROM c JOIN n n1 ON d1 = n1.doc_id JOIN n n2 ON d2 = n2.doc_id
        |      WHERE CAST(common AS DOUBLE) / (n1.ns + n2.ns - common) >= 0.6),
        |edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION
        |                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id
        |         FROM reach GROUP BY a),
        |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM d)
        |SELECT component_id, doc_id AS survivor_id, n_tokens
        |FROM (SELECT comp.component_id, comp.doc_id, t.n_tokens,
        |        row_number() OVER (PARTITION BY comp.component_id
        |          ORDER BY t.n_tokens DESC, comp.doc_id) AS rk
        |      FROM comp JOIN t USING (doc_id))
        |WHERE rk = 1""".stripMargin,

    // PINNED expected values for the sf0.01 fixture + fixed seeds
    // (the LSH side uses Spark's xxhash64, which DuckDB cannot
    // reproduce; recall is written as the same integer division Spark
    // performs). MinHash at 16 hashes / 4 bands recovers the full
    // exact pair set here (25/25); simhash hamming<=6 finds 20 of the
    // 25 exact near-dups with no false positives (20 of 20 approx
    // pairs are true pairs).
    "q60_minhash_recall" ->
      """SELECT CAST(25 AS BIGINT) AS n_exact, CAST(25 AS BIGINT) AS n_approx,
        |  CAST(25 AS BIGINT) AS n_hits,
        |  CAST(25 AS DOUBLE)/CAST(25 AS DOUBLE) AS recall""".stripMargin,
    "q61_simhash_agreement" ->
      """SELECT CAST(25 AS BIGINT) AS n_exact, CAST(20 AS BIGINT) AS n_approx,
        |  CAST(20 AS BIGINT) AS n_hits,
        |  CAST(20 AS DOUBLE)/CAST(25 AS DOUBLE) AS recall""".stripMargin,

    "q63_clean_corpus" ->
      s"""WITH sig AS (
         |  SELECT doc_id, source,
         |    len(string_split(text, ' ')) AS n_tokens_ws,
         |    length(text) AS n_chars_m,
         |    len(regexp_extract_all(text, '$STOP_EN')) AS score_en,
         |    len(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct_hits,
         |    len(regexp_extract_all(text, '\\b(el|la|de|que|y|en|los)\\b')) AS score_es,
         |    len(regexp_extract_all(text, '\\b(le|la|de|et|les|des|un)\\b')) AS score_fr,
         |    len(regexp_extract_all(text, '\\b(der|die|und|das|von|mit|ein)\\b')) AS score_de
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source, n_tokens_ws,
         |    (least(CAST(n_tokens_ws AS DOUBLE) / 100.0, 1.0)
         |     + least((CAST(score_en AS DOUBLE) / n_tokens_ws) * 5.0, 1.0)
         |     + (1.0 - CAST(punct_hits AS DOUBLE) / greatest(n_chars_m, 1))) / 3.0 AS quality_score,
         |    CASE WHEN score_en >= score_es AND score_en >= score_fr AND score_en >= score_de AND score_en > 0 THEN 'en'
         |         WHEN score_es >= score_fr AND score_es >= score_de AND score_es > 0 THEN 'es'
         |         WHEN score_fr >= score_de AND score_fr > 0 THEN 'fr'
         |         WHEN score_de > 0 THEN 'de'
         |         ELSE 'unknown' END AS lang_pred
         |  FROM sig),
         |b AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(len(w) - 1),
         |      i -> w[i+1] || ' ' || w[i+2])) AS bigram
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d
         |  WHERE len(w) >= 2),
         |c AS (SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2),
         |r AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_ratio
         |      FROM c GROUP BY doc_id)
         |SELECT q.doc_id, q.source, q.n_tokens_ws, q.quality_score, q.lang_pred, r.top_ratio
         |FROM q LEFT JOIN r ON q.doc_id = r.doc_id
         |WHERE q.n_tokens_ws BETWEEN 20 AND 95 AND q.quality_score >= 0.55
         |  AND q.lang_pred = 'en' AND coalesce(r.top_ratio, 1.0) <= 0.12""".stripMargin,

    // q62's replay + the hot-shingle exclusion: df measured over
    // corpus ∪ exact-novel delta (the operator's both-sides rule),
    // shingles above the cap drop from BOTH index and sizes
    "q105_delta_dedup_capped" ->
      """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
        |           FROM documents WHERE doc_id < 1000),
        |delta AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM d WHERE doc_id % 5 != 0),
        |en AS (SELECT * FROM delta
        |       WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
        |sc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM corpus WHERE len(w) >= 3),
        |sd AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM en WHERE len(w) >= 3),
        |hot AS (SELECT shingle FROM (
        |          SELECT shingle, count(*) AS df FROM (
        |            SELECT * FROM sc UNION ALL SELECT * FROM sd) t
        |          GROUP BY shingle) f
        |        WHERE df > 2),
        |sc2 AS (SELECT * FROM sc WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |sd2 AS (SELECT * FROM sd WHERE shingle NOT IN (SELECT shingle FROM hot)),
        |nc AS (SELECT doc_id, count(*) AS ns FROM sc2 GROUP BY doc_id),
        |nd AS (SELECT doc_id, count(*) AS ns FROM sd2 GROUP BY doc_id),
        |common AS (SELECT sc2.doc_id AS c_id, sd2.doc_id AS d_id, count(*) AS cm
        |           FROM sc2 JOIN sd2 ON sc2.shingle = sd2.shingle GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT d_id FROM common
        |        JOIN nc ON common.c_id = nc.doc_id
        |        JOIN nd ON common.d_id = nd.doc_id
        |        WHERE CAST(cm AS DOUBLE) / (nc.ns + nd.ns - cm) >= 0.6)
        |SELECT doc_id, source FROM en
        |WHERE doc_id NOT IN (SELECT d_id FROM dup)""".stripMargin,

    "q62_delta_dedup" ->
      """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
        |           FROM documents),
        |delta AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM d WHERE doc_id % 5 != 0),
        |en AS (SELECT * FROM delta
        |       WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
        |sc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM corpus WHERE len(w) >= 3),
        |sd AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM en WHERE len(w) >= 3),
        |nc AS (SELECT doc_id, count(*) AS ns FROM sc GROUP BY doc_id),
        |nd AS (SELECT doc_id, count(*) AS ns FROM sd GROUP BY doc_id),
        |common AS (SELECT sc.doc_id AS c_id, sd.doc_id AS d_id, count(*) AS cm
        |           FROM sc JOIN sd ON sc.shingle = sd.shingle GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT d_id FROM common
        |        JOIN nc ON common.c_id = nc.doc_id
        |        JOIN nd ON common.d_id = nd.doc_id
        |        WHERE CAST(cm AS DOUBLE) / (nc.ns + nd.ns - cm) >= 0.6)
        |SELECT doc_id, source FROM en
        |WHERE doc_id NOT IN (SELECT d_id FROM dup)""".stripMargin,
    // q62's replay with the second (containment) gate OR'd into the
    // dup predicate: cm*1000//nd >= 250 over the same string-shingle
    // universe. Same 64-bit-hash-vs-string collision caveat as
    // q34/q105/q127 (~1e-10 at fixture scale); hash-matches on the
    // fixture.
    "q135_delta_containment" ->
      """WITH d AS (SELECT doc_id, source, text, string_split(text, ' ') AS w
        |           FROM documents),
        |delta AS (SELECT * FROM d WHERE doc_id % 5 = 0),
        |corpus AS (SELECT * FROM d WHERE doc_id % 5 != 0),
        |en AS (SELECT * FROM delta
        |       WHERE md5(text) NOT IN (SELECT md5(text) FROM corpus)),
        |sc AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM corpus WHERE len(w) >= 3),
        |sd AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 2),
        |         i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS shingle
        |       FROM en WHERE len(w) >= 3),
        |nc AS (SELECT doc_id, count(*) AS ns FROM sc GROUP BY doc_id),
        |nd AS (SELECT doc_id, count(*) AS ns FROM sd GROUP BY doc_id),
        |common AS (SELECT sc.doc_id AS c_id, sd.doc_id AS d_id, count(*) AS cm
        |           FROM sc JOIN sd ON sc.shingle = sd.shingle GROUP BY 1, 2),
        |dup AS (SELECT DISTINCT d_id FROM common
        |        JOIN nc ON common.c_id = nc.doc_id
        |        JOIN nd ON common.d_id = nd.doc_id
        |        WHERE CAST(cm AS DOUBLE) / (nc.ns + nd.ns - cm) >= 0.6
        |           OR cm * 1000 // nd.ns >= 250)
        |SELECT doc_id, source FROM en
        |WHERE doc_id NOT IN (SELECT d_id FROM dup)""".stripMargin,

    // concat-and-chunk packing: pure integer arithmetic over an
    // exclusive per-source running sum — engine-order-free
    "q71_pack_sequences" ->
      """WITH d AS (SELECT source, doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |           FROM documents),
        |s AS (SELECT source, doc_id, n,
        |        CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
        |      FROM d),
        |f AS (SELECT source, doc_id, n, st,
        |        unnest(range(st // 64, (st + n - 1) // 64 + 1)) AS seq_id
        |      FROM s WHERE n > 0)
        |SELECT source, doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(seq_id * 64, st) - st AS BIGINT) AS frag_start,
        |  CAST(least((seq_id + 1) * 64, st + n) - greatest(seq_id * 64, st) AS BIGINT) AS frag_len,
        |  CAST(greatest(seq_id * 64, st) % 64 AS BIGINT) AS seq_offset
        |FROM f""".stripMargin,

    // BM25 with the log-free rational idf and the SAME literal
    // association as the Spark side (tf*1.2 + tf, fixed per-term sum
    // order) — every FP op is an integer-input IEEE op both engines
    // perform identically; only integer ranks reach the hash
    "q72_bm25_topk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM d),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |t AS (SELECT doc_id, unnest(w) AS term FROM d),
        |qt AS (SELECT doc_id, term FROM t
        |       WHERE term IN ('spark', 'join', 'window')),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |       FROM qt GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |       FROM qt GROUP BY 1),
        |s AS (SELECT tf.doc_id, tf.term,
        |        ((n_docs - df + 0.5) / (df + 0.5)) *
        |        ((tf * 1.2 + tf) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) AS sc
        |      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
        |agg AS (SELECT doc_id,
        |          coalesce(sum(sc) FILTER (WHERE term = 'spark'), 0.0)
        |          + coalesce(sum(sc) FILTER (WHERE term = 'join'), 0.0)
        |          + coalesce(sum(sc) FILTER (WHERE term = 'window'), 0.0) AS score
        |        FROM s GROUP BY doc_id)
        |SELECT doc_id, rank FROM (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
        |  FROM agg) x
        |WHERE rank <= 10""".stripMargin,

    // exact integer weighting (w = min(tf,1000)·(10000//df), df<=50)
    // and the algebraic threshold compare (dot²·100² >= (100t)²·ss1·ss2)
    // reproduce the Spark side bit-for-bit: every quantity is integer
    // arithmetic — HUGEINT here, DECIMAL there — so the hash gate sees
    // no float at all
    "q77_tfidf_pairs" ->
      """WITH terms AS (
        |  SELECT doc_id, term, least(count(*), 1000) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents) t
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
        |w AS (
        |  SELECT doc_id, t.term, CAST(tf * (10000 // df) AS HUGEINT) AS w
        |  FROM terms t JOIN dfreq USING (term)
        |  WHERE df <= 50 AND tf * (10000 // df) > 0),
        |ss AS (SELECT doc_id, sum(w*w) AS ss FROM w GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         CAST(count(*) AS BIGINT) AS n_common, sum(a.w*b.w) AS dot
        |  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, n_common, CAST(dot AS BIGINT) AS wdot
        |FROM pairs
        |JOIN ss s1 ON d1 = s1.doc_id
        |JOIN ss s2 ON d2 = s2.doc_id
        |WHERE dot > 0 AND dot*dot*10000 >= 2500 * s1.ss * s2.ss""".stripMargin,

    // md5 permutation + hex-nibble bucket + per-shard row_number: all
    // string/integer ops, replayed verbatim — proving the train order
    // really is engine/cluster-independent
    "q79_train_order" ->
      """WITH o AS (SELECT doc_id,
        |             md5(CAST(doc_id AS VARCHAR) || ':' || '42') AS okey
        |           FROM documents),
        |b AS (SELECT doc_id, okey,
        |        ((strpos('0123456789abcdef', substr(okey, 1, 1)) - 1) * 16
        |         + strpos('0123456789abcdef', substr(okey, 2, 1)) - 1) % 8 AS shard
        |      FROM o)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id)
        |       AS BIGINT) AS pos,
        |  okey
        |FROM b""".stripMargin
  )
}
