package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline,
  * over a `documents(doc_id, text, ...)` table.
  *
  * Everything here is built-in Catalyst expressions (split /
  * regexp_extract_all / higher-order array functions) — codegen'd,
  * shuffle-free, embarrassingly parallel per row: the exact shape you
  * want when scoring 100 TB of text, where any per-row UDF or Python
  * boundary would dominate the run time.
  */
object TextAnalysis {

  /** Language stopword profiles for the n-gram/function-word heuristic.
    * Word-boundary alternation keeps counting a single regex pass. */
  val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|a|of|to|in|and|is)\\b",
    "es" -> "\\b(el|la|de|que|y|en|los)\\b",
    "fr" -> "\\b(le|la|de|et|les|des|un)\\b",
    "de" -> "\\b(der|die|und|das|von|mit|ein)\\b")

  private val punctPattern = "[^a-z0-9 ]"
  /** BPE-ish pre-tokenizer: letter runs | digit runs | single symbol. */
  private val bpeishPattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  def words(text: Column): Column = split(text, " ")

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def withTokenCounts(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("n_tokens_ws", size(words(col(text))))
      .withColumn("n_tokens_re",
        size(regexp_extract_all(col(text), lit(bpeishPattern), lit(0))))

  /** Heuristic quality scoring: length / stopword / punctuation signals
    * combined with a fixed, deterministic arithmetic order (documented
    * so the DuckDB oracle can reproduce it bit-for-bit). */
  def withQualityScore(df: DataFrame, text: String = "text"): DataFrame = {
    val t = col(text)
    df.withColumn("n_words", size(words(t)))
      .withColumn("n_chars_m", length(t))
      .withColumn("mean_word_len",
        (col("n_chars_m") - (col("n_words") - 1)).cast("double") / col("n_words"))
      .withColumn("stop_hits",
        size(regexp_extract_all(t, lit(langProfiles.head._2), lit(0))))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_words"))
      .withColumn("punct_ratio",
        // greatest(..,1): empty text must score 0, not raise ANSI
        // divide-by-zero (empty rows are guaranteed at corpus scale)
        size(regexp_extract_all(t, lit(punctPattern), lit(0))).cast("double") /
          greatest(col("n_chars_m"), lit(1)))
      .withColumn("quality_score",
        (least(col("n_words").cast("double") / 100.0, lit(1.0)) +
          least(col("stop_ratio") * 5.0, lit(1.0)) +
          (lit(1.0) - col("punct_ratio"))) / 3.0)
  }

  /** Language ID: one regex-count per profile, argmax with a fixed
    * priority order (en > es > fr > de) and 'unknown' when no profile
    * matches at all. */
  def withLanguageId(df: DataFrame, text: String = "text"): DataFrame = {
    val scored = langProfiles.foldLeft(df) { case (d, (code, pat)) =>
      d.withColumn(s"score_$code",
        size(regexp_extract_all(col(text), lit(pat), lit(0))).cast("long"))
    }
    val Seq(en, es, fr, de) = langProfiles.map(p => col(s"score_${p._1}"))
    scored.withColumn("lang_pred",
      when(en >= es && en >= fr && en >= de && en > 0, "en")
        .when(es >= fr && es >= de && es > 0, "es")
        .when(fr >= de && fr > 0, "fr")
        .when(de > 0, "de")
        .otherwise("unknown"))
  }

  /** Document chunking: split each doc into fixed-size token windows
    * with `overlap` tokens of context between consecutive chunks — the
    * preprocessing splitter for pretraining/RAG pipelines. One row per
    * (doc, chunk); chunk count = ceil((n − overlap) / step) with
    * step = chunkTokens − overlap, always ≥ 1 (short docs become one
    * whole-doc chunk). Pure per-row array work + one explode: no
    * shuffle, embarrassingly parallel — integer arithmetic only, so
    * chunk boundaries are deterministic cross-engine. */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 128,
                overlap: Int = 16, text: String = "text"): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      s"need chunkTokens > overlap >= 0, got $chunkTokens/$overlap")
    val step = chunkTokens - overlap
    // let-bind the words array (CollapseProject re-split trap)
    val chunksExpr = transform(array(words(col(text))), w => {
      // floor((n - overlap + step - 1) / step) over positive ints:
      // double-divide + floor is exact here (operands << 2^53) and
      // matches DuckDB's integer `//`
      val nChunks = greatest(lit(1L),
        floor((size(w).cast("long") - overlap + step - 1) / lit(step)).cast("long"))
      transform(sequence(lit(0L), nChunks - 1), i =>
        slice(w, (i * step + 1).cast("int"), lit(chunkTokens)))
    }).getItem(0)
    docs
      .select(col("doc_id"), posexplode(chunksExpr).as(Seq("chunk_id", "cw")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        concat_ws(" ", col("cw")).as("chunk_text"),
        size(col("cw")).cast("long").as("n_chunk_tokens"))
  }

  /** Chunk-level duplicate detection: the sub-document counterpart of
    * exact dedup — boilerplate paragraphs (headers, license blocks,
    * navigation text) repeat ACROSS documents whose full texts are
    * unique, so document-level dedup never sees them. Chunk the corpus
    * ([[chunkDocs]]), hash each chunk, count how many of a doc's
    * chunks also occur in at least `minDocs − 1` OTHER docs, and
    * return the docs with at least `minDupChunks` such chunks —
    * the candidates for boilerplate scrubbing.
    *
    * Scale shape: chunk hashes are md5 longs-equivalent (string keyed
    * once), the per-hash doc frequency is a map-side-combinable
    * distinct-count, and the flagged join is hash-keyed — one explode
    * + two aggregations, no self-join, so cost is linear in chunk
    * volume. */
  def dupChunkDocs(docs: DataFrame, chunkTokens: Int = 32, overlap: Int = 0,
                   minDocs: Int = 2, minDupChunks: Int = 2,
                   text: String = "text"): DataFrame = {
    val chunks = chunkDocs(docs, chunkTokens, overlap, text)
      .select(col("doc_id"), md5(col("chunk_text")).as("chunk_md5"))
      // a chunk repeated WITHIN one doc is in-doc repetition
      // (bigramRepetition's beat) — here only cross-doc sharing counts
      .distinct()
    val shared = chunks.groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_docs_with_chunk"))
      .filter(col("n_docs_with_chunk") >= minDocs)
    chunks.join(shared, Seq("chunk_md5"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_chunks"))
      .filter(col("n_dup_chunks") >= minDupChunks)
  }

  /** Global passage-level dedup with reassembly (the CCNet/C4
    * paragraph-dedup shape): chunk the corpus into fixed token windows
    * ([[chunkDocs]], overlap 0), keep only the globally-FIRST
    * occurrence of each distinct chunk content (order = (doc_id,
    * chunk_id) — deterministic on any cluster), and rebuild each doc
    * from its surviving chunks in order. Removes boilerplate the
    * document-level dedup family can't touch ([[dupChunkDocs]] only
    * *detects* it; this operator scrubs it), including repeats WITHIN
    * one document.
    *
    * Scale shape: two shuffles — one on the chunk hash (the
    * first-occurrence window; balanced, since hot identical chunks all
    * collapse onto single keys with tiny payloads after the hash), one
    * back on doc_id for reassembly. The chunk text rides both (it is
    * needed to rebuild); an ids-only variant would re-join text by
    * (doc_id, chunk_id) and trade a third shuffle for narrower rows —
    * worth it only when chunks are huge.
    *
    * Output: (doc_id, n_chunks, n_kept, pruned_text), docs whose every
    * chunk was pruned drop out (their content survives elsewhere). */
  def prunePassages(docs: DataFrame, chunkTokens: Int = 32,
                    text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ch = chunkDocs(docs, chunkTokens, overlap = 0, text = text)
    val firstSeen = Window.partitionBy(md5(col("chunk_text")))
      .orderBy(col("doc_id"), col("chunk_id"))
    val counts = ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val rebuilt = ch
      .withColumn("rn", row_number().over(firstSeen))
      .filter(col("rn") === 1)
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        // collect_list order is nondeterministic — sort by chunk_id
        // (struct sort: first field ascending) before joining back
        expr("array_join(transform(array_sort(collect_list(struct(chunk_id, chunk_text))), x -> x.chunk_text), ' ')")
          .as("pruned_text"))
    counts.join(rebuilt, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("pruned_text"))
  }

  /** Any-offset duplicate-SPAN detection — the exact-substring-dedup
    * shape (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better"): every stride-1 window of `windowTokens`
    * tokens is hashed; a window occurring in >= `minDocs` distinct
    * docs marks its positions duplicated; per doc, overlapping or
    * adjacent matched windows coalesce (gaps-and-islands) into MAXIMAL
    * spans `[span_start, span_end)` in token coordinates. Catches
    * duplicated passages at ANY alignment — [[dupChunkDocs]] only sees
    * boundary-aligned chunks, so a one-token offset hides a duplicate
    * from it but not from this operator.
    *
    * Scale shape — the reason this formulation wins at 100 TB: there
    * is NO pairwise work anywhere. Window rows are linear in corpus
    * tokens (one row per token position, ids+hash only — the text
    * never rides the shuffle); the df count is one hash-keyed
    * aggregate (hot boilerplate windows collapse onto single keys with
    * count-only payloads, so skew concentrates into cheap partial
    * counts, not joins); the semi-join back is on the same key; the
    * islands pass is one per-doc window over MATCHED positions only
    * (a small fraction of the corpus). Compare the pair-based family
    * ([[Dedup.ngramJaccardPairs]]) where hot shingles explode
    * quadratically and need a df cap — here a hot window costs its
    * row count, nothing more.
    *
    * Positions are 0-based; `span_end` is exclusive; two matched
    * windows at positions p < p' merge iff p' - p <= windowTokens
    * (overlap OR exact adjacency — either way the duplicated token
    * range is contiguous). All-integer output, engine-replayable. */
  def dupSpans(docs: DataFrame, windowTokens: Int = 15, minDocs: Int = 2,
               text: String = "text"): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1: $windowTokens")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-doc sharing): $minDocs")
    import org.apache.spark.sql.expressions.Window
    val L = windowTokens
    // (doc_id, pos, h): 64-bit hash of the window's joined text.
    // transform + posexplode keeps it one codegen'd projection per
    // row; slice is 1-based, positions 0-based. r21: xxhash64, not
    // md5 — the fingerprint never reaches the output (only WHICH
    // positions are shared does), so this is the shingle_hashes
    // approximation (64-bit collisions ~1e-8 at 1M windows) applied
    // where it already pays: no crypto digest per window, and the
    // groupBy shuffles an 8-byte key instead of a 32-char hex string
    // on the biggest frame in the plan. The oracle replays the same
    // sharing decision over md5 windows — equal output unless a
    // 64-bit collision flips a decision, the accepted trade
    // everywhere else in the dedup family.
    val wins = docs
      .select(col("doc_id"), words(col(text)).as("w"))
      .filter(size(col("w")) >= L)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(w) - $L), i -> xxhash64(concat_ws(' ', slice(w, i + 1, $L))))"))
          .as(Seq("pos", "h")))
    // a window repeated only WITHIN one doc is in-doc repetition
    // (bigramRepetition's beat) — distinct doc count decides sharing.
    // For the minDocs=2 default, "≥2 distinct docs" ⟺ min(doc) ≠
    // max(doc): ONE combinable aggregate over the window rows, no
    // distinct pre-shuffle and no count-distinct Expand — on the
    // biggest frame in the plan, that is the shuffle that matters.
    val shared =
      if (minDocs == 2)
        wins.groupBy("h")
          .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
          .filter(col("lo") =!= col("hi"))
          .select("h")
      else
        wins.select("h", "doc_id").distinct()
          .groupBy("h").agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") >= minDocs)
          .select("h")
    // pos rides as long from here on (posexplode emits int; the span
    // arithmetic and the cross-engine gate both want BIGINT).
    // (doc_id, pos) is unique by construction — one window per
    // position — so no dedup is needed after the semi-join.
    val matched = wins.join(shared, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("pos"))
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    matched
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byPos) <= L, lit(0))
          .otherwise(lit(1)))
      .withColumn("g", sum(col("brk")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(L)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Per-source corpus health report — the one-page stats every
    * pipeline run records next to its output (and [[graft.CorpusMain]]
    * emits per corpus): doc/token volume, mean doc length, language
    * share, exact-duplicate volume. All columns derive from integer
    * counts (the mean is one IEEE division), keeping the row
    * hash-stable cross-engine; per-row doubles like quality_score
    * stay out (a float SUM is partition-order-dependent — the repo's
    * oracle-parity rule). One scan, map-side-combinable aggregates. */
  def corpusStats(docs: DataFrame, text: String = "text"): DataFrame =
    withLanguageId(docs, text)
      .withColumn("n_tokens", size(words(col(text))).cast("long"))
      .withColumn("content_md5", md5(col(text)))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("content_md5").as("n_distinct_texts"),
        count(when(col("lang_pred") === "en", 1)).as("n_en_docs"))
      .withColumn("mean_doc_tokens",
        col("total_tokens").cast("double") / col("n_docs"))
      .withColumn("n_exact_dup_docs", col("n_docs") - col("n_distinct_texts"))
      .select("source", "n_docs", "total_tokens", "mean_doc_tokens",
        "n_en_docs", "n_distinct_texts", "n_exact_dup_docs")

  /** Repetition/boilerplate signal: bigram concentration — the share
    * of a doc's word bigrams taken by its single most frequent bigram
    * (a Gopher-style repetition filter; boilerplate and looped text
    * score high, natural prose low). Explode + two map-side-combinable
    * aggregations; exact integers with one final IEEE division, so the
    * ratio is deterministic cross-engine. Docs with < 2 words have no
    * bigram support and drop out (same convention as shingles). */
  def bigramRepetition(docs: DataFrame, text: String = "text"): DataFrame = {
    // let-bind the split array (CollapseProject would re-split per
    // element access otherwise — see shingleExpr)
    val bigramsExpr = transform(array(words(col(text))), w =>
      when(size(w) >= 2,
        transform(sequence(lit(0), size(w) - 2), i =>
          concat_ws(" ", element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array().cast("array<string>"))
    ).getItem(0)
    docs
      .select(col("doc_id"), explode(bigramsExpr).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_bigrams"),
        max("c").as("top_bigram_n"))
      .withColumn("top_ratio",
        col("top_bigram_n").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Corpus bigram language model: (w1, w2) → c12 (pair count), c1
    * (context count = Σ_w2 c12), and the scaled conditional
    * probability p_scaled = ⌊c12·10⁶ / c1⌋ — exact integers end to
    * end, so the model replays bit-identically on any engine (ln- or
    * float-probability LMs cannot face a cross-engine hash gate).
    * Pairs below `minCount` are floored out — the long tail carries
    * no estimation signal and dominates the model's cardinality.
    *
    * Scale: bigram extraction is ONE in-row list transform per doc (no
    * positional self-join — the q128 stance), both counts are
    * map-side-combinable aggregations, and the model's size is bounded
    * by the corpus's distinct floored-pair vocabulary, orders of
    * magnitude below token volume. */
  def bigramModel(docs: DataFrame, minCount: Long = 3L,
                  text: String = "text"): DataFrame = {
    val bi = docs
      .select(words(col(text)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> " +
          "named_struct('w1', element_at(w, i + 1), 'w2', element_at(w, i + 2)))"))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    c12.filter(col("c12") >= minCount)
      .join(c1, "w1")
      .withColumn("p_scaled", expr("c12 * 1000000 div c1"))
      .select("w1", "w2", "c12", "c1", "p_scaled")
  }

  /** LM-based document quality scoring (the CCNet/KenLM perplexity
    * filter re-expressed hash-safely): each doc's mean scaled bigram
    * probability under a corpus [[bigramModel]] — low scores mark
    * gibberish, boilerplate-free noise, and out-of-domain text whose
    * word transitions the corpus model never sees. True perplexity
    * exponentiates a float log-likelihood sum (order-dependent AND
    * transcendental — two hash-gate killers); the mean of exact
    * integer p_scaled values is monotone-equivalent for thresholding
    * at a fixed length and replays bit-identically. Bigrams absent
    * from the floored model contribute 0 — unseen transitions ARE the
    * low-quality signal.
    *
    * Plan: per-doc bigrams are the same one in-row transform, the
    * model join keys on (w1, w2) — both sides shuffle once on the pair
    * key (the model side is model-cardinality-sized, never token
    * volume) — and the score fold is a combinable per-doc aggregate.
    * p_sum ≤ 10⁶ · doc bigram count, so int64 holds to ~9·10¹²-bigram
    * documents. */
  def lmMeanScore(docs: DataFrame, model: DataFrame,
                  text: String = "text"): DataFrame = {
    val db = docs
      .select(col("doc_id"), words(col(text)).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> " +
          "named_struct('w1', element_at(w, i + 1), 'w2', element_at(w, i + 2)))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    db.join(model.select("w1", "w2", "p_scaled"), Seq("w1", "w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_scaled"), lit(0L))).as("p_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("p_sum div n_bigrams").as("lm_score"))
  }

  /** Tokenizer-vocabulary coverage audit: per (lang, source) stratum,
    * the exact permille of whitespace tokens falling OUTSIDE the
    * corpus's top-`vocabSize` terms by total count — the
    * out-of-vocabulary rate that decides whether a fixed vocabulary
    * (or BPE merge table) covers a candidate source before it is
    * mixed in. High-OOV strata fragment into long byte-level token
    * sequences and waste sequence budget.
    *
    * The vocabulary is a TOTAL order pick — (count desc, term) — so
    * the rank-`vocabSize` boundary tie is engine-reproducible. Plan:
    * one token explode feeding a combinable term count, the top-k via
    * TakeOrderedAndProject on the aggregated (distinct-term-sized)
    * frame, then the membership join BROADCASTS the k-row vocab
    * against the token stream at scan parallelism — no token-volume
    * shuffle anywhere; the stratum roll-up is a ≤ langs×sources
    * combinable aggregate. */
  def oovRate(docs: DataFrame, vocabSize: Int = 1000,
              text: String = "text"): DataFrame = {
    val toks = docs.select(col("lang"), col("source"),
      explode(words(col(text))).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("term"), "left")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_permille", expr("n_oov * 1000 div n_tokens"))
  }

  /** Per-term document frequency over the corpus — the corpus-level
    * statistic behind IDF weighting, stopword induction, and hot-
    * shingle capping. One explode + one map-side-combinable count;
    * terms are distinct-per-doc first so a term repeated in one doc
    * counts once. */
  def termDocFreq(docs: DataFrame, text: String = "text"): DataFrame =
    docs.select(explode(array_distinct(words(col(text)))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))

  /** Inverted index: term → (df, bounded posting HEAD — the first
    * `postingCap` doc ids ascending) for terms with df ≥ minDf — the
    * retrieval-side complement of [[termDocFreq]] and the structure
    * behind the keyword leg of hybrid search.
    *
    * The cap is on POSTING LENGTH, not document frequency: a df band
    * assumes a Zipfian vocabulary (and goes vacuous on corpora without
    * one), whereas bounding the emitted head caps every output row at
    * `postingCap` ids for ANY df. The head is extracted by
    * `bounded_min_k` ([[graft.functions.BoundedMinK]]), whose agg
    * state is k-capped at every plan stage — map-side partials already
    * discard past the local top-k, so a stopword's posting never
    * concentrates on one task (the window/row_number formulation
    * would) and never materializes an unbounded collect_list buffer.
    * Full df still rides alongside as a plain count. Heads are sorted,
    * so each row is a pure function of the corpus multiset —
    * deterministic on any partitioning; at real scale the tail lives
    * in further `postings_part_N` segments, the head is the hot tier. */
  def invertedIndex(docs: DataFrame, minDf: Long, postingCap: Int,
                    text: String = "text"): DataFrame = {
    require(minDf > 0 && postingCap > 0, s"need positive dials: $minDf, $postingCap")
    graft.functions.BoundedMinK.register(docs.sparkSession)
    docs.select(col("doc_id"), explode(array_distinct(words(col(text)))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        expr(s"array_join(transform(bounded_min_k(doc_id, $postingCap), " +
          "x -> cast(x as string)), ',')").as("postings_head"))
      .filter(col("df") >= minDf)
  }

  /** Exact phrase search over positional postings — the positional
    * generalization of [[invertedIndex]]: where that operator answers
    * "which docs contain term t", this answers "which docs contain
    * the CONSECUTIVE token sequence t₀ t₁ … tₗ₋₁", the classic
    * positional-index query (Manning et al., IR ch. 2).
    *
    * `phrase` is a slot frame (slot, term) — slot i must match at
    * token offset anchor+i. The match is pure position arithmetic:
    * a token at position p matching slot i votes for anchor p − i,
    * and an anchor with all L DISTINCT slots present is an exact
    * occurrence (repeated phrase terms work: each slot needs its own
    * position, and one token can satisfy two slots only at two
    * different anchors). Emits (doc_id, n_occ, first_pos).
    *
    * Scale: the token stream is filtered to the phrase's terms by the
    * broadcast slot join BEFORE anything shuffles — selectivity
    * L/|vocab| — so the one exchange (doc_id, anchor) carries only
    * candidate votes, each ≤ L rows per matching token, never the
    * corpus token volume. No self-join, no array scan per doc pair;
    * with postings persisted term-partitioned, the same plan reads
    * only the L posting lists. */
  def phraseOccurrences(docs: DataFrame, phrase: DataFrame, phraseLen: Int,
                        text: String = "text"): DataFrame = {
    // phraseLen is a caller-supplied constant (not phrase.count()) so
    // a derived phrase frame — e.g. q163's top-trigram — is not
    // executed twice just to learn its length
    val len = phraseLen
    require(len > 0, "phrase must have at least one slot")
    docs
      .select(col("doc_id"), posexplode(words(col(text))).as(Seq("pos", "term")))
      .join(broadcast(phrase), Seq("term"))
      .select(col("doc_id"), (col("pos") - col("slot")).as("anchor"),
        col("slot"))
      .groupBy("doc_id", "anchor")
      .agg(countDistinct(col("slot")).as("nslots"))
      .filter(col("nslots") === len && col("anchor") >= 0)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"),
        min(col("anchor")).cast("long").as("first_pos"))
  }

  /** Proximity (slop) search: per document, the MINIMAL token-window
    * span covering one occurrence of EACH of `numTerms` query terms,
    * in any order — Lucene's SpanNear / the "terms near each other"
    * relaxation of [[phraseOccurrences]]' exact consecutive match.
    *
    * Plan: the token stream is cut to the query terms by a broadcast
    * slot join (the q163 shape), then ONE aggregate pass collects
    * each term's positions per doc through
    * `bounded_min_k(CASE WHEN slot=i THEN pos END, k)` — `numTerms`
    * k-capped ascending position lists in a single shuffle, agg state
    * ≤ numTerms·k longs per doc at every plan stage. The min span is
    * an IN-ROW higher-order-function reduction over the ≤ k^numTerms
    * position combos (greatest − least per combo, array_min over the
    * flatten) — no joins, no window, fully codegen'd. `numTerms` is a
    * caller-supplied constant (the [[phraseOccurrences]] phraseLen
    * convention — a derived slot frame is not executed twice just to
    * learn its arity); a slot OUTSIDE 0..numTerms−1 raises in-plan
    * instead of being silently ignored (a 4-term frame against the
    * default arity used to return plausible-but-wrong 3-term spans),
    * and the `require` bounds the in-row combo count.
    *
    * The k cap makes this FIRST-k-OCCURRENCES semantics: a doc
    * repeating a query term beyond k times scores only its first k
    * positions — the standard posting-truncation trade, deterministic
    * (positions are a pure function of the text), and mirrored
    * verbatim by the oracle's row_number ≤ k. Docs missing any term
    * are absent (all lists must be non-empty). */
  def proximityMinSpan(docs: DataFrame, slots: DataFrame, k: Int = 16,
                       numTerms: Int = 3, text: String = "text"): DataFrame = {
    require(numTerms >= 2, s"proximity needs >= 2 terms, got $numTerms")
    require(math.pow(k.toDouble, numTerms.toDouble) <= (1 << 20),
      s"k^numTerms = $k^$numTerms combos per doc exceeds the in-row " +
        "reduction budget (2^20); lower k or numTerms")
    graft.functions.BoundedMinK.register(docs.sparkSession)
    // nested flatten(transform(...)) over a0..a_{n-1}: the innermost
    // lambda sees one position from every list and emits its span
    def spanExpr(i: Int, bound: Seq[String]): String =
      if (i == numTerms - 1) {
        val xs = (bound :+ s"x$i").mkString(", ")
        s"transform(a$i, x$i -> greatest($xs) - least($xs))"
      } else s"flatten(transform(a$i, x$i -> ${spanExpr(i + 1, bound :+ s"x$i")}))"
    val aggs = (0 until numTerms).map(i =>
      expr(s"bounded_min_k(CASE WHEN slot = $i THEN pos END, $k)").as(s"a$i"))
    val allPresent = (0 until numTerms).map(i => size(col(s"a$i")) > 0)
      .reduce(_ && _)
    docs
      .select(col("doc_id"), posexplode(words(col(text))).as(Seq("pos", "term")))
      .join(broadcast(slots), Seq("term"))
      // the guard lives INSIDE the pos projection so column pruning
      // cannot drop it: an out-of-range slot row throws at scan time
      .select(col("doc_id"),
        when(col("slot").between(0, numTerms - 1), col("pos").cast("long"))
          .otherwise(expr(
            s"""cast(raise_error('proximityMinSpan: slot outside 0..${numTerms - 1} — pass numTerms matching the slot frame') as long)"""))
          .as("pos"),
        col("slot"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
      .filter(allPresent)
      .select(col("doc_id"),
        expr(s"array_min(${spanExpr(0, Nil)})").as("min_span"))
  }

  /** TF-IDF per (doc, term): tf = in-doc count, idf = ln(N/df) with
    * the corpus size N joined in as a 1-row broadcast (no driver
    * round-trip). The df side is a broadcast-able dimension for real
    * vocabularies; floats stay out of oracle hashes (rank/int outputs
    * only), so the weight is for downstream use, not the gate. */
  def withTfIdf(docs: DataFrame, text: String = "text"): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(words(col(text))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = termDocFreq(docs, text)
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
  }

  /** Sparse-vector cosine similarity join over weighted term vectors —
    * the lexical complement to [[graft.operators.Dedup.ngramJaccardPairs]]
    * (which is set-based and ignores term frequency) and to the
    * embedding paths in [[graft.operators.Similarity]] (which need a
    * model). Returns (d1, d2, n_common, wdot) for every unordered doc
    * pair whose cosine over tf×inverse-df weights meets `threshold`.
    *
    * Weighting is EXACT integer arithmetic, not tf·ln(N/df):
    * w = min(tf, tfCap) · (scale div df). The log damping is a
    * transcendental whose last ulp differs across libm implementations
    * (the [[topTermsPerDoc]] rationale), while `scale div df` is
    * bit-identical in any engine — so the whole operator, including
    * the threshold decision, is deterministic under the cross-engine
    * hash gate. The threshold compare is algebraic, no sqrt:
    * dot² · 100² ≥ (100·t)² · ss1 · ss2, evaluated in DECIMAL — and
    * outputs carry integers only. Resolution costs: thresholds
    * quantize to 0.01; terms with df ≥ scale weigh 0 and drop out
    * (self-pruning of ultra-common terms — at corpus scale exactly the
    * terms that carry no similarity signal); tf saturates at `tfCap`
    * (sublinear-tf stance, and it bounds the decimal headroom — ANSI
    * mode turns any overflow beyond the documented envelope into a
    * loud error, never a silent wrap; lower `scale` for pathological
    * inputs).
    *
    * Scale shape: the pair space is never formed — docs meet only
    * through the inverted term index (same ids-only join discipline as
    * the shingle paths), tf/df/ss are map-side-combinable aggregates,
    * and `maxDf` caps the join's worst case: a term in f docs yields
    * f·(f−1)/2 candidate rows, so stop-term df-capping is the same
    * mandatory lever as ngramJaccardPairs' maxShingleDocFreq. */
  def tfidfCosinePairs(docs: DataFrame, threshold: Double = 0.5,
                       maxDf: Option[Int] = None, scale: Int = 10000,
                       tfCap: Int = 1000, text: String = "text"): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(words(col(text))).as("term"))
      .groupBy("doc_id", "term")
      .agg(least(count(lit(1)), lit(tfCap.toLong)).as("tf"))
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val kept = maxDf.map(c => dfreq.filter(col("df") <= c)).getOrElse(dfreq)
    val w = terms.join(kept, Seq("term"))
      .withColumn("w", (col("tf") * expr(s"$scale div df"))
        .cast(org.apache.spark.sql.types.DecimalType(14, 0)))
      .filter(col("w") > 0)
      .select("doc_id", "term", "w")
    val ss = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("ss"))
    val pairs = PairPack.pairsFromPostings(w, Seq("term"), "doc_id")
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("a.w") * col("b.w")).as("dot"))
    val tN = math.round(threshold * 100)
    pairs
      .join(ss.select(col("doc_id").as("d1"), col("ss").as("ss1")), Seq("d1"))
      .join(ss.select(col("doc_id").as("d2"), col("ss").as("ss2")), Seq("d2"))
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * lit(10000L) >=
          lit(tN * tN) * col("ss1") * col("ss2"))
      .select(col("d1"), col("d2"), col("n_common"),
        col("dot").cast("long").as("wdot"))
  }

  /** Keyword extraction: the top-k terms of each document ranked by
    * frequency lift tf/df — high in-doc frequency, rare in the corpus.
    * The classic tf·idf ordering multiplies by ln(N/df); since N is a
    * constant and ln is monotone, ranking by tf·ln(N/df) vs tf/df
    * differs only in how tf and rarity trade off, and tf/df has a
    * property the oracle gate needs: the score is ONE integer-input
    * IEEE division, bit-identical across engines, whereas ln is a
    * transcendental whose last ulp differs between libm
    * implementations and can flip near-tie ranks cross-engine.
    * Output carries integer ranks + counts only (floats stay out of
    * the hash, per the repo's oracle-parity rules).
    *
    * Scale shape: tf is one map-side-combinable count keyed
    * (doc, term); df is a corpus dimension that broadcasts; the only
    * wide shuffle is the per-doc window, keyed by doc_id. */
  def topTermsPerDoc(docs: DataFrame, k: Int = 3,
                     text: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col("doc_id"), explode(words(col(text))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy("doc_id")
      .orderBy((col("tf").cast("double") / col("df")).desc, col("term").asc)
    tf.join(broadcast(termDocFreq(docs, text)), Seq("term"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "df", "rank")
  }

  /** BM25 keyword retrieval: rank documents against a bag of query
    * terms by Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) —
    * the standard sparse-retrieval scorer (and the keyword leg a hybrid
    * RAG stack runs beside vector search).
    *
    * `logIdf = true` gives the canonical Robertson/Lucene idf
    * ln(1 + (N − df + 0.5)/(df + 0.5)); the default keeps the raw
    * rational idf (N − df + 0.5)/(df + 0.5) — same monotone per-term
    * ordering, but built from integer-input IEEE divisions only, so a
    * cross-engine oracle can replay it bit-identically (ln's last ulp
    * differs between libm implementations — the q66 rationale). For
    * oracle parity the formula is also associated literally: tf·(k1+1)
    * is computed as tf·k1 + tf (1.2 + 1 rounds UNPREDICTABLY vs the
    * literal 2.2 — an exact tie in round-to-nearest), and the per-doc
    * score sums per-QUERY-TERM partial aggregates in fixed list order,
    * never in row-arrival order (FP addition does not associate).
    *
    * Scale shape: tf is one map-side-combinable count keyed
    * (doc, term) after an `isin` pushdown on the query terms; df and
    * the (N, avgdl) scalars are broadcast dimensions; the doc-length
    * join is keyed by doc_id; top-k goes through orderBy+limit
    * (TakeOrderedAndProject — per-partition heaps, no global sort). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               logIdf: Boolean = false, text: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    import org.apache.spark.sql.expressions.Window
    // ONE text scan: explode once, fold doc length AND every per-term
    // tf in the same partial-aggregated pass (a naive tf/df/dl/stats
    // split reads the text column four times — the dominant cost at
    // corpus scale, where scans are I/O-bound)
    val perDocAggs = count(lit(1)).as("dl") +:
      queryTerms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, 1L).otherwise(0L)).as(s"_tf$i") }
    // memoized: the per-doc frame feeds both the stats agg and the
    // scoring pass — without materialization each consumer re-runs the
    // scan+explode subplan (Catalyst has no cross-subplan CSE)
    val perDoc = graft.ops.Memo.of(docs.sparkSession,
      s"bm25_perdoc:$text:${queryTerms.mkString(",")}:${graft.ops.Memo.frameKey(docs)}") {
      docs
        .select(col("doc_id"), explode(words(col(text))).as("term"))
        .groupBy("doc_id")
        .agg(perDocAggs.head, perDocAggs.tail: _*)
    }
    // corpus stats + per-term document frequencies in one tiny agg
    val statAggs =
      Seq(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      queryTerms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    // per-term score, summed in fixed query-term list order (FP
    // addition does not associate; row-arrival order must not matter)
    def termScore(i: Int): Column = {
      val tf = col(s"_tf$i"); val df = col(s"_df$i")
      val idfRaw = (col("n_docs") - df + lit(0.5)) / (df + lit(0.5))
      val idf = if (logIdf) log(lit(1.0) + idfRaw) else idfRaw
      val sat = (tf * lit(k1) + tf) /
        (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
      when(tf > 0, idf * sat).otherwise(lit(0.0))
    }
    val scored = perDoc.crossJoin(broadcast(stats))
      .filter(queryTerms.indices.map(i => col(s"_tf$i") > 0).reduceLeft(_ || _))
      .withColumn("score",
        queryTerms.indices.map(termScore).reduceLeft(_ + _))
    scored.orderBy(col("score").desc, col("doc_id").asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select("doc_id", "rank")
  }

  /** PII-style redaction: emails and long digit runs replaced with
    * fixed tags, plus a per-row redaction count — the scrub pass every
    * training corpus runs before anything else sees the text. Patterns
    * stay in the RE2 ∩ Java-regex common subset so engines agree. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val longDigitsPattern = "[0-9]{6,}"
  def withRedaction(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("n_redactions",
        (size(regexp_extract_all(col(text), lit(emailPattern), lit(0))) +
          size(regexp_extract_all(col(text), lit(longDigitsPattern), lit(0)))).cast("long"))
      .withColumn("redacted",
        regexp_replace(
          regexp_replace(col(text), emailPattern, "<EMAIL>"),
          longDigitsPattern, "<NUM>"))

  /** Deterministic weighted source mixing: keep the first
    * ceil(weight_s · |source_s|) docs of each source (doc_id order) —
    * the reproducible data-recipe counterpart to the randomized
    * [[Sharding]] sampler. Per-source windows only (no global window);
    * at production scale order by a seeded hash of the id instead of
    * the id itself to decorrelate the kept prefix from ingest order —
    * same plan shape. Unlisted sources keep weight 0. */
  def mixBySourceQuota(docs: DataFrame, weights: Map[String, Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
    val weightCol = weights.foldLeft(lit(0.0)) { case (acc, (s, wt)) =>
      when(col("source") === s, lit(wt)).otherwise(acc)
    }
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_src", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") <= ceil(weightCol * col("n_src")))
      .drop("rn", "n_src")
  }

  /** The composed cleaning recipe — the filter chain a pretraining
    * corpus actually runs (C4/Gopher-style), as ONE operator: token
    * bounds, heuristic quality floor, language allowlist, and a
    * repetition (top-bigram concentration) ceiling. Returns surviving
    * docs with their signal columns so downstream stages can re-weight
    * without recomputing.
    *
    * Scale shape: every signal except repetition is per-row codegen'd
    * work folded into one pass over the text; repetition needs its own
    * (doc,bigram) aggregation and a doc_id join back — the recipe's
    * only shuffles, both map-side combinable. Docs with < 2 words have
    * no bigram support; they fail the token floor anyway for any
    * minTokens >= 2 (coalesce treats missing support as maximal
    * repetition, so the behavior is explicit, not accidental). */
  def cleanCorpus(docs: DataFrame,
                  minTokens: Int = 20, maxTokens: Int = 100000,
                  minQuality: Double = 0.5, maxTopBigramRatio: Double = 0.2,
                  langs: Seq[String] = Seq("en"),
                  text: String = "text"): DataFrame = {
    val scored = withLanguageId(withQualityScore(withTokenCounts(docs, text), text), text)
    val rep = bigramRepetition(docs, text).select(col("doc_id"), col("top_ratio"))
    scored.join(rep, Seq("doc_id"), "left")
      .filter(col("n_tokens_ws").between(minTokens, maxTokens) &&
        col("quality_score") >= minQuality &&
        col("lang_pred").isin(langs: _*) &&
        coalesce(col("top_ratio"), lit(1.0)) <= maxTopBigramRatio)
      .select(col("doc_id"), col("source"),
        col("n_tokens_ws").cast("long").as("n_tokens_ws"),
        col("quality_score"), col("lang_pred"), col("top_ratio"))
  }

  /** Document fingerprints: content hash (md5, cross-engine stable),
    * 64-bit xxhash, and a word-level polynomial rolling hash — the
    * last two feed sharding/near-dup machinery and are exact-integer
    * arithmetic, so they are deterministic across partitionings. */
  def withFingerprints(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("fp_md5", md5(col(text)))
      .withColumn("fp_bucket", substring(md5(col(text)), 1, 4))
      .withColumn("fp_xx64", xxhash64(col(text)))
      .withColumn("fp_rolling",
        // chained xxhash64 fold: order-sensitive like a rolling hash but
        // free of ANSI overflow (multiply-add wraps are errors in Spark 4);
        // typed HOF, not SQL text — `text` is a caller-supplied name
        aggregate(split(col(text), " "), lit(7L),
          (acc, w) => xxhash64(acc, w)))

  /** The published Gopher document-quality rules (Rae et al. 2021,
    * Appendix A1.1) as one per-row expression pass — the industry-
    * standard REJECTION filter this module's continuous quality score
    * complements: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (`#` and `...`), alphabetic-word share, the
    * ≥ 2-stopword rule, and the two LINE-level rules (≤ 90% of lines
    * may start with a bullet, ≤ 30% may end with an ellipsis — on a
    * single-line document both are trivially satisfied, which is the
    * rule's own semantics, not a shortcut). All ratio comparisons are
    * INTEGER cross-multiplications and the mean word length a
    * permille integer, so every flag replays exactly in DuckDB (no
    * float thresholds to drift). The alphabetic-word rule is
    * case-insensitive (`(?i)[a-z]` — all-caps words like `NASA` are
    * alphabetic; the lowercase-only form over-rejected mixed-case
    * text vs the published rule).
    *
    * Output: per-doc integer evidence + one flag per rule + `pass`.
    * Thresholds are the paper's (50 ≤ words ≤ 100k, 3 ≤ mean len ≤
    * 10, symbols/words ≤ 0.1, alpha share ≥ 0.8, ≥ 2 of the 8
    * canonical stopwords, bullet lines ≤ 90%, ellipsis lines ≤ 30%).
    * Bullet = line starts with `•`, `- ` or `* `; ellipsis = line
    * ends with `...` or `…` — the ASCII and typographic forms both
    * (documented set; the paper does not enumerate its glyphs). */
  /** The published C4 cleaning rules (Raffel et al., JMLR 2020 §2.2 —
    * the Colossal Clean Crawled Corpus recipe), the OTHER canonical
    * crawl filter beside Gopher ([[gopherFlags]]): C4 is a KEEP-lines
    * + flag-pages scheme where Gopher is a reject-documents scheme.
    *
    * Line level (a line survives into `clean_text` iff ALL hold):
    *  - ends in a terminal punctuation mark — period, `!`, `?`, or a
    *    closing quote (`"`/`”`), trailing spaces ignored;
    *  - has ≥ `minLineWords` whitespace-separated words (paper: 3);
    *  - does not contain the word "javascript" (case-insensitive).
    *
    * Page level (flags + the composite `pass`):
    *  - `n_sentences` ≥ `minSentences` over the CLEANED text (paper:
    *    5; sentences counted as terminal `.`/`!`/`?` marks — the
    *    integer proxy that replays cross-engine);
    *  - no `{` anywhere (code, not prose);
    *  - no "lorem ipsum" (case-insensitive; placeholder boilerplate);
    *  - no entry from `badWords` (the paper applies a public
    *    blocklist; the LIST is policy data the caller supplies —
    *    default empty = the arm is vacuously true). Single-token
    *    entries match whole whitespace-separated words; entries
    *    containing whitespace (the real C4 blocklist has multi-word
    *    phrases) match as case-insensitive substrings — a
    *    whole-phrase-with-boundaries match would need per-entry
    *    regexes, and substring is the conservative (over-flagging)
    *    side for a safety filter. Entries are typed literals, never
    *    spliced into SQL text, so quotes/backslashes in an entry are
    *    data, not syntax.
    *
    * `clean_md5` fingerprints the cleaned text so the oracle gate
    * certifies the kept CONTENT, not just the counts. All per-row
    * array/regex work in the RE2 ∩ Java dialect — zero shuffles. */
  def c4Flags(docs: DataFrame, text: String = "text",
              minLineWords: Long = 3L, minSentences: Long = 5L,
              badWords: Seq[String] = Nil): DataFrame = {
    val base = docs
      .withColumn("_ls", expr(s"split($text, '\r?\n')"))
      .withColumn("_kept", expr(
        "filter(_ls, _l -> rtrim(_l) rlike '[.!?\"”]" + "$' and " +
          s"size(filter(split(_l, ' '), _w -> _w != '')) >= $minLineWords " +
          "and not contains(lower(_l), 'javascript'))"))
      .withColumn("clean_text", expr("array_join(_kept, '\n')"))
      .withColumn("clean_md5", md5(col("clean_text")))
      .withColumn("n_lines", size(col("_ls")).cast("long"))
      .withColumn("n_kept_lines", size(col("_kept")).cast("long"))
      .withColumn("n_sentences", expr(
        "cast(char_length(clean_text) - " +
          "char_length(translate(clean_text, '.!?', '')) as long)"))
      .withColumn("has_brace", expr(s"contains($text, '{')"))
      .withColumn("has_lorem", expr(s"contains(lower($text), 'lorem ipsum')"))
    val withBad =
      if (badWords.isEmpty) base.withColumn("has_bad_word", lit(false))
      else {
        val (phrases, tokens) =
          badWords.map(_.toLowerCase).distinct.partition(_.exists(_.isWhitespace))
        val tokenHit =
          if (tokens.isEmpty) lit(false)
          else size(array_intersect(
            expr(s"filter(split(lower($text), '[ \n\r]'), _w -> _w != '')"),
            array(tokens.map(lit): _*))) > 0
        val hit = phrases.foldLeft(tokenHit)((acc, p) =>
          acc || lower(col(text)).contains(p))
        base.withColumn("has_bad_word", hit)
      }
    withBad
      .withColumn("pass", col("n_sentences") >= minSentences &&
        !col("has_brace") && !col("has_lorem") && !col("has_bad_word"))
      .drop("_ls", "_kept")
  }

  def gopherFlags(docs: DataFrame, text: String = "text",
                  minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    val stops = "array('the','be','to','of','and','that','have','with')"
    docs
      // words split on space OR newline (CR included: CRLF-terminated
      // crawl text would otherwise leave '\r' glued to the last word of
      // every line, skewing mean-word-length and the alpha rule): on a
      // multi-line document a space-only split would glue the last word
      // of one line to the first of the next through the embedded \n
      .withColumn("_ws", expr(s"filter(split($text, '[ \n\r]'), _w -> _w != '')"))
      .withColumn("n_words", size(col("_ws")).cast("long"))
      .withColumn("_chars", expr(
        "aggregate(_ws, 0L, (_a, _w) -> _a + char_length(_w))"))
      .withColumn("mwl_permille",
        when(col("n_words") > 0, expr("_chars * 1000L div n_words"))
          .otherwise(lit(0L)))
      .withColumn("_nsym", expr(
        s"(char_length($text) - char_length(replace($text, '#', ''))) + " +
          s"(char_length($text) - char_length(replace($text, '...', ''))) div 3"))
      .withColumn("_nalpha", expr(
        "cast(size(filter(_ws, _w -> _w rlike '(?i)[a-z]')) as long)"))
      .withColumn("_nstop", expr(
        s"cast(size(array_intersect(array_distinct(_ws), $stops)) as long)"))
      // lines split on '\r?\n' so CRLF terminators are consumed by the
      // delimiter — a line ending '...\r' would otherwise defeat the
      // $-anchored ellipsis rule
      .withColumn("_ls", expr(s"split($text, '\r?\n')"))
      .withColumn("n_lines", size(col("_ls")).cast("long"))
      .withColumn("_nbullet", expr(
        "cast(size(filter(_ls, _l -> _l rlike '^(•|- |\\\\* )')) as long)"))
      .withColumn("_nellip", expr(
        "cast(size(filter(_ls, _l -> _l rlike '(\\\\.\\\\.\\\\.|…)$')) as long)"))
      .withColumn("words_ok",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("mwl_ok",
        col("mwl_permille") >= 3000L && col("mwl_permille") <= 10000L)
      .withColumn("sym_ok", expr("_nsym * 10L <= n_words"))
      .withColumn("alpha_ok", expr("_nalpha * 10L >= n_words * 8L"))
      .withColumn("stop_ok", col("_nstop") >= 2L)
      .withColumn("bullet_ok", expr("_nbullet * 10L <= n_lines * 9L"))
      .withColumn("ellip_ok", expr("_nellip * 10L <= n_lines * 3L"))
      .withColumn("pass", col("words_ok") && col("mwl_ok") &&
        col("sym_ok") && col("alpha_ok") && col("stop_ok") &&
        col("bullet_ok") && col("ellip_ok"))
      .drop("_ws", "_chars", "_nsym", "_nalpha", "_nstop", "_ls",
        "_nbullet", "_nellip")
  }
}
