package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash — all as compositions of
  * built-in Catalyst expressions (higher-order array functions +
  * xxhash64), no UDFs, so every stage is codegen'd and the only
  * shuffles are the ones the algorithms require (bucket join /
  * candidate-pair join).
  *
  * Scale design: the LSH paths never form the O(n²) pair space — docs
  * shuffle by (band, band_hash) so only same-bucket docs meet, which is
  * the property that makes MinHash/SimHash dedup viable at 100 TB. The
  * brute-force Jaccard path exists as the correctness oracle for small
  * data, not the scale path.
  */
object Dedup {

  /** Exact dedup by content hash: keep the smallest doc_id per md5(text).
    * One hash-shuffle; at 100 TB this is the standard first pass — and
    * it MUST run before MinHash/SimHash: exact-duplicate cliques of c
    * copies generate c·(c−1)/2 candidate pairs in the LSH stages
    * (measured 250k pairs from 10× duplication in ScaleProbe), all of
    * which this O(n) pass removes up front. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_md5"))
      .agg(
        min("doc_id").as("doc_id"),
        count(lit(1)).as("n_copies"))

  /** Distinct word k-shingles of a text column as ONE let-bound
    * expression. The single-element-array `transform` binds the split
    * result to a lambda variable: without it, Catalyst's
    * CollapseProject inlines `split(text)` into every element access,
    * re-splitting the text O(shingles·k) times per row (measured as a
    * 1000× slowdown on long documents). */
  def shingleExpr(text: Column, k: Int): Column =
    transform(array(split(text, " ")), w =>
      when(size(w) >= k,
        array_distinct(transform(sequence(lit(0), size(w) - k), i =>
          concat_ws(" ", (0 until k).map(j => element_at(w, i + j + 1)): _*))))
        .otherwise(array().cast("array<string>"))
    ).getItem(0)

  /** Distinct word k-shingles per doc: `sh` column, docs with < k words
    * dropped (no shingle support). Pure per-row array work. */
  def withShingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .withColumn("sh", shingleExpr(col("text"), k))
      .filter(size(col("sh")) > 0)

  /** `docs` with `fh`, the distinct 64-bit hashes of its word
    * k-shingles (exactly [[shingleExpr]]'s set, hashed); docs with
    * fewer than k words have no shingles and are dropped. Every
    * shingle-set operator here starts from this frame. */
  private[graft] def shingleSets(docs: DataFrame, k: Int): DataFrame = {
    graft.functions.ShingleHashes.register(docs.sparkSession)
    docs
      .withColumn("fh", expr(s"shingle_hashes(text, $k)"))
      .filter(size(col("fh")) > 0)
  }

  /** Shingle postings `(id, n, shingle)`: one row per distinct shingle
    * of each doc, carrying the doc's distinct-shingle count `n` =
    * size(fh). The count rides the explode because it is already in
    * hand, and it rides the pair joins because it is constant per doc,
    * so no pair operator re-derives per-doc sizes with a separate
    * aggregation and two restoring joins (that re-scanned the docs and
    * re-shuffled twice, measured as a third of [[ngramJaccardPairs]]'
    * time at sf0.1). */
  private[graft] def shinglePostings(docs: DataFrame, k: Int, id: String,
                                     n: String): DataFrame =
    shingleSets(docs, k).select(
      // no self-alias when the name is kept: the plan stays alias-free
      if (id == "doc_id") col(id) else col("doc_id").as(id),
      size(col("fh")).cast("long").as(n),
      explode(col("fh")).as("shingle"))

  /** The shingles of `postings` in more than `cap` rows (docs). The df
    * count is map-side combinable, and the joins against the (tiny)
    * result broadcast. */
  private def hotShingles(postings: DataFrame, cap: Int): DataFrame =
    postings.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("shingle")

  /** Surviving shingle rows under a hot-shingle cap, with the carried
    * per-doc count (`ns`) adjusted to the capped universe: carried −
    * the doc's dropped-row tally. The subtract form is the scale
    * choice, shared by every capped path: a per-doc re-count window
    * shuffles EVERY surviving row by doc id (on the indexed delta
    * path that is corpus-sized work per ingest batch — exactly what
    * the materialized index exists to avoid), while this aggregates
    * only the rows the cap drops and joins the (usually
    * broadcast-small) tally back; identical result, since carried −
    * dropped = surviving rows per doc. */
  private def capAdjust(df: DataFrame, hot: DataFrame,
                        id: String, ns: String): DataFrame = {
    val dropped = df.join(hot, Seq("shingle"), "left_semi")
      .groupBy(id).agg(count(lit(1)).as("hot_n"))
    df.join(hot, Seq("shingle"), "left_anti")
      .join(dropped, Seq(id), "left")
      .withColumn(ns, col(ns) - coalesce(col("hot_n"), lit(0L)))
      .drop("hot_n")
  }

  /** The inverted-index leg [[ngramJaccardPairs]] and
    * [[containmentPairs]] share: one (d1 < d2, common, n1, n2) row per
    * doc pair sharing at least one shingle, where `common` counts the
    * shared shingles and n1/n2 are the docs' shingle counts. Under
    * `maxShingleDocFreq`, shingles in more docs than the cap drop from
    * the postings AND from the per-doc counts ([[capAdjust]]), so both
    * operators measure over the capped universe. */
  private def shinglePairStats(docs: DataFrame, k: Int,
                               maxShingleDocFreq: Option[Int]): DataFrame = {
    val shAll = shinglePostings(docs, k, "doc_id", "ns")
    val sh = maxShingleDocFreq match {
      case None => shAll
      case Some(cap) => capAdjust(shAll, hotShingles(shAll, cap), "doc_id", "ns")
    }
    PairPack.pairsFromPostings(sh, Seq("shingle"), "doc_id")
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("common"),
        max(col("a.ns")).as("n1"), max(col("b.ns")).as("n2"))
  }

  /** Exact pairwise n-gram Jaccard via an inverted shingle index:
    * explode → self-join on shingle → count common, with the per-doc
    * sizes carried through the join ([[shinglePairStats]]).
    * Exact-integer counts, one final double division. This is the
    * verify/oracle path; candidate generation at scale is
    * [[minHashPairs]] / [[simHashPairs]].
    *
    * The index keys on 64-bit shingle HASHES, not shingle strings:
    * identical distinct/intersection counts w.h.p. (64-bit collisions
    * ~1e-10 at fixture scale, the same approximation the minhash
    * verification leg already makes), and the explode + self-join move
    * longs instead of strings — the bulk of this operator's shuffle
    * bytes.
    *
    * `maxShingleDocFreq` guards the self-join's worst case: a shingle
    * appearing in f docs contributes f·(f−1)/2 join rows, so one stop-
    * phrase shared by 1M docs is 5·10¹¹ rows. With the cap set,
    * shingles above that document frequency are dropped from BOTH the
    * index and the per-doc sizes — jaccard is then exact over the
    * capped shingle universe (a documented approximation; hot shingles
    * carry no dedup signal). None (default) preserves the oracle
    * semantics exactly; a cap at or above the corpus max df is a
    * no-op, which the property spec pins. */
  def ngramJaccardPairs(docs: DataFrame, k: Int = 3, threshold: Double = 0.6,
                        maxShingleDocFreq: Option[Int] = None): DataFrame =
    shinglePairStats(docs, k, maxShingleDocFreq)
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "common", "n1", "n2", "jaccard")

  /** Exact Jaccard-threshold pairs via PREFIX FILTERING — the
    * AllPairs/PPJoin family (Bayardo, Ma & Srikant, "Scaling Up All
    * Pairs Similarity Search", WWW 2007; Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW 2008):
    * the second EXACT pair engine, with a scale story the inverted
    * self-join ([[ngramJaccardPairs]]) structurally lacks.
    *
    * Why it exists: [[ngramJaccardPairs]] indexes EVERY shingle, so a
    * boilerplate shingle in f docs costs f·(f−1)/2 join rows; its
    * `maxShingleDocFreq` guard caps that by CHANGING the semantics
    * (jaccard over the capped universe). Prefix filtering keeps the
    * exact semantics and still never lets a hot shingle seed
    * candidates: order each doc's shingle set by GLOBAL document
    * frequency ascending (ties on the 64-bit shingle hash — a total
    * order shared by all docs), and index only the first
    * `ns − ⌈t·ns⌉ + 1` shingles. Two docs with Jaccard ≥ t share
    * ≥ ⌈t·max(n1,n2)⌉ shingles, and a set missing another set's whole
    * prefix can share at most the suffix length `⌈t·ns⌉ − 1` — so
    * every qualifying pair collides on some prefix shingle
    * (the canonically-smallest common shingle sits inside BOTH
    * prefixes) and the filter is LOSSLESS. Boilerplate lands at the
    * df-descending END of the canonical order — in the suffix, never
    * indexed — so candidate volume is driven by the df of RARE
    * shingles. The length filter `1000·min(n1,n2) ≥ t‰·max(n1,n2)`
    * (Jaccard ≥ t forces |A∩B| ≥ t·|A∪B| ≥ t·max) prunes
    * size-incompatible collisions before verification.
    *
    * Stages (all shuffles the algorithm requires, nothing else):
    * df per shingle is one map-side-combinable count; the canonical
    * sort is per-doc array work after one join of the exploded frame
    * against the df table (both sides hash-partitioned on shingle —
    * deliberately NOT a per-shingle count window, which would buffer a
    * hot shingle's whole row group in one task); candidates are the
    * prefix self-join (ids only on the shuffle); verification joins
    * the candidate ids back to the full per-doc hash arrays and takes
    * `array_intersect` per row — exact integer counts, one final
    * double division. Threshold is permille so the gate
    * `common·1000 ≥ t‰·(n1+n2−common)` is integer-exact on any
    * engine. Same 64-bit-hash shingle universe as [[ngramJaccardPairs]]
    * (collisions ~1e-10 at fixture scale — the approximation every
    * hash-keyed leg here makes); [[prefixCandidates]] is public so the
    * pruning spec can count candidates directly. */
  def prefixJaccardPairs(docs: DataFrame, k: Int = 3,
                         thresholdPermille: Long = 500L): DataFrame = {
    val tp = thresholdPermille
    graft.functions.SortedIntersectCount.register(docs.sparkSession)
    val base = prefixBase(docs, k)
    val cands = prefixCandidates(docs, k, tp)
    // r21: hash arrays sorted once per DOC (tiny frame) so each
    // candidate pair verifies by one allocation-free merge
    // (`sorted_intersect_count`) instead of size(array_intersect)'s
    // per-pair hash set — same exact count (distinct hashes per doc).
    cands
      .join(base.select(col("doc_id").as("d1"),
        sort_array(col("fh")).as("fh1"), col("ns").as("n1")), "d1")
      .join(base.select(col("doc_id").as("d2"),
        sort_array(col("fh")).as("fh2"), col("ns").as("n2")), "d2")
      .withColumn("common", expr("sorted_intersect_count(fh1, fh2)"))
      .filter(col("common") * 1000L >= lit(tp) * (col("n1") + col("n2") - col("common")))
      .withColumn("jaccard",
        col("common").cast("double") / (col("n1") + col("n2") - col("common")))
      .select("d1", "d2", "common", "n1", "n2", "jaccard")
  }

  /** Per-doc distinct shingle hashes + count — the frame both the
    * prefix build and the verification join read. */
  private def prefixBase(docs: DataFrame, k: Int): DataFrame =
    shingleSets(docs, k)
      .select(col("doc_id"), col("fh"), size(col("fh")).cast("long").as("ns"))

  /** The candidate (d1, d2) id pairs the prefix filter admits — every
    * pair with Jaccard ≥ t‰/1000 is here (lossless), plus the false
    * positives verification removes. Public so the spec can pin the
    * pruning: on a corpus with a planted hot shingle this count must
    * sit strictly below the full inverted self-join's pair volume.
    *
    * `positional` layers PPJoin's positional filter (Xiao et al. §3)
    * on the AllPairs prefix meet: at a meet on A's 0-based canonical
    * position i and B's j, the overlap can be at most
    * `min(n1 − i, n2 − j)` (the pair's canonically-SMALLEST common
    * shingle meets at the lowest positions of any common shingle, and
    * everything common sits at-or-after it in both orders), while
    * Jaccard ≥ t forces overlap ≥ t/(1+t)·(n1+n2) — so a meet whose
    * remaining-token budget can't reach that bound is pruned as the
    * integer gate `min(n1−i, n2−j)·(1000+t‰) ≥ t‰·(n1+n2)`. Lossless
    * for the same reason the prefix lemma is: a qualifying pair's
    * smallest common shingle is in both prefixes AND satisfies the
    * bound, so at least that meet survives to the distinct. */
  def prefixCandidates(docs: DataFrame, k: Int,
                       thresholdPermille: Long,
                       positional: Boolean = true): DataFrame = {
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000], got $thresholdPermille")
    val tp = thresholdPermille
    val base = prefixBase(docs, k)
    val ex = base.select(col("doc_id"), col("ns"),
      explode(col("fh")).as("shingle"))
    val df = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
    // canonical (df asc, hash asc) order per doc; prefix length
    // ns − ceil(t‰·ns/1000) + 1, all integer arithmetic; pos is the
    // 0-based rank within the FULL canonical order (a prefix is a
    // prefix, so in-prefix rank == in-set rank)
    val prefixes = ex.join(df, "shingle")
      .groupBy("doc_id", "ns")
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ss"))
      .withColumn("plen",
        col("ns") - expr(s"(ns * $tp + 999L) div 1000L") + 1L)
      .select(col("doc_id"), col("ns"),
        posexplode(expr("slice(ss, 1, int(plen))")).as(Seq("pos", "p")))
      .select(col("doc_id"), col("ns"), col("pos").cast("long").as("pos"),
        col("p.shingle").as("shingle"))
    val lengthOk =
      least(col("a.ns"), col("b.ns")) * 1000L >=
        greatest(col("a.ns"), col("b.ns")) * lit(tp)
    val budgetOk =
      least(col("a.ns") - col("a.pos"), col("b.ns") - col("b.pos")) *
        lit(1000L + tp) >= lit(tp) * (col("a.ns") + col("b.ns"))
    // r22: the candidate dedup exchange carries ONE packed BIGINT per
    // pair when the probed doc-id bound allows ([[PairPack]]; guide
    // §2.3) — identical candidate set either way.
    PairPack.distinctPairs(
      PairPack.pairsFromPostings(prefixes, Seq("shingle"), "doc_id",
          lengthOk +: (if (positional) Seq(budgetOk) else Nil): _*)
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")),
      "d1", "d2", packed = PairPack.fits32(docs, "doc_id"))
  }

  /** Asymmetric shingle-containment pairs: every ORDERED (contained,
    * container) doc pair where at least `minPermille`/1000 of the
    * contained doc's distinct k-shingles also occur in the container.
    *
    * Containment |A∩B|/|A| is the dedup signal Jaccard structurally
    * cannot see: a paragraph quoted verbatim inside a much longer
    * document has near-1 containment but near-0 Jaccard (the union is
    * dominated by the container), so a Jaccard-thresholded pass keeps
    * both copies. Real pretraining pipelines run both gates.
    *
    * Plan shape is [[ngramJaccardPairs]]' inverted-index self-join
    * (hashes ride the shuffle, ns projected alongside the explode, one
    * undirected group per pair) — the direction split happens AFTER
    * aggregation on the tiny pair frame, via a two-way unpivot, so the
    * expensive leg is computed once, not per direction. The
    * `minShingles` floor keeps trivially-short docs (whose handful of
    * shingles are contained everywhere) out of the result, and the
    * permille gate is integer arithmetic — `common * 1000 div n` —
    * exact on any engine.
    *
    * `maxShingleDocFreq` is the same hot-shingle guard as
    * [[ngramJaccardPairs]]': a shingle in f docs contributes
    * f·(f−1)/2 self-join rows, so one boilerplate phrase shared by 1M
    * docs is 5·10¹¹ rows — quadratic in exactly the skew a crawl
    * corpus has. Under the cap, hot shingles drop from BOTH the index
    * and the per-doc sizes ([[capAdjust]]'s dropped-row subtract), so
    * containment is exact over the capped shingle universe — and the
    * capped `ns` is precisely the containment denominator, since
    * |A∩B|/|A| must count A over the same universe the intersection
    * is measured in. The `minShingles` floor also reads the capped
    * count: a doc whose surviving shingles are too few to carry
    * signal is excluded on the universe the signal is computed over.
    * A cap at or above the corpus max df is a no-op (property-spec
    * pinned); None preserves exact semantics. */
  def containmentPairs(docs: DataFrame, k: Int = 3,
                       minPermille: Long = 800L,
                       minShingles: Long = 10L,
                       maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val und = shinglePairStats(docs, k, maxShingleDocFreq)
    // r22b: both directions IN-ROW (the coEngagementEdgesShared
    // surgery): the old `und.unionAll(und.select(swapped))` referenced
    // the pair aggregate twice, so each branch re-ran the final
    // (reduce-side) aggregation of the self-join's meet rows — AQE
    // stage reuse shares the exchange, not the post-shuffle operators.
    // Row multiset identical (spec-pinned).
    und.select(explode(array(
        struct(col("d1").as("contained"), col("d2").as("container"),
          col("common"), col("n1").as("n_contained")),
        struct(col("d2").as("contained"), col("d1").as("container"),
          col("common"), col("n2").as("n_contained")))).as("e"))
      .select(col("e.contained").as("contained"),
        col("e.container").as("container"),
        col("e.common").as("common"),
        col("e.n_contained").as("n_contained"))
      .withColumn("cont_permille",
        expr("common * 1000 div n_contained"))
      .filter(col("n_contained") >= minShingles &&
        col("cont_permille") >= minPermille)
  }

  /** Dedup threshold yield curve: for each candidate threshold (in
    * permille), how many pairs clear it and how many distinct docs
    * would be flagged — the calibration sweep run before committing a
    * Jaccard threshold to a production dedup pass (too low eats
    * legitimate near-boilerplate, too high leaks duplicates; the curve
    * shows where the knee is). `n_docs_flagged` counts distinct
    * higher-id endpoints — the upper bound on docs a min-id survivor
    * rule drops; connected-component clustering (q39) refines it.
    *
    * The gate is the INTEGER form `common·1000 ≥ th·(n1+n2−common)` —
    * exact on any engine, immune to the double-rounding boundary a
    * `jaccard ≥ t` float compare has at the knife's edge. Takes the
    * already-computed pair-stats frame ([[ngramJaccardPairs]]' output,
    * typically memoized), so the whole sweep is a broadcast of the
    * |thresholds|-row grid against the (small) pair frame — zero new
    * self-joins, every threshold a free scan. */
  def yieldCurve(pairs: DataFrame, thresholdsPermille: Seq[Long]): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val grid = thresholdsPermille.toDF("th")
    pairs.crossJoin(broadcast(grid))
      .filter(col("common") * 1000 >=
        col("th") * (col("n1") + col("n2") - col("common")))
      .groupBy("th")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("d2")).as("n_docs_flagged"))
  }

  /** Band count for [[minHashPairs]] from (signature width, target
    * Jaccard threshold) — the prose-dial → spec'd-helper convention
    * (srpBitsFor / fanoutFor / bloomBitsFor precedent). An LSH scheme
    * with b bands of r = numHashes/b rows catches a pair of Jaccard s
    * with probability 1 − (1 − sʳ)ᵇ, an S-curve whose inflection sits
    * at s* ≈ (1/b)^(1/r) (Leskovec/Rajaraman/Ullman, MMDS §3.4.2) —
    * below s* collisions are rare, above it near-certain. The helper
    * picks the divisor b of numHashes whose s* lands closest to the
    * target (log-space distance — the curve is exponential in r, so
    * linear distance over-weights the high end): more bands ⇒ lower
    * s* ⇒ recall reaches DOWN to looser pairs at more candidate
    * volume; the verification pass unconditionally restores
    * precision, so b only prices recall against candidate count.
    * Deployed dial pinned in the spec: 16 hashes at the 600‰ gate →
    * 4 bands of 4 (s* = 0.707), the q35 shape. */
  def lshBandsFor(numHashes: Int, thresholdPermille: Long): Int = {
    require(numHashes >= 1, s"numHashes must be positive, got $numHashes")
    require(thresholdPermille >= 1 && thresholdPermille <= 1000,
      s"thresholdPermille must be in [1, 1000], got $thresholdPermille")
    val t = thresholdPermille / 1000.0
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors.minBy { b =>
      val r = numHashes.toDouble / b
      val sStar = math.pow(1.0 / b, 1.0 / r)
      math.abs(math.log(sStar) - math.log(t))
    }
  }

  /** MinHash signatures, fully native: `shingle_hashes` (one pass over
    * the text bytes, no word/shingle string materialization) feeding
    * `minhash_sigs` (one JIT'd pass over the feature hashes). Docs with
    * < k words yield an empty feature array and are dropped. */
  def withMinHash(docs: DataFrame, k: Int = 3, numHashes: Int = 16): DataFrame = {
    graft.functions.MinHashSigs.register(docs.sparkSession)
    shingleSets(docs, k)
      .withColumn("sig", expr(s"minhash_sigs(fh, $numHashes)"))
      .drop("fh")
  }

  /** MinHash + LSH banding: docs meet only inside equal (band,
    * band-hash) buckets; candidates are then verified with exact
    * shingle Jaccard. bands*rowsPerBand must equal numHashes.
    *
    * The band dial DEFAULTS to [[lshBandsFor]] (r19 — the helper is
    * now the behavior, the srpBitsFor/bloomBitsFor/fanoutFor
    * convention): `None` picks the divisor of `numHashes` whose LSH
    * S-curve inflection lands nearest the verification threshold, so
    * the deployed 16-hash/600‰ shape resolves to the same 4 bands the
    * dial was hand-set to since r7; pass `Some(b)` to override.
    *
    * Returns (d1, d2, jaccard) with jaccard >= threshold — the same
    * contract as [[ngramJaccardPairs]], at LSH cost instead of O(n²).
    */
  def minHashPairs(docs: DataFrame, k: Int = 3, numHashes: Int = 16,
                   bands: Option[Int] = None,
                   threshold: Double = 0.6): DataFrame = {
    val nBands = bands.getOrElse(
      lshBandsFor(numHashes, math.round(threshold * 1000)))
    require(numHashes % nBands == 0, "bands must divide numHashes")
    val rows = numHashes / nBands
    val signed = withMinHash(docs, k, numHashes)
    graft.functions.Mix64Fold.register(docs.sparkSession)
    // sig is lambda-bound: 4 band hashes must not re-derive the 16
    // min-hashes (CollapseProject would inline them 4x otherwise)
    // ids-only through the explode and self-join: shingle arrays must
    // not ride the 4-way band explode shuffle; they are re-attached
    // only for the (few) surviving candidate pairs.
    // band key = mix64_fold(band rows, seed = band id): the splitmix
    // fold replaced xxhash64 in r16 so the q35 oracle can replay the
    // bucket arithmetic in DuckDB (see Mix64Fold's scaladoc)
    val banded = signed
      .withColumn("bands",
        transform(array(col("sig")), g =>
          array((0 until nBands).map { b =>
            call_function("mix64_fold",
              slice(g, lit(b * rows + 1), lit(rows)), lit(b.toLong))
          }: _*)
        ).getItem(0))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_id", "band_hash")))
    val cands = PairPack.pairsFromPostings(banded, Seq("band_id", "band_hash"), "doc_id")
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
      // candidate pairs feed two verification joins: materialize once
      .localCheckpoint()
    // Re-derive shingles ONLY for candidate docs, via a left-semi join
    // BELOW the shingle projection: the semi-join filters rows before
    // `shingle_hashes` runs, so the expensive per-row work happens for
    // candidates only. Candidate sets are small by construction (LSH
    // pruned them), so AQE turns this into a broadcast semi-join — no
    // driver round-trip, no plan-bloating k-element In-list, and no
    // size cliff (an earlier version collect()ed ids into an isin,
    // which silently recomputed every doc past a 100k bound).
    val candIds = cands.select(col("d1").as("doc_id"))
      .union(cands.select(col("d2").as("doc_id")))
      .distinct()
    // Verification Jaccard runs over the HASHED shingle sets (64-bit —
    // collision probability is negligible next to MinHash's own
    // approximation): set ops over longs are ~10x cheaper than over
    // shingle strings (measured via ScaleProbe).
    // Materialize the candidate hash sets ONCE: `fhs` feeds both the d1
    // and d2 verification joins, and without the checkpoint each join
    // re-runs the semi-join + `shingle_hashes` re-derivation (the
    // expensive per-row pass) — measured as ~1 s of the q35 time at
    // sf0.1. Candidate sets are LSH-pruned and ids-only upstream, so
    // the materialized frame is small.
    // r21: sorted once per candidate doc so each pair verifies by one
    // allocation-free merge; |union| = n1 + n2 − common over the
    // per-doc DISTINCT hash sets, so the jaccard double divides the
    // identical integers as the array_intersect/array_union form.
    graft.functions.SortedIntersectCount.register(docs.sparkSession)
    val fhs = shingleSets(docs.join(candIds, Seq("doc_id"), "left_semi"), k)
      .select(col("doc_id"), sort_array(col("fh")).as("fh"))
      .localCheckpoint()
    cands
      .join(fhs.select(col("doc_id").as("d1"), col("fh").as("fh1")), "d1")
      .join(fhs.select(col("doc_id").as("d2"), col("fh").as("fh2")), "d2")
      .withColumn("common", expr("sorted_intersect_count(fh1, fh2)"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("fh1")) + size(col("fh2")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** End-to-end corpus dedup — the operator a pipeline actually calls:
    * exact dedup first (mandatory pre-pass, see [[exactDedup]]), then
    * MinHash-LSH near-dup pairs on the survivors, connected
    * components, and keep one representative (min doc_id) per
    * component. Returns the deduplicated corpus with the original
    * columns.
    *
    * Each stage is the scale-shaped variant: O(n) hash pass → bucketed
    * LSH (never O(n²)) → connected components
    * ([[Graph.connectedComponents]]: union-find on the driver for up to
    * `Graph.LocalMaxEdges` pairs, an ingest batch's few hundred among
    * them; above that iterative min-label rounds, which hand
    * deep/adversarial duplicate graphs over to star contraction once
    * their changed count stops halving). */
  def dedupCorpus(docs: DataFrame, k: Int = 3, numHashes: Int = 16,
                  bands: Option[Int] = None, threshold: Double = 0.6): DataFrame = {
    // exact pass: survivors = smallest doc_id per distinct text. The
    // semi-join recovers the survivor's full row — and the per-id
    // collapse closes the one hole in that recovery: with
    // CONTENT-ADDRESSED ids (Sources.textLines: doc_id = xxhash64(text))
    // an exact-duplicate pair shares one id, so the semi-join alone
    // would re-admit both physical rows. For unique-id corpora it's a
    // no-op. The representative is the struct-MIN over the remaining
    // columns, not dropDuplicates — dropDuplicates keeps whichever row
    // a partition delivers first, so two ingests of the same line from
    // different files would nondeterministically flip e.g. `source`
    // between runs. (Requires orderable column types — no maps; true of
    // every corpus schema here.)
    val others = docs.columns.filterNot(_ == "doc_id").toIndexedSeq
    val exactSurvivors = docs.join(
      exactDedup(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(min(struct(others.map(col): _*)).as("_rep"))
      .select(col("doc_id") +: others.map(c => col("_rep")(c).as(c)): _*)
    val pairs = minHashPairs(exactSurvivors, k, numHashes, bands, threshold)
      .select("d1", "d2")
    val comp = Graph.connectedComponents(pairs)
    // unclustered docs survive; clustered ones only as the component min
    exactSurvivors.join(comp, Seq("doc_id"), "left")
      .filter(col("component_id").isNull || col("component_id") === col("doc_id"))
      .drop("component_id")
  }

  /** Incremental (delta) dedup: keep only the delta-batch docs that
    * are NOVEL vs the existing corpus — no exact copy (content hash)
    * and no near-duplicate (k-shingle Jaccard >= threshold) among
    * corpus docs. This is the operator a growing corpus actually runs
    * per ingest batch at 100 TB: the corpus is never re-deduped, only
    * the delta is tested against it.
    *
    * Scale shape: the exact leg anti-joins the delta against the
    * corpus's DISTINCT content hashes (map-side-combinable distinct,
    * one shuffle keyed by hash — in production that distinct-hash set
    * is the incrementally-maintained dedup index). The near leg joins
    * the corpus's inverted shingle index against the DELTA's shingles
    * only — cross-side pairs, never corpus×corpus — so join volume is
    * proportional to the delta, and AQE broadcasts the small delta
    * side. `maxShingleDocFreq` caps hot shingles on both sides exactly
    * like [[ngramJaccardPairs]].
    *
    * Novelty WITHIN the delta is deliberately out of scope — compose
    * with [[dedupCorpus]] on the delta first.
    *
    * `containmentPermille` turns on the SECOND dedup gate real
    * pretraining pipelines run alongside Jaccard (the
    * [[containmentPairs]] signal): a delta doc at least p/1000 of
    * whose shingles appear in one corpus doc is a quote-inside-a-
    * longer-document — near-0 Jaccard (the union is dominated by the
    * container) yet clearly non-novel. The gate is
    * `common * 1000 div nd >= p`, integer-exact, measured over the
    * same (possibly capped) shingle universe as the Jaccard leg, and
    * costs NOTHING new at scale: common/nd already sit in the
    * cross-side aggregate, so it is one more predicate on the pair
    * frame, no extra join or shuffle. Only the delta-contained-in-
    * corpus direction gates novelty — a delta doc merely CONTAINING
    * an old corpus doc still carries novel text and is kept.
    *
    * `releaseEagerly` picks the cache lifecycle (see [[novelOnly]]):
    * `true` — the continuous-ingest default — pays one eager ids-only
    * checkpoint job + a restoring semi-join so the internal full-text
    * cache is provably released before this returns; `false` stays
    * fully lazy for one-shot batch callers (release on the caller's
    * first completed action instead). */
  def deltaDedup(corpus: DataFrame, delta: DataFrame, k: Int = 3,
                 threshold: Double = 0.6,
                 maxShingleDocFreq: Option[Int] = None,
                 releaseEagerly: Boolean = true,
                 containmentPermille: Option[Long] = None): DataFrame = {
    val exactNovel = exactNovelDocs(corpus, delta)
      // Feeds both the shingle leg and the final anti-join — persist so
      // the anti-join runs once, not a localCheckpoint: this frame
      // carries the batch's full TEXT, and a checkpoint would pin it in
      // non-replicated executor block storage where an executor loss
      // FAILS the job (lineage truncated). MEMORY_AND_DISK keeps the
      // lineage — recomputable on loss, spills instead of OOMing at
      // ingest-batch scale. (minHashPairs' checkpoints are ids/hashes
      // only, where the recompute-vs-pin tradeoff goes the other way.)
      // Released by novelOnly before this call returns.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    novelOnly(delta, exactNovel,
      dupIdsFromStats(
        deltaPairStats(corpus, exactNovel, k, maxShingleDocFreq),
        threshold, containmentPermille),
      releaseEagerly)
  }

  /** The exact (content-hash) leg of delta dedup: the delta docs whose
    * md5 is absent from the corpus's distinct hash set, all columns
    * intact. No caching policy of its own — [[deltaDedup]] persists it
    * for its two-consumer plan; query-registry callers memoize it
    * instead (the shared-leg convention). */
  def exactNovelDocs(corpus: DataFrame, delta: DataFrame): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("content_md5")).distinct()
    delta
      .withColumn("content_md5", md5(col("text")))
      .join(corpusHashes, Seq("content_md5"), "left_anti")
      .drop("content_md5")
  }

  /** Cross-side pair statistics — the shared core of [[deltaDedup]]'s
    * near gate, exposed so registered queries differing only in the
    * dup PREDICATE (Jaccard-only vs Jaccard+containment) can memoize
    * this one expensive leg and filter it twice: one (c_id, d_id,
    * common, nc, nd) row per cross-side doc pair sharing at least one
    * surviving shingle.
    *
    * Per-doc shingle counts are projected alongside the explode and
    * carried through the cross-side join (constant per (c_id, d_id)
    * group) — same plan surgery as [[ngramJaccardPairs]]: no separate
    * count aggregations, no restoring joins. */
  def deltaPairStats(corpus: DataFrame, exactNovel: DataFrame, k: Int = 3,
                     maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val (cSh, dSh) = maxShingleDocFreq match {
      case None =>
        (shinglePostings(corpus, k, "c_id", "nc"),
          shinglePostings(exactNovel, k, "d_id", "nd"))
      case Some(cap) =>
        // hot shingles measured over BOTH sides so the capped universe
        // is consistent for the jaccard sizes below; under the cap the
        // carried count must cover the CAPPED universe — adjusted by
        // [[capAdjust]]'s dropped-row subtract (capped path only)
        val all = shinglePostings(corpus, k, "c_id", "nc")
          .unionByName(shinglePostings(exactNovel, k, "c_id", "nc"))
        val hot = hotShingles(all, cap)
        (capAdjust(shinglePostings(corpus, k, "c_id", "nc"), hot, "c_id", "nc"),
          capAdjust(shinglePostings(exactNovel, k, "d_id", "nd"), hot, "d_id", "nd"))
    }
    cSh.join(dSh, "shingle")
      .groupBy("c_id", "d_id")
      .agg(count(lit(1)).as("common"),
        max(col("nc")).as("nc"), max(col("nd")).as("nd"))
  }

  /** The dup gate of both delta paths over a [[deltaPairStats]]-shaped
    * frame: Jaccard threshold, OR'd with the optional containment
    * gate. All inputs the containment predicate needs (common, nd) are
    * already in the pair aggregate, so the second gate adds zero plan
    * nodes beyond the filter itself. Returns the distinct non-novel
    * delta doc_ids. */
  def dupIdsFromStats(stats: DataFrame, threshold: Double,
                      containmentPermille: Option[Long]): DataFrame = {
    val jaccard = col("common").cast("double") /
      (col("nc") + col("nd") - col("common")) >= threshold
    val gate = containmentPermille match {
      case None => jaccard
      case Some(p) => jaccard || expr(s"common * 1000 div nd >= $p")
    }
    stats.filter(gate)
      .select(col("d_id").as("doc_id")).distinct()
  }

  /** Close out a delta-dedup call. Two lifecycles, caller's choice:
    *
    * `releaseEagerly = true` (the continuous-ingest contract):
    * materialize the novel doc_ids NOW (ids-only eager
    * localCheckpoint), release the pinned full-text frame, and restore
    * the delta's columns with a semi-join. The eager action is the
    * point — it is what lets the operator unpersist its internal
    * full-text cache before returning; the lazy shape left one
    * CacheManager-held full-text frame behind PER CALL, which in a
    * continuous ingest (one call per micro-batch) grew the cache
    * without bound. The checkpointed ids are tiny and reclaimed by the
    * ContextCleaner once the returned frame is dropped; an executor
    * loss after return costs a caller retry of the batch, the same
    * stance as [[minHashPairs]]'s ids-only checkpoints.
    *
    * `releaseEagerly = false` (one-shot batch): stay fully lazy — no
    * checkpoint job, and no restoring semi-join either: `exactNovel`
    * already carries every column of `delta` (the exact leg only
    * anti-joins away rows), so the novel frame IS
    * `exactNovel ∖ dupDelta` directly — one anti-join, delta is never
    * re-read. The persisted full-text frame is released when the
    * caller's action completes (a QueryExecutionListener on the delta
    * session; if the caller never runs an action the frame lives until
    * session end — the bounded, disclosed cost of skipping the eager
    * job). A long-running ingest must keep the default: per-batch
    * listener release works, but the eager variant's deterministic
    * release point is the safer contract there.
    *
    * Precondition (both callers document it): doc_id unique in
    * `delta`. */
  private def novelOnly(delta: DataFrame, exactNovel: DataFrame,
                        dupDelta: DataFrame,
                        releaseEagerly: Boolean): DataFrame =
    if (releaseEagerly) {
      val novelIds = exactNovel.join(dupDelta, Seq("doc_id"), "left_anti")
        .select("doc_id").localCheckpoint(true)
      exactNovel.unpersist(blocking = false)
      delta.join(novelIds, Seq("doc_id"), "left_semi")
    } else {
      releaseAfterNextAction(exactNovel)
      exactNovel.join(dupDelta, Seq("doc_id"), "left_anti")
    }

  /** The lazy leg of [[novelOnly]]'s lifecycle — shared with the
    * other single-plan-pin operators. */
  private def releaseAfterNextAction(frame: DataFrame): Unit =
    CacheLifecycle.releaseAfterNextAction(frame)

  /** The materialized form of the structures [[deltaDedup]] derives
    * from the corpus on every call: the distinct content-hash set
    * (exact leg), the inverted shingle index, and per-shingle document
    * frequencies (near leg + skew cap). A pipeline that ingests
    * continuously persists these and APPENDS each batch's novel docs —
    * per-batch cost then scales with the index read + the delta, never
    * with re-shingling the corpus text (at 100 TB the difference
    * between an ingest that stays flat and one that grows linearly
    * with corpus age).
    *
    * Shingle rows `(c_id, nc, shingle)` are DENORMALIZED with their
    * doc's shingle count (`nc`) — the same carry-through-the-join
    * surgery as [[ngramJaccardPairs]]: the count is size(fh), free at
    * projection time, and rides the batch join so [[deltaDedupIndexed]]
    * never joins a per-doc counts table (at 100 TB that join
    * re-shuffles corpus-sized rows every ingest batch; a per-row long
    * does not).
    *
    * `dfs` (shingle, df) is what makes `maxShingleDocFreq` available
    * on the indexed path: the hot-shingle decision needs CORPUS-WIDE
    * document frequencies, and deriving them per batch would be a
    * corpus-sized groupBy — materialized as index rows, the per-batch
    * cost is a scan of the (distinct-shingle-sized) df table instead. */
  case class DedupIndex(hashes: DataFrame, shingles: DataFrame, dfs: DataFrame)

  /** Index rows for `docs`, in memory (the specs' and the equivalence
    * checks' form; [[writeDedupIndex]] is the persisted one). `dfs`
    * is additive over disjoint doc sets and `hashes` needs a distinct
    * over a union, so an index built in parts sums its partial `dfs`
    * rows. */
  def buildDedupIndex(docs: DataFrame, k: Int = 3): DedupIndex = {
    val shingles = indexShingles(docs, k)
    DedupIndex(indexHashes(docs), shingles, docFreqs(shingles))
  }

  /** Each table [[writeDedupIndex]] writes for `docs`, with its
    * schema, from analysis alone (no Spark job): the one source of both
    * [[indexLayout]] and the schemas [[readDedupIndex]] reads with. The
    * schemas do not depend on `k` (a shingle is a long whatever its
    * width), so the reader takes the default. */
  private def indexSchemas(docs: DataFrame, k: Int = 3): Seq[(String, StructType)] = {
    val ix = buildDedupIndex(docs, k)
    Seq("hashes" -> ix.hashes.schema, "shingles" -> ix.shingles.schema,
      "dfs" -> ix.dfs.schema)
  }

  /** The layout [[writeDedupIndex]] gives the index of `docs`: each
    * table's name and schema, from analysis alone (no Spark job). A
    * build-once index keyed by it is rebuilt whenever the layout
    * changes, instead of being read as the current one. */
  private[graft] def indexLayout(docs: DataFrame, k: Int): String =
    indexSchemas(docs, k)
      .map { case (table, schema) => s"$table:${schema.catalogString}" }
      .mkString("|")

  private def indexHashes(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("content_md5")).distinct()

  private def indexShingles(docs: DataFrame, k: Int): DataFrame =
    shinglePostings(docs, k, "c_id", "nc")

  private def docFreqs(shingles: DataFrame): DataFrame =
    shingles.groupBy("shingle").agg(count(lit(1)).as("df"))

  /** Persist the index of `docs` as the production artifact (r17): in
    * a real pipeline the dedup index SHIPS with the corpus (the q185
    * cluster.idx convention) and every ingest batch consumes it as
    * cheap parquet scans — it is not rebuilt per batch. One parquet
    * table per [[DedupIndex]] frame under `path`; [[readDedupIndex]]
    * is the consuming side. Overwrite mode: a publish replaces the
    * previous snapshot whole.
    *
    * `leaf` names a sub-directory under each table, for an index
    * appended in parts (the ingest writes `ingest_batch=<id>`), so
    * each part overwrites only itself and the reader sees one table
    * through partition discovery. `dfs` is derived from the shingle
    * rows just written — a narrow parquet scan — so `docs` is
    * shingled once per write. */
  def writeDedupIndex(docs: DataFrame, path: String, k: Int = 3,
                      leaf: String = ""): Unit = {
    def at(table: String) = if (leaf.isEmpty) s"$path/$table" else s"$path/$table/$leaf"
    indexHashes(docs).write.mode("overwrite").parquet(at("hashes"))
    val shingles = indexShingles(docs, k)
    shingles.write.mode("overwrite").parquet(at("shingles"))
    docFreqs(docs.sparkSession.read.schema(shingles.schema).parquet(at("shingles")))
      .write.mode("overwrite").parquet(at("dfs"))
  }

  /** Read back the index [[writeDedupIndex]] wrote at `path` for docs
    * shaped like `docs` (an index written in leaves reads with the
    * leaf's partition column). Each table reads with the schema
    * [[indexSchemas]] derives, so no Spark job infers one from the
    * files. Every consumer scan is a plain parquet read — deterministic
    * cost, no persist-layer memory/disk bimodality, and
    * [[deltaDedupIndexed]]'s multiple reads of `shingles` each prune
    * columns at the scan. */
  def readDedupIndex(docs: DataFrame, path: String): DedupIndex = {
    val read = indexSchemas(docs).map { case (table, schema) =>
      table -> docs.sparkSession.read.schema(schema).parquet(s"$path/$table")
    }.toMap
    DedupIndex(read("hashes"), read("shingles"), read("dfs"))
  }

  /** The leaves of the index at `path` (see [[writeDedupIndex]]) other
    * than `skip`, the leaf being rewritten (a crash may have left it
    * half-written). Empty before the first other leaf lands. A
    * `shingles` leaf without a `dfs` partner was written before r7,
    * when shingle rows carried no `nc` and no df partial was kept:
    * read as-is it would feed NULL `nc` to the Jaccard filter, so this
    * throws, naming the leaf, and the index must be rebuilt.
    * Driver-side listings, no Spark job. */
  def indexLeaves(spark: org.apache.spark.sql.SparkSession, path: String,
                  skip: String): Set[String] = {
    def leaves(table: String): Set[String] = {
      val dir = new org.apache.hadoop.fs.Path(s"$path/$table")
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName).toSet - skip
    }
    val shingleLeaves = leaves("shingles")
    val stale = shingleLeaves -- leaves("dfs")
    if (stale.nonEmpty) throw new IllegalStateException(
      s"dedup index $path: ${stale.toSeq.sorted.mkString(", ")} has shingle " +
        "rows but no dfs rows (written before r7, without per-doc nc); " +
        "rebuild the index")
    shingleLeaves
  }

  /** [[deltaDedup]] against a prebuilt index — produces the identical
    * novel set (spec-pinned equivalence) without touching corpus text.
    * `k` must match the index's build parameter.
    *
    * `maxShingleDocFreq` matches [[deltaDedup]]'s semantics exactly:
    * hot = df over corpus ∪ delta > cap, with the corpus side read
    * from the index's materialized `dfs` rows (never recomputed from
    * corpus text or a corpus-wide groupBy). Per-doc sizes over the
    * capped universe are the carried `nc`/`nd` MINUS each doc's
    * dropped-row tally (capped path only) — only the rows the cap
    * drops are aggregated, never a corpus-wide per-doc shuffle; the
    * uncapped path reads the carried `nc` as-is — no counts join
    * either way.
    *
    * `containmentPermille` is [[deltaDedup]]'s second gate, available
    * on the indexed path because the materialized index already holds
    * everything containment needs — postings and per-doc counts; the
    * predicate reads the same pair aggregate as Jaccard, so the
    * per-batch cost is unchanged. */
  def deltaDedupIndexed(index: DedupIndex, delta: DataFrame, k: Int = 3,
                        threshold: Double = 0.6,
                        maxShingleDocFreq: Option[Int] = None,
                        releaseEagerly: Boolean = true,
                        containmentPermille: Option[Long] = None): DataFrame = {
    val exactNovel = delta
      .withColumn("content_md5", md5(col("text")))
      .join(index.hashes, Seq("content_md5"), "left_anti")
      .drop("content_md5")
      // same persist rationale as deltaDedup: full-text frame with two
      // consumers; keep lineage, spill not pin; released by novelOnly
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dShAll = shinglePostings(exactNovel, k, "d_id", "nd")
    val (cSh, dSh) = maxShingleDocFreq match {
      case None => (index.shingles, dShAll)
      case Some(cap) =>
        // combined df mirrors deltaDedup's both-sides measurement:
        // corpus df from the materialized index, delta df from this
        // batch's shingles — full-outer summed so a shingle hot on
        // either side alone is still capped consistently
        val dDf = dShAll.groupBy("shingle").agg(count(lit(1)).as("ddf"))
        val hot = index.dfs.join(dDf, Seq("shingle"), "full_outer")
          .filter(coalesce(col("df"), lit(0L)) + coalesce(col("ddf"), lit(0L)) > cap)
          .select("shingle")
        // the carried counts are stale under the cap (they counted the
        // full universe): [[capAdjust]]'s dropped-row subtract keeps
        // the per-batch cost proportional to the rows the cap drops —
        // a re-count window here would shuffle every surviving CORPUS
        // shingle row by c_id on every ingest batch
        (capAdjust(index.shingles, hot, "c_id", "nc"),
          capAdjust(dShAll, hot, "d_id", "nd"))
    }
    val stats = cSh.join(dSh, "shingle")
      .groupBy("c_id", "d_id")
      .agg(count(lit(1)).as("common"),
        max(col("nc")).as("nc"), max(col("nd")).as("nd"))
    novelOnly(delta, exactNovel,
      dupIdsFromStats(stats, threshold, containmentPermille), releaseEagerly)
  }

  /** Streaming exact leg of [[deltaDedup]]: docs arriving on a stream
    * are kept only if their content hash is absent from the static
    * corpus index AND unseen within the stream's watermark horizon —
    * i.e. continuous ingest dedup. The corpus side is the same
    * distinct-hash index the batch leg uses (re-read and broadcast per
    * micro-batch as a stream-static anti-join); within-stream repeats
    * are evicted by `dropDuplicatesWithinWatermark`, so state stays
    * bounded on an unbounded source. Near-dup novelty stays a batch
    * concern (shingle-index joins need the full candidate aggregation;
    * run [[deltaDedup]] on each landed micro-batch output if needed). */
  def streamingDeltaDedup(stream: DataFrame, corpus: DataFrame,
                          tsCol: String = "ts",
                          watermark: String = "1 hour"): DataFrame = {
    val corpusHashes = corpus.select(md5(col("text")).as("content_md5")).distinct()
    stream
      .withColumn("content_md5", md5(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_md5")
      .join(corpusHashes, Seq("content_md5"), "left_anti")
      .drop("content_md5")
  }

  /** Benchmark decontamination: flag corpus docs sharing at least
    * `minOverlap` distinct k-gram shingles with ANY benchmark/eval
    * document — the overlap check run before training so eval sets
    * don't leak into the corpus. Returns (doc_id, n_overlap) for
    * flagged docs; anti-join the corpus against it to scrub.
    *
    * Scale shape: eval sets are small next to the corpus, so the
    * distinct benchmark shingle set broadcasts and the corpus-side
    * count is map-side combinable — one pass over the corpus, no
    * self-join. Shingles are 64-bit hashes (same w.h.p. equivalence
    * as [[ngramJaccardPairs]]). */
  def contamination(docs: DataFrame, benchmark: DataFrame,
                    k: Int = 3, minOverlap: Int = 3): DataFrame = {
    def shingled(df: DataFrame) =
      shingleSets(df, k).select(col("doc_id"), explode(col("fh")).as("shingle"))
    val benchSh = shingled(benchmark).select("shingle").distinct()
    shingled(docs)
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** 64-bit SimHash over distinct k-shingles: per bit, majority vote of
    * the shingle-hash bits — one nested higher-order expression, no UDF.
    * Shingles (not words) as features: on small-vocabulary corpora the
    * distinct-word sets of long documents converge and word-level
    * SimHash degenerates to near-zero hamming between unrelated docs;
    * k-gram features keep the space discriminative. */
  def withSimHash(docs: DataFrame, k: Int = 3): DataFrame = {
    graft.functions.SimHash64.register(docs.sparkSession)
    shingleSets(docs, k)
      .withColumn("simhash", expr("simhash64(fh)"))
      .drop("fh")
  }

  /** SimHash near-dup pairs: candidates from 4×16-bit band equality
    * (a Hamming-distance-≤3 pair must agree on ≥1 band), verified with
    * bit_count(xor) ≤ maxHamming. */
  def simHashPairs(docs: DataFrame, maxHamming: Int = 6, k: Int = 3): DataFrame = {
    val hashed = withSimHash(docs, k)
    val banded = hashed
      .withColumn("bands", expr(
        "transform(sequence(0, 3), b -> (shiftright(simhash, b * 16) & 65535))"))
      .select(col("doc_id"), col("simhash"), posexplode(col("bands")).as(Seq("band_id", "band_val")))
    PairPack.pairsFromPostings(banded, Seq("band_id", "band_val"), "doc_id")
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("s1"), col("b.simhash").as("s2"))
      .dropDuplicates("d1", "d2")
      .withColumn("hamming", expr("bit_count(s1 ^ s2)"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }
}
