package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkInternals

import graft.operators.{Dedup, Graph, TextAnalysis}

class DedupTextSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private lazy val docs = Tables.documents(spark, sf)

  /** Evaluations of each pair by connected components above
    * `Graph.LocalMaxEdges`: 2 when the distributed tier was the only
    * one (its symmetric edges read the pair list twice). */
  private val PairEvals = 2

  test("exact dedup keeps one row per distinct text") {
    val d = Dedup.exactDedup(docs)
    assert(d.count() == docs.select("text").distinct().count())
    assert(d.filter(col("n_copies") < 1).count() == 0)
  }

  test("exact dedup collapses planted duplicates") {
    import spark.implicits._
    val withDupes = docs.select("doc_id", "text")
      .unionByName(docs.select(($"doc_id" + 1000000).as("doc_id"), $"text").limit(10))
    val d = Dedup.exactDedup(withDupes)
    assert(d.filter($"n_copies" === 2).count() == 10)
    // survivor is always the smallest doc_id (the original)
    assert(d.filter($"doc_id" >= 1000000).count() == 0)
  }

  test("minhash LSH finds every strong near-dup the exact path finds") {
    import spark.implicits._
    val exact = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minHashPairs(docs, k = 3, numHashes = 16, bands = Some(4), threshold = 0.9)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // At j>=0.9 the 16/4 banding miss probability is < 1e-4 per pair.
    assert(exact == lsh, s"LSH missed ${exact -- lsh}, extra ${lsh -- exact}")
  }

  test("hot-shingle cap: high cap is a no-op, aggressive cap only prunes") {
    val base = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cap above the fixture's max shingle document frequency → identical
    val capped = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6,
        maxShingleDocFreq = Some(1000000))
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped == base)
    // an aggressive cap still yields well-formed, verified pairs
    // (jaccard CAN rise when hot shingles leave the union, so pair
    // sets are not comparable — only the output contract is)
    val tight = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6,
        maxShingleDocFreq = Some(2))
      .select("d1", "d2", "jaccard").collect()
    assert(tight.forall(r => r.getLong(0) < r.getLong(1)))
    assert(tight.forall(r => r.getDouble(2) >= 0.6 && r.getDouble(2) <= 1.0))
  }

  test("minhash pairs are verified (never below threshold)") {
    import spark.implicits._
    assert(Dedup.minHashPairs(docs, threshold = 0.6)
      .filter($"jaccard" < 0.6).count() == 0)
  }

  test("simhash: identical docs get identical simhash, near-dups small hamming") {
    import spark.implicits._
    val h = Dedup.withSimHash(docs.limit(50)).select("doc_id", "simhash")
    val again = Dedup.withSimHash(docs.limit(50)).select(
      $"doc_id".as("doc_id2"), $"simhash".as("simhash2"))
    val joined = h.join(again, $"doc_id" === $"doc_id2")
    assert(joined.filter($"simhash" =!= $"simhash2").count() == 0)

    val pairs = Dedup.simHashPairs(docs, maxHamming = 6)
    assert(pairs.filter($"hamming" > 6).count() == 0)
  }

  test("simhash banding is lossless for hamming <= 3 (pigeonhole over 4 bands)") {
    import spark.implicits._
    // brute-force ground truth on the small fixture
    val h = Dedup.withSimHash(docs).select("doc_id", "simhash")
    val truth = h.as("a").join(h.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("hamming", expr("bit_count(a.simhash ^ b.simhash)"))
      .filter($"hamming" <= 3)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.simHashPairs(docs, maxHamming = 3)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "fixture should contain hamming<=3 near-dups")
    assert(lsh == truth, s"missed ${truth -- lsh}, extra ${lsh -- truth}")
  }

  test("token counts: regex tokenizer >= whitespace tokenizer on word text") {
    import spark.implicits._
    val t = TextAnalysis.withTokenCounts(docs)
    assert(t.filter($"n_tokens_re" < $"n_tokens_ws").count() == 0)
  }

  test("quality score is bounded in [0,1]") {
    import spark.implicits._
    val q = TextAnalysis.withQualityScore(docs)
    assert(q.filter($"quality_score" < 0 || $"quality_score" > 1).count() == 0)
  }

  test("language id predicts a known code and scores are consistent") {
    import spark.implicits._
    val l = TextAnalysis.withLanguageId(docs)
    assert(l.filter(!$"lang_pred".isin("en", "es", "fr", "de", "unknown")).count() == 0)
    // fixture text is English-ish function words: en must dominate
    val n = l.count()
    assert(l.filter($"lang_pred" === "en").count() > n / 2)
  }

  test("fingerprints are deterministic and md5 matches text equality") {
    import spark.implicits._
    val f = TextAnalysis.withFingerprints(docs)
    assert(f.select("fp_md5").distinct().count() ==
      docs.select("text").distinct().count())
    assert(f.filter(length($"fp_md5") =!= 32).count() == 0)
    // rolling hash: no collisions across distinct texts in fixture
    assert(f.select("fp_rolling").distinct().count() ==
      docs.select("text").distinct().count())
  }

  test("redaction scrubs planted emails and long digit runs, counts match") {
    import spark.implicits._
    val planted = Seq(
      (1L, "contact bob.smith@example.com or call 5551234567 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org and id 123456789")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.withRedaction(planted)
      .select("doc_id", "n_redactions", "redacted")
      .collect().map(x => (x.getLong(0), (x.getLong(1), x.getString(2)))).toMap
    assert(r(1L)._1 == 2 && r(1L)._2 == "contact <EMAIL> or call <NUM> now")
    assert(r(2L)._1 == 0 && r(2L)._2 == "no pii here at all")
    assert(r(3L)._1 == 3 && r(3L)._2 == "two mails <EMAIL> <EMAIL> and id <NUM>")
  }

  test("term df and tf-idf: df counts docs once, rare terms outweigh common") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "common common rare"),
      (2L, "common other"),
      (3L, "common third")
    ).toDF("doc_id", "text")
    val df = TextAnalysis.termDocFreq(corpus)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("common") == 3, "repeated in-doc terms count once")
    assert(df("rare") == 1)
    val ti = TextAnalysis.withTfIdf(corpus)
      .filter($"doc_id" === 1L)
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Double]("tf_idf")).toMap
    assert(ti("common") == 0.0, "df == N terms carry zero idf")
    assert(ti("rare") > 0.0, "rare terms must outweigh ubiquitous ones")
  }

  test("source mixing keeps exactly ceil(weight * source size) per source") {
    import spark.implicits._
    val mixed = TextAnalysis.mixBySourceQuota(docs,
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val per = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mixed("src0") == per("src0"))
    assert(mixed("src1") == math.ceil(per("src1") * 0.5).toLong)
    assert(mixed("src2") == math.ceil(per("src2") * 0.25).toLong)
    assert(mixed("src3") == math.ceil(per("src3") * 0.1).toLong)
    assert(!mixed.contains("src4"), "unlisted sources are dropped")
  }

  test("decontamination flags docs overlapping the benchmark, spares the rest") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then the quick brown fox jumps over something"), // 4 shared 3-grams
      (2L, "completely unrelated sentence with different vocabulary entirely"),
      (3L, "quick brown fox appears here")  // 1 shared 3-gram, below threshold 3
    ).toDF("doc_id", "text")
    val flagged = Dedup.contamination(corpus, bench, k = 3, minOverlap = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.contains(1L) && flagged(1L) >= 3)
    assert(!flagged.contains(2L) && !flagged.contains(3L))
  }

  test("chunking: overlap stitches, short docs stay whole, tokens re-concatenate") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 words
      (2L, "tiny doc")
    ).toDF("doc_id", "text")
    val chunks = TextAnalysis.chunkDocs(corpus, chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // step 3: chunks at words 1-4, 4-7, 7-10
    assert(chunks((1L, 0L)) == "w1 w2 w3 w4")
    assert(chunks((1L, 1L)) == "w4 w5 w6 w7")
    assert(chunks((1L, 2L)) == "w7 w8 w9 w10")
    assert(!chunks.contains((1L, 3L)))
    assert(chunks((2L, 0L)) == "tiny doc")
    // every adjacent chunk pair shares exactly the overlap token
    assert(chunks((1L, 0L)).split(" ").last == chunks((1L, 1L)).split(" ").head)
  }

  test("top terms: planted rare term outranks common terms, k respected") {
    import spark.implicits._
    // 'zyzzyva' appears 3x in ONE doc (tf=3, df=1 -> lift 3.0); 'the'
    // is in every doc (lift <= tf/n_docs); doc 1's top term must be
    // the rare one and every doc gets at most k rows
    val corpus = Seq(
      (1L, "zyzzyva zyzzyva zyzzyva the quick brown fox"),
      (2L, "the quick brown fox jumps over dog"),
      (3L, "the lazy dog sleeps all day long")).toDF("doc_id", "text")
    val top = TextAnalysis.topTermsPerDoc(corpus, k = 2).cache()
    assert(top.filter($"doc_id" === 1 && $"rank" === 1)
      .select("term").as[String].head() == "zyzzyva")
    assert(top.groupBy("doc_id").count().filter($"count" > 2).count() == 0)
  }

  test("dup chunks: planted shared boilerplate flagged, unique docs spared") {
    import spark.implicits._
    val boiler = (1 to 32).map(i => s"license$i").mkString(" ")
    def unique(id: Long) = (1 to 32).map(i => s"w${id}_$i").mkString(" ")
    // docs 1/2 share an ALIGNED 32-token boilerplate block (their first
    // chunk); docs 3/4 are fully unique
    val corpus = Seq(
      (1L, s"$boiler ${unique(1)}"),
      (2L, s"$boiler ${unique(2)}"),
      (3L, unique(3)),
      (4L, unique(4))).toDF("doc_id", "text")
    val flagged = TextAnalysis.dupChunkDocs(corpus,
      chunkTokens = 32, overlap = 0, minDocs = 2, minDupChunks = 1)
    assert(flagged.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // in-doc repetition alone must NOT flag (cross-doc sharing only)
    val selfRep = Seq((9L, s"$boiler $boiler")).toDF("doc_id", "text")
      .unionByName(corpus.filter($"doc_id" >= 3))
    assert(TextAnalysis.dupChunkDocs(selfRep, 32, 0, 2, 1)
      .filter($"doc_id" === 9).count() == 0)
  }

  test("corpus stats: counts reconcile with direct aggregates per source") {
    import spark.implicits._
    val stats = TextAnalysis.corpusStats(docs).cache()
    val direct = docs.groupBy("source").agg(
      count(lit(1)).as("n"), countDistinct(md5($"text")).as("nd"))
    val joined = stats.join(direct, "source")
    assert(joined.filter($"n_docs" =!= $"n").count() == 0)
    assert(joined.filter($"n_distinct_texts" =!= $"nd").count() == 0)
    assert(joined.filter(
      $"n_exact_dup_docs" =!= ($"n_docs" - $"n_distinct_texts")).count() == 0)
    assert(stats.filter($"n_en_docs" > $"n_docs").count() == 0)
    assert(stats.filter(
      abs($"mean_doc_tokens" * $"n_docs" - $"total_tokens") > 1e-6).count() == 0)
  }

  test("bigram repetition: looped text scores ~1, varied text low, short docs drop") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam"),          // one bigram repeated
      (2L, "each word here appears only once total"), // all bigrams unique
      (3L, "solo")                                    // no bigram support
    ).toDF("doc_id", "text")
    val r = TextAnalysis.bigramRepetition(corpus)
      .collect().map(x => x.getLong(0) -> x.getAs[Double]("top_ratio")).toMap
    assert(r(1L) == 1.0)
    assert(r(2L) < 0.2)
    assert(!r.contains(3L))
    // fixture sanity: ratios are valid fractions
    val f = TextAnalysis.bigramRepetition(docs)
    assert(f.filter(col("top_ratio") <= 0 || col("top_ratio") > 1).count() == 0)
  }

  test("connected components label chains transitively to the min id") {
    import spark.implicits._
    // chain 1-2-3-4 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val comp = Graph.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components hand a chain to star, which fails loudly") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allZero = (0L to 59L).map(_ -> 0L).toMap
    // a 60-node chain: diameter 59, min-label round 1 changes 58 of its
    // 60 labels, so the labels come from the star-contraction handover
    val chain = (0L until 59L).map(i => (i + 1, i)).toDF("d1", "d2")
    assert(labels(Graph.distributedComponents(chain)) == allZero)
    // star contraction itself still refuses a non-fixpoint labelling
    val e = intercept[IllegalStateException] {
      Graph.connectedComponentsStars(chain, maxIter = 1).collect()
    }
    assert(e.getMessage.contains("no fixpoint after 1 rounds"))
  }

  test("connected components: job budget of the star handover") {
    import spark.implicits._
    val sc = spark.sparkContext
    def jobs(tag: String)(body: => Unit): Int =
      SparkInternals.jobsStarted(sc, s"dedup-spec-cc-$tag")(body)
    // the chain stalls in round 1, so it pays star's jobs plus at most
    // a few min-label rounds — not all 20 capped rounds
    val chain = (0L until 59L).map(i => (i + 1, i)).toDF("d1", "d2")
    val sym = chain.select($"d1".as("a"), $"d2".as("b"))
      .union(chain.select($"d2".as("a"), $"d1".as("b"))).distinct()
    val perRound = jobs("round")(Graph.minLabelRounds(sym).next())
    val starChain = jobs("star-chain")(Graph.connectedComponentsStars(chain).collect())
    val ccChain = jobs("cc-chain")(Graph.distributedComponents(chain).collect())
    assert(perRound > 0 && ccChain <= starChain + 3 * perRound,
      s"chain: cc $ccChain jobs, star $starChain, $perRound per min-label round")
    // fixture near-dup clusters are shallow, so min-label reaches its
    // fixpoint and starts no star round: a handover would pay every
    // star job on top of the min-label rounds already run
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6)
      .select("d1", "d2").localCheckpoint()
    val starPairs = jobs("star-pairs")(Graph.connectedComponentsStars(pairs).collect())
    val ccPairs = jobs("cc-pairs")(Graph.distributedComponents(pairs).collect())
    assert(ccPairs < starPairs, s"fixture pairs: cc $ccPairs jobs, star $starPairs")
  }

  test("star-contraction CC equals min-label CC (fixture, chain, random)") {
    import spark.implicits._
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture near-dup pairs (shallow clusters — the common case)
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6)
      .select("d1", "d2").cache()
    assert(labels(Graph.connectedComponentsStars(pairs)) ==
      labels(Graph.distributedComponents(pairs)))
    // a 60-node chain: diameter 59 — min-label needs many rounds, star
    // contraction must agree while converging in O(log^2) rounds
    val chain = (0L until 59L).map(i => (i + 1, i)).toDF("d1", "d2")
    val chainStars = labels(Graph.connectedComponentsStars(chain))
    assert(chainStars == (0L to 59L).map(i => (i, 0L)).toSet)
    // random multi-component graph
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .toDF("d1", "d2")
    val sym = edges.select($"d1".as("a"), $"d2".as("b"))
      .union(edges.select($"d2".as("a"), $"d1".as("b"))).distinct()
    val minLabel = Graph.minLabelRounds(sym).dropWhile(_._2 > 0).next()._1
    assert(labels(Graph.connectedComponentsStars(edges)) == labels(minLabel))
    pairs.unpersist()
  }

  test("connected components: the driver tier labels like the distributed tier") {
    import spark.implicits._
    def same(pairs: DataFrame): Unit = {
      val local = Graph.connectedComponents(pairs)
      val distributed = Graph.distributedComponents(pairs)
      assert(local.queryExecution.analyzed.isInstanceOf[LocalRelation])
      assert(local.schema == distributed.schema)
      assert(local.collect().toSet == distributed.collect().toSet)
    }
    same(Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6).select("d1", "d2"))
    // the 60-node chain, which the distributed tier hands to star
    same((0L until 59L).map(i => (i + 1, i)).toDF("d1", "d2"))
    // the seeded random multi-component graph
    val rnd = new scala.util.Random(7)
    same(Seq.fill(120)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .toDF("d1", "d2"))
    // Int ids stay Int
    val ints = Seq((2, 1), (3, 2), (7, 5)).toDF("d1", "d2")
    same(ints)
    assert(Graph.connectedComponents(ints).schema.map(_.dataType) ==
      Seq(IntegerType, IntegerType))
    // no pairs: an empty frame with the distributed tier's schema
    same(Seq.empty[(Long, Long)].toDF("d1", "d2"))
  }

  test("connected components: job budget of the driver tier and its bound") {
    val sc = spark.sparkContext
    def isLocal(df: DataFrame) = df.queryExecution.analyzed.isInstanceOf[LocalRelation]
    // n disjoint pairs (2i+1, 2i)
    def pairs(n: Long) = spark.range(n).select(
      (col("id") * 2 + 1).as("d1"), (col("id") * 2).as("d2"))
    var comp: DataFrame = null
    val fixture = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6)
      .select("d1", "d2").localCheckpoint()
    val fixtureJobs = SparkInternals.jobsStarted(sc, "dedup-spec-cc-fixture") {
      comp = Graph.connectedComponents(fixture)
    }
    assert(isLocal(comp) && fixtureJobs <= 2, s"fixture pairs: $fixtureJobs jobs")
    val atBound = SparkInternals.jobsStarted(sc, "dedup-spec-cc-bound") {
      comp = Graph.connectedComponents(pairs(Graph.LocalMaxEdges))
    }
    assert(isLocal(comp) && atBound <= 2, s"${Graph.LocalMaxEdges} pairs: $atBound jobs")
    assert(comp.count() == 2L * Graph.LocalMaxEdges)
    comp = Graph.connectedComponents(pairs(Graph.LocalMaxEdges + 1))
    assert(!isLocal(comp) && comp.count() == 2L * (Graph.LocalMaxEdges + 1))
  }

  test("connected components above the bound evaluate the pair list no more than before") {
    val sc = spark.sparkContext
    val evals = sc.longAccumulator("dedup-spec-cc-pair-evals")
    val tap = udf { (id: Long) => evals.add(1); id }
    val n = Graph.LocalMaxEdges + 1L
    val pairs = spark.range(n).select(
      (tap(col("id")) * 2 + 1).as("d1"), (col("id") * 2).as("d2"))
    assert(Graph.connectedComponents(pairs).count() == 2 * n)
    assert(evals.value <= PairEvals * n, s"${evals.value} evaluations of $n pairs")
  }

  test("dedup corpus: one representative survives per near-dup component") {
    import spark.implicits._
    val pairs = Dedup.ngramJaccardPairs(docs, k = 3, threshold = 0.6).select("d1", "d2")
    val comp = Graph.connectedComponents(pairs)
    val survivors = docs.join(comp, Seq("doc_id"), "left")
      .filter($"component_id".isNull || $"component_id" === $"doc_id")
    val expected = docs.count() -
      comp.filter($"doc_id" =!= $"component_id").count()
    assert(survivors.count() == expected)
  }

  test("dedupCorpus: planted exact+near dups removed, originals kept, columns intact") {
    import spark.implicits._
    // plant: an exact copy of doc 0 and the fixture's own near-dups
    val withDupes = docs.select("doc_id", "text", "source")
      .unionByName(docs.filter($"doc_id" === 0)
        .select(($"doc_id" + 900000).as("doc_id"), $"text", $"source"))
    val out = Dedup.dedupCorpus(withDupes).cache()
    assert(out.columns.toSet == Set("doc_id", "text", "source"))
    assert(out.filter($"doc_id" === 900000).count() == 0, "exact copy must die")
    assert(out.filter($"doc_id" === 0).count() == 1, "original survives")
    // near-dup components keep exactly their min id
    val pairs = Dedup.minHashPairs(withDupes.join(
        Dedup.exactDedup(withDupes).select("doc_id"), Seq("doc_id"), "left_semi"))
      .select("d1", "d2")
    val comp = Graph.connectedComponents(pairs)
    val expected = withDupes.count() - 1 /* exact dup */ -
      comp.filter($"doc_id" =!= $"component_id").count()
    assert(out.count() == expected)
    out.unpersist()
  }

  test("hot LSH bucket: a planted near-identical clique completes bounded and correct") {
    // The LSH worst case: c docs that all share one (band, band_hash)
    // bucket generate c*(c-1)/2 candidate pairs in the self-join — at
    // cluster scale this is the one-straggler-task failure mode AQE's
    // skew-join splits at runtime. Plant the clique (each doc gets one
    // unique token so the exact-dedup pre-pass cannot collapse it) and
    // assert the whole path completes inside a hard time limit with
    // exactly the clique's pair set — no candidate loss, no blowup.
    import org.scalatest.concurrent.TimeLimits.failAfter
    import org.scalatest.concurrent.{Signaler, ThreadSignaler}
    import org.scalatest.time.{Seconds, Span}
    import spark.implicits._
    implicit val signaler: Signaler = ThreadSignaler
    // the runtime guard this test leans on must actually be on
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true")
    val c = 150
    val base = (0 until 40).map(i => s"w$i").mkString(" ")
    val clique = (0 until c).map(i => (10000L + i, s"$base unique$i"))
    val fillers = (0 until 200).map { i =>
      (20000L + i, (0 until 40).map(j => s"f${i}_$j").mkString(" "))
    }
    val planted = (clique ++ fillers).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val pairs = failAfter(Span(180, Seconds)) {
      Dedup.minHashPairs(planted, k = 3, numHashes = 16, bands = Some(4),
        threshold = 0.6).select("d1", "d2").collect()
    }
    // 41-shingle docs differing in one trailing token: jaccard ~ 39/43
    // >> 0.6, identical first 38 shingles -> same bucket w.h.p.
    assert(pairs.length == c * (c - 1) / 2,
      s"expected the full clique pair set, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) >= 10000L && r.getLong(1) < 20000L),
      "filler docs must not pair")
  }

  test("hot shingle: the df-cap removes the quadratic stop-phrase join, keeps true pairs") {
    // A shingle occurring in every doc makes the inverted-index
    // self-join quadratic in corpus size; maxShingleDocFreq is the
    // structural guard (drop hot shingles from index AND sizes). Docs
    // sharing ONLY the stop-phrase must produce no pair under the cap,
    // while a planted true near-dup pair survives.
    import spark.implicits._
    val phrase = "the quick brown fox jumps over"
    val docsHot = (0 until 300).map { i =>
      val tail = (0 until 12).map(j => s"t${i}_$j").mkString(" ")
      (i.toLong, s"$phrase $tail")
    } :+ (9000L, s"$phrase alpha beta gamma delta epsilon zeta") :+
      (9001L, s"$phrase alpha beta gamma delta epsilon eta")
    val df = docsHot.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
    val capped = Dedup.ngramJaccardPairs(df, k = 3, threshold = 0.3,
        maxShingleDocFreq = Some(50))
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((9000L, 9001L)),
      "a true near-dup sharing non-hot shingles must survive the cap")
    assert(capped.forall { case (a, b) => a >= 9000L && b >= 9000L },
      s"stop-phrase-only overlaps must not pair under the cap, got $capped")
  }

  test("delta dedup: corpus dups drop (exact+near), novel and delta-internal dups survive") {
    import spark.implicits._
    val base = (0 until 30).map(i => s"c$i").mkString(" ")
    val other = (0 until 30).map(i => s"o$i").mkString(" ")
    val corpus = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, base),                              // exact copy of corpus 1 → drop
      (11L, other.replace("o29", "changed")),   // near-dup of corpus 2 → drop
      (12L, (0 until 30).map(i => s"n$i").mkString(" ")), // novel → keep
      (13L, (0 until 30).map(i => s"m$i").mkString(" ")), // novel twin A → keep
      (14L, (0 until 30).map(i => s"m$i").mkString(" "))  // novel twin B → keep
    ).toDF("doc_id", "text")                    // (self-novelty out of scope)
    val kept = Dedup.deltaDedup(corpus, delta, k = 3, threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L, 13L, 14L), s"got $kept")
    // a hot-shingle cap above the max df is a no-op here too
    val capped = Dedup.deltaDedup(corpus, delta, k = 3, threshold = 0.6,
      maxShingleDocFreq = Some(1000))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped == kept)
  }

  test("delta dedup releases its internal full-text cache per call") {
    // the continuous-ingest contract: one deltaDedup(Indexed) call per
    // micro-batch must not leave a CacheManager-pinned full-text frame
    // behind, or a long-running ingest grows the cache without bound.
    // Probe: persisted-but-not-checkpointed RDD count is unchanged
    // across calls (the ids-only local checkpoints are exempt — the
    // ContextCleaner reclaims those once the result frame is dropped).
    import spark.implicits._
    val sc = spark.sparkContext
    def cachedNonCkpt() =
      sc.getPersistentRDDs.values.count(r => !r.isCheckpointed)
    val corpus = Seq((1L, (0 until 30).map(i => s"c$i").mkString(" ")))
      .toDF("doc_id", "text")
    val delta = Seq((10L, (0 until 30).map(i => s"n$i").mkString(" ")))
      .toDF("doc_id", "text")
    val before = cachedNonCkpt()
    Dedup.deltaDedup(corpus, delta, k = 3, threshold = 0.6).count()
    val index = Dedup.buildDedupIndex(corpus, k = 3)
    Dedup.deltaDedupIndexed(index, delta, k = 3, threshold = 0.6).count()
    assert(cachedNonCkpt() == before,
      "deltaDedup/deltaDedupIndexed must unpersist their internal frame")
  }

  test("clean corpus recipe: each dimension rejects its planted doc, good doc survives") {
    import spark.implicits._
    val good = "the quick value of a table is to scan and merge " +
      ((0 until 30).map(i => s"w$i").mkString(" ")) // stopwords + length + variety
    val tooShort = "the a of"
    val looped = ("the a " * 30).trim                 // repetition ceiling
    val nonEnglish = "el la de que y en los " + (0 until 20).map(i => s"x$i").mkString(" ")
    val junk = "!!! ??? *** " + (0 until 25).map(_ => "###").mkString(" ") // punct tanks quality
    val df = Seq((1L, good), (2L, tooShort), (3L, looped), (4L, nonEnglish), (5L, junk))
      .map { case (id, t) => (id, t, "src") }.toDF("doc_id", "text", "source")
    val kept = TextAnalysis.cleanCorpus(df, minTokens = 10, maxTokens = 100,
        minQuality = 0.5, maxTopBigramRatio = 0.3, langs = Seq("en"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L), s"got $kept")
    // signal columns ride along for downstream re-weighting
    val row = TextAnalysis.cleanCorpus(df, minTokens = 10, maxTokens = 100,
      minQuality = 0.5, maxTopBigramRatio = 0.3, langs = Seq("en")).first()
    assert(row.schema.fieldNames.toSeq == Seq("doc_id", "source", "n_tokens_ws",
      "quality_score", "lang_pred", "top_ratio"))
  }

  test("dedup plans contain no cartesian product") {
    val plan = Dedup.minHashPairs(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"LSH path must not degenerate to cross join:\n$plan")
  }
}
