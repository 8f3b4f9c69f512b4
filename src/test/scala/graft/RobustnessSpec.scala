package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph, Similarity, SimilarityInt, TextAnalysis}
import graft.ops.tb.{TbPipeline, TbSynth}

/** Edge-case robustness: operators must degrade to empty results, not
  * exceptions, when inputs are empty or degenerate — at 100 TB some
  * partition/source WILL be empty, and a pipeline that throws on it
  * loses the whole job.
  */
class RobustnessSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}
  import spark.implicits._

  private lazy val emptyDocs =
    Tables.documents(spark, sf).filter($"doc_id" < 0)

  test("Memo: builds once per (session, key), re-builds after clear, keys distinguish") {
    var builds = 0
    def build() = { builds += 1; Seq((1L, "x")).toDF("doc_id", "text") }
    val a1 = graft.ops.Memo.of(spark, "robustness:memo:a")(build())
    val a2 = graft.ops.Memo.of(spark, "robustness:memo:a")(build())
    assert((a1 eq a2) && builds == 1, "same key must return the same persisted frame")
    graft.ops.Memo.of(spark, "robustness:memo:b")(build())
    assert(builds == 2, "distinct keys must build independently")
    graft.ops.Memo.clear(spark)
    val a3 = graft.ops.Memo.of(spark, "robustness:memo:a")(build())
    assert(builds == 3 && !(a3 eq a1), "clear must drop entries so builds re-run")
    graft.ops.Memo.clear(spark)
  }

  test("Memo.frameKey: content-derived frame identity, not object identity") {
    import spark.implicits._
    val base = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_fk").toString
    base.write.mode("overwrite").parquet(dir)
    // two independent reads of the same table → same plan → same key
    // (the cache SHOULD be shared: same input, same result)
    assert(graft.ops.Memo.frameKey(spark.read.parquet(dir)) ==
      graft.ops.Memo.frameKey(spark.read.parquet(dir)))
    // a transformed column → different plan → different key (the bug
    // class this replaces: identityHashCode collided raw-vs-derived
    // frames and could serve the wrong cached centroids)
    assert(graft.ops.Memo.frameKey(base) !=
      graft.ops.Memo.frameKey(base.withColumn("text", upper($"text"))))
  }

  test("Registration claims a name over a foreign pre-registration, once") {
    // a user registered their own constant-valued 'cosine_sim'-alike
    // BEFORE graft: graft's register must replace it (operators depend
    // on graft semantics), and later registers must not churn it
    val name = "graft_reg_probe"
    spark.udf.register(name, () => 42)
    graft.functions.Registration.once(spark, name) { exprs =>
      org.apache.spark.sql.catalyst.expressions.Literal(7)
    }
    assert(spark.sql(s"SELECT $name()").first().getInt(0) == 7,
      "graft's builder must win over the pre-existing foreign function")
    // a second once() is a no-op set lookup (same registered builder)
    graft.functions.Registration.once(spark, name) { exprs =>
      org.apache.spark.sql.catalyst.expressions.Literal(8)
    }
    assert(spark.sql(s"SELECT $name()").first().getInt(0) == 7,
      "once() must not re-register an already-claimed name")
  }

  test("dedup family on empty input returns empty, no exceptions") {
    assert(Dedup.exactDedup(emptyDocs).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs).count() == 0)
    assert(Dedup.minHashPairs(emptyDocs).count() == 0)
    assert(Dedup.simHashPairs(emptyDocs).count() == 0)
  }

  test("connected components of an empty pair list is empty") {
    val noPairs = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Graph.connectedComponents(noPairs).count() == 0)
  }

  test("docs shorter than the shingle size are dropped, not crashed on") {
    val tiny = Seq((1L, "one two"), (2L, "a b c d e")).toDF("doc_id", "text")
    val sh = Dedup.withShingles(tiny, k = 3)
    assert(sh.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("text analysis tolerates empty strings") {
    val df = Seq((1L, ""), (2L, "hello world")).toDF("doc_id", "text")
    val t = TextAnalysis.withQualityScore(
      TextAnalysis.withTokenCounts(TextAnalysis.withLanguageId(df)))
    assert(t.count() == 2)
    assert(t.filter($"doc_id" === 1).select("lang_pred").first().getString(0) == "unknown")
  }

  test("similarity on empty query set returns the empty contract") {
    val emptyQ = Tables.embeddings(spark, sf).filter($"vec_id" < 0)
    val corpus = Tables.embeddings(spark, sf)
    assert(Similarity.bruteForceTopK(corpus, emptyQ, 5).count() == 0)
    assert(Similarity.annTopK(corpus, emptyQ, 5).count() == 0)
    val z = SimilarityInt.zCodes(corpus)
    val ivf = SimilarityInt.ivfBuildInt(z, nlist = 32, iters = 2, seed = 42L,
      memoKey = "robustness:ivf")
    assert(SimilarityInt.ivfTopKInt(ivf, SimilarityInt.zCodes(emptyQ), z,
      k = 5, nprobe = 4).count() == 0)
  }

  test("round-2 text operators tolerate empty and degenerate inputs") {
    val docs = Tables.documents(spark, sf)
    val empty = docs.filter($"doc_id" < 0)
    assert(TextAnalysis.termDocFreq(empty).count() == 0)
    assert(TextAnalysis.withRedaction(empty).count() == 0)
    assert(TextAnalysis.mixBySourceQuota(docs, Map.empty).count() == 0,
      "no weights -> nothing kept")
    assert(operators.Graph.connectedComponentsStars(
      docs.filter(lit(false)).select($"doc_id".as("d1"), $"doc_id".as("d2")))
      .count() == 0, "star CC on an empty edge set")
  }

  test("TB pipeline on generated data scales past the reference's 240 rows") {
    val n = 2000 // 2000 countries x 6 years x 4 indicators = 48k facts
    val rated = TbPipeline.deriveRates(
      TbPipeline.joinPopulation(
        TbPipeline.pivotIndicators(
          TbPipeline.cleanTb(TbSynth.facts(spark, n))),
        TbPipeline.cleanPopulation(TbSynth.population(spark, n))))
    val summary = TbPipeline.countrySummary(rated)
    assert(summary.count() == n)
    assert(summary.filter($"population" <= 0).count() == 0)
    assert(summary.filter($"total_cases_per_100k".isNull).count() == 0)
    val trends = TbPipeline.yearlyTrends(rated)
    assert(trends.count() == 6)
    // generator is deterministic: same call, same data
    val again = TbPipeline.countrySummary(TbPipeline.deriveRates(
      TbPipeline.joinPopulation(
        TbPipeline.pivotIndicators(TbPipeline.cleanTb(TbSynth.facts(spark, n))),
        TbPipeline.cleanPopulation(TbSynth.population(spark, n)))))
    assert(again.collect().map(_.toSeq).toSet == summary.collect().map(_.toSeq).toSet)
  }

  test("TB pipeline tolerates fully-filtered (empty) cleaned input") {
    val junk = Seq(("X", "XXX", "SEA", "not_a_year", "e_inc_num", -5.0))
      .toDF("country", "iso3", "g_whoregion", "year", "indicator", "value")
    val clean = TbPipeline.cleanTb(junk)
    assert(clean.count() == 0)
    val pivoted = TbPipeline.pivotIndicators(clean)
    assert(pivoted.count() == 0)
  }

  test("delta dedup and clean corpus tolerate empty sides") {
    import graft.operators.{Dedup, TextAnalysis}
    val docs = Seq((1L, (0 until 25).map(i => s"w$i").mkString(" "), "src"))
      .toDF("doc_id", "text", "source")
    val empty = docs.filter(lit(false))
    // empty corpus: every delta doc is novel
    assert(Dedup.deltaDedup(empty, docs).count() == 1)
    // empty delta: nothing to test, nothing returned
    assert(Dedup.deltaDedup(docs, empty).count() == 0)
    // empty input to the recipe: empty output, no divide-by-zero
    assert(TextAnalysis.cleanCorpus(empty).count() == 0)
    // streaming leg's static index also tolerates an empty corpus —
    // exercised in batch shape here (same hash-index expressions)
    assert(Dedup.exactDedup(empty).count() == 0)
  }

  test("round-5 operators tolerate empty and degenerate inputs") {
    import graft.operators.Sharding
    val docs = Seq((1L, (0 until 25).map(i => s"w$i").mkString(" "), "src"))
      .toDF("doc_id", "text", "source")
    val empty = docs.filter(lit(false))
    // packing an empty corpus: no fragments, no window crash
    assert(Sharding.packSequences(empty, 64).count() == 0)
    // BM25 with no matching docs: empty top-k, no divide-by-zero in
    // avgdl (count 0) — the stats agg runs over an empty frame
    assert(TextAnalysis.bm25TopK(empty, Seq("spark")).count() == 0)
    // BM25 where no doc matches any term: empty, not erroring
    assert(TextAnalysis.bm25TopK(docs, Seq("absent_term")).count() == 0)
    // indexed delta dedup with empty delta / empty-index shingles
    val idx = Dedup.buildDedupIndex(docs)
    assert(Dedup.deltaDedupIndexed(idx, empty).count() == 0)
    val emptyIdx = Dedup.buildDedupIndex(empty)
    assert(Dedup.deltaDedupIndexed(emptyIdx, docs).count() == 1)
    // quantizing an empty frame
    assert(Similarity.quantizeInt8(
      Tables.embeddings(spark, sf).filter($"vec_id" < 0)).count() == 0)
  }
}
