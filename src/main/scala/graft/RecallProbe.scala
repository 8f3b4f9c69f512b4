package graft

import org.apache.spark.sql.functions._

/** Dev tool with two jobs:
  *
  *  1. Sweep the ANN dials (SRP tables/bits, IVF nlist/nprobe/lloyd)
  *     against the brute-force baseline and print recall@10 + wall
  *     time per setting — how the fixture-tuned defaults in
  *     SimilarityQueries were chosen.
  *  2. Emit the agreement-oracle rows as ready-to-paste SQL, plus the
  *     fixture content hash — so when `/root/testdata` regenerates
  *     (the pinned-constant spec fails), re-pinning is one run of
  *     this tool, not a hand-derivation. Since r20 only q57/q59–q61/
  *     q188 still PIN constants (the SRP family); the q58/q172/q175
  *     rows printed here are informational — their oracles DERIVE
  *     both legs in DuckDB and re-pin themselves.
  *
  * Usage: RecallProbe [sfDir] [--sweep]
  * (the sweep is opt-in; the default run prints only the re-pin block)
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.filterNot(_.startsWith("--")).getOrElse("/root/testdata/sf0.01")
    val sweep = args.contains("--sweep")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = GraftSession.create(appName = "graft-recall-probe",
      master = s"local[$cpus]", shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    if (sweep) {
      val emb = Tables.embeddings(spark, dir)
        .repartition(spark.sparkContext.defaultParallelism).cache()
      emb.count()
      val queries = emb.filter($"vec_id" < 10)
      val exact = operators.Similarity.bruteForceTopK(emb, queries, k = 10)
        .select("query_id", "neighbor_id").cache()
      val nExact = exact.count()

      def measure(name: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        val approx = f.select("query_id", "neighbor_id")
        val hits = approx.join(exact, Seq("query_id", "neighbor_id")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$name%-28s recall=${hits.toDouble / nExact}%5.2f  ($hits/$nExact)  $sec%6.2f s")
      }

      for (tables <- Seq(8, 16, 32); bits <- Seq(6, 8))
        measure(s"srp tables=$tables bits=$bits")(
          operators.Similarity.annTopK(emb, queries, k = 10,
            tables = tables, bits = bits))
      // the index family runs on integer z codes, as q43/q174 do; an
      // IVF build is memoized per (nlist, lloyd) and shared across
      // nprobe, each IVF-PQ setting pays its own build
      import operators.SimilarityInt
      val z = SimilarityInt.zCodes(emb).cache()
      val zq = z.filter($"vid" < 10)
      def ivf(nlist: Int, nprobe: Int, lloyd: Int) =
        SimilarityInt.ivfTopKInt(
          SimilarityInt.ivfBuildInt(z, nlist, lloyd, seed = 42L,
            memoKey = s"recall_probe:ivf:$nlist:$lloyd"),
          zq, z, k = 10, nprobe = nprobe)
      for (nlist <- Seq(32, 64); nprobe <- Seq(4, 8); lloyd <- Seq(0, 1, 2, 3))
        measure(s"ivf n=$nlist p=$nprobe lloyd=$lloyd")(ivf(nlist, nprobe, lloyd))
      // the equal-candidate-volume family (probed share fixed at 1/8):
      // coarser lists probe fewer/bigger cells, finer lists more/smaller
      // ones, at the same expected share of the corpus scored per query
      for ((nlist, nprobe) <- Seq((16, 2), (64, 8), (128, 16)); lloyd <- Seq(2, 3, 4))
        measure(s"ivf@1/8 n=$nlist p=$nprobe lloyd=$lloyd")(ivf(nlist, nprobe, lloyd))
      // IVFADC: probed share and rerank window against the residual
      // codebook (q174's dials)
      for (nprobe <- Seq(8, 16, 32); rerank <- Seq(50, 100))
        measure(s"ivfpq n=64 p=$nprobe r=$rerank") {
          val idx = SimilarityInt.ivfPqBuildInt(z, nlist = 64, m = 8,
            ksub = 16, iters = 2, seed = 42L,
            memoKey = s"recall_probe:ivfpq:$nprobe:$rerank")
          SimilarityInt.ivfPqTopKInt(idx, zq, z, k = 10,
            nprobe = nprobe, rerank = rerank)
        }
    }

    // ---- re-pin block: the five agreement rows at the PRODUCTION
    // dials (computed by the exact query functions the driver runs, so
    // a paste can't drift from what the query will output)
    println(s"\n== fixture $dir content hash (paste into SimilarityQueries.PinnedFixtureHash):")
    println(f"0x${ops.FixtureId.contentHash(spark, dir)}%016xL")
    val pinned = Seq(
      "q57_ann_recall"        -> ops.SimilarityQueries.q57AnnRecall(spark, dir),
      "q58_ivf_recall"        -> ops.SimilarityQueries.q58IvfRecall(spark, dir),
      "q59_neardup_recall"    -> ops.SimilarityQueries.q59NeardupRecall(spark, dir),
      "q60_minhash_recall"    -> ops.TextQueries.q60MinhashRecall(spark, dir),
      "q61_simhash_agreement" -> ops.TextQueries.q61SimhashAgreement(spark, dir),
      "q172_pq_recall"        -> ops.SimilarityQueries.q172PqRecall(spark, dir),
      "q175_ivfpq_recall"     -> ops.SimilarityQueries.q175IvfPqRecall(spark, dir),
      "q188_srp_semantic_recall" -> ops.SimilarityQueries.q188SrpSemanticRecall(spark, dir))
    println("== pinned oracle SQL (paste into SimilarityQueries.oracles / TextQueries.oracles):")
    pinned.foreach { case (name, df) =>
      val r = df.first()
      val (ne, na, nh) = (r.getLong(0), r.getLong(1), r.getLong(2))
      println(s""""$name" ->
        |  \"\"\"SELECT CAST($ne AS BIGINT) AS n_exact, CAST($na AS BIGINT) AS n_approx,
        |    |  CAST($nh AS BIGINT) AS n_hits,
        |    |  CAST($nh AS DOUBLE)/CAST($ne AS DOUBLE) AS recall\"\"\".stripMargin,""".stripMargin)
    }
    spark.stop()
  }
}
