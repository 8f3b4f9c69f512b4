package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.{Bench, GraftSession, TbHttpServe}

/** One benchmark run in one JVM:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *        --work DIR --out FILE --ledger FILE --trace-file FILE
  *
  * Sets up the session cold (from JVM start), has [[setups]] - 1 fresh
  * JVMs do the same set-up and nothing else, runs the workload, checks
  * its outputs, and writes the result as JSON to `--out`.
  * `perfbench/run.py` builds the classpath and calls this.
  *
  *   Main --setup-only 1 --workload W --cpus C --out FILE
  *
  * is such a set-up JVM: it writes "cpu wall" seconds to `--out`. */
object Main {

  val workloads: Map[String, Run => Outcome] = Map(
    "tb-refresh" -> TbRefresh.run,
    "corpus" -> Corpus.run)

  /** Cold set-ups per run, this JVM's own included. */
  val setups = 2
  val setupDeadlineS = 60L

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val body = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val cpus = opt("cpus").toInt

    // Setup = session + function registry (+ the HTTP server for the
    // serving workload) ready, from JVM start: what every TbMain or
    // CorpusMain invocation pays. Read as wall seconds and as CPU
    // seconds of the calling thread (JVM start and class loading
    // included), which CPU withheld by the host does not inflate.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.create(appName = s"perfbench-$workload",
      master = s"local[$cpus]", shufflePartitions = Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    if (workload == "tb-refresh") TbHttpServe.start(Map.empty, 0).stop(0)
    val own = (ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9,
      (System.currentTimeMillis() - jvmStart) / 1e3)
    if (opt.get("setup-only").contains("1")) {
      spark.stop()
      Files.writeString(Paths.get(opt("out")), s"${own._1} ${own._2}")
      return
    }

    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val cold = own +: (2 to setups).map(i => setupJvm(workload, cpus, work.resolve(s"setup-$i.txt")))
    val setup = Metric("setup_s", "s", cold.map(_._1))
    val setupWall = Metric("setup_wall_s", "s", cold.map(_._2))

    val traced = opt("trace") == "1"
    val ledger = new Ledger(Paths.get(opt("ledger")))
    val tracer = new Tracer(spark, traced)
    val run = new Run(spark, tracer, opt("seed").toLong, opt("seconds").toDouble,
      work, cpus, ledger)
    run.log("setup done")
    val o = body(run)
    val failedChecks = o.checks.count(!_._2)
    ledger.save(clean = failedChecks == 0 && run.failed == 0)

    val layers: Map[String, Double] = if (!traced) Map.empty else {
      tracer.drain()
      o.layers ++ Map(
        "setup.wall_s" -> setupWall.value,
        "traced.first_s" -> o.first.value,
        "traced.op_s" -> o.op.value,
        "traced.first_cpu_nojit_s" -> o.firstCpu.value,
        "traced.op_cpu_nojit_s" -> o.opCpu.value,
        "canary.cpu_ms" -> Bench.canaryOnce(spark) * 1e3,
        "canary.shuffle_ms" -> Bench.canaryShuffleOnce(spark) * 1e3,
        "jvm.heap_after_gc_peak_mb" -> run.heapAfterGcPeakMb,
        "host.steal_s" -> run.stealS)
    }
    if (traced) {
      val f = Paths.get(opt("trace-file"))
      Files.createDirectories(f.getParent)
      Files.writeString(f, tracer.toJson(Map("workload" -> workload,
        "seed" -> run.seed, "run_id" -> s"$workload-${run.seed}-$jvmStart")))
    }
    spark.stop()
    run.log("session stopped")

    val result = Map(
      "workload" -> workload,
      "correct" -> (failedChecks == 0 && run.failed == 0),
      "attempted" -> (run.attempted + o.checks.size),
      "failed" -> (run.failed + failedChecks),
      "checks" -> o.checks.map { case (k, ok) => Map("name" -> k, "ok" -> ok) },
      "e2e" -> Seq(setup, o.firstCpu, o.opCpu, o.first, o.op).map(m => m.name -> m.value).toMap,
      "named" -> (Seq(setup, setupWall) ++ o.named ++ Seq(o.firstCpu, o.opCpu)).map(m =>
        Map("name" -> m.name, "unit" -> m.unit, "samples" -> m.samples,
          "agg" -> (if (m.mean) "mean" else "median"))),
      "steal_s" -> run.stealS,
      "layers" -> layers)
    Files.writeString(Paths.get(opt("out")), Json.obj(result))
  }

  /** A fresh JVM, started with this one's flags and classpath, that sets
    * up the session cold and exits. Returns its (cpu, wall) seconds. */
  private def setupJvm(workload: String, cpus: Int, out: Path): (Double, Double) = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(java) ++ ManagementFactory.getRuntimeMXBean.getInputArguments.asScala ++
      Seq("-cp", System.getProperty("java.class.path"), "perfbench.Main",
        "--setup-only", "1", "--workload", workload, "--cpus", cpus.toString,
        "--out", out.toString)
    val p = new ProcessBuilder(cmd.asJava).inheritIO().start()
    if (!p.waitFor(setupDeadlineS, TimeUnit.SECONDS)) {
      p.destroyForcibly().waitFor()
      throw new IllegalStateException(s"set-up JVM did not finish in $setupDeadlineS s")
    }
    if (p.exitValue() != 0)
      throw new IllegalStateException(s"set-up JVM exited with ${p.exitValue()}")
    val Array(cpu, wall) = Files.readString(out).trim.split(" ")
    (cpu.toDouble, wall.toDouble)
  }
}
