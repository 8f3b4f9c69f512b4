package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its seed and
  * nominal seconds, and a private scratch directory inside the checkout. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: Path, val cpus: Int,
                val ledger: Ledger) {
  private var heapPeak = 0L
  private var attempts = 0L
  private var failures = 0L
  private var stolen = 0.0
  private val cpu = scala.collection.mutable.Map.empty[String, Vector[Double]]
  private val jit = scala.collection.mutable.Map.empty[String, Vector[Double]]

  /** One operation: timed, counted, and on failure logged and counted
    * as failed. Returns the result and its wall seconds. */
  def attempt[A](kind: String)(body: => A): Option[(A, Double)] = {
    attempts += 1
    val (c0, s0, j0) = (Clock.cpuS(), Clock.stealS(), Clock.jitS())
    try {
      val out = Some(Clock.timed(body))
      cpu(kind) = cpu.getOrElse(kind, Vector.empty) :+ (Clock.cpuS() - c0)
      jit(kind) = jit.getOrElse(kind, Vector.empty) :+ (Clock.jitS() - j0)
      log(f"$kind%s ${out.get._2}%.2f s wall, ${cpu(kind).last}%.2f s cpu, ${jit(kind).last}%.2f s jit")
      out
    } catch {
      case e: Exception =>
        failures += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    } finally {
      stolen += Clock.stealS() - s0
      sampleHeap()
    }
  }

  /** An output check; an exception while checking fails it. */
  def check(name: String)(ok: => Boolean): (String, Boolean) =
    name -> (try ok catch {
      case e: Exception =>
        System.err.println(s"[perfbench] check $name failed: $e")
        false
    })

  /** Count operations made outside [[attempt]]. */
  def count(attempted: Long, failed: Long): Unit = {
    attempts += attempted
    failures += failed
  }

  def attempted: Long = attempts
  def failed: Long = failures

  /** JVM CPU seconds (all threads) of each operation of one kind. */
  def cpuSamples(kind: String): Seq[Double] = cpu.getOrElse(kind, Vector.empty)

  /** JIT compiler CPU seconds during each operation of one kind. */
  def jitSamples(kind: String): Seq[Double] = jit.getOrElse(kind, Vector.empty)

  /** JVM CPU seconds net of JIT compilation of each operation of one kind:
    * the program's own work (driver, tasks, GC) as the gate reads it. */
  def workCpuSamples(kind: String): Seq[Double] =
    cpuSamples(kind).zip(jitSamples(kind)).map { case (c, j) => c - j }

  /** Steady operations for `--seconds`: one per `perOpS` nominal
    * seconds, at least `min`. The count depends only on `--seconds`, so
    * every commit is measured on the same work. */
  def steadyOps(perOpS: Double, min: Int): Int = math.max(min, math.round(seconds / perOpS).toInt)

  /** CPU seconds the hypervisor withheld while operations ran. */
  def stealS: Double = stolen

  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }

  /** Record the heap in use after the last collection; call after each op. */
  def sampleHeap(): Unit = {
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeak = math.max(heapPeak, used)
  }

  def heapAfterGcPeakMb: Double = heapPeak / (1024.0 * 1024.0)

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s: $msg")
}

/** Order statistics over a run's samples. */
object Stats {
  /** Median; the mean of the middle pair for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Mean; 0 for no samples. */
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
}

/** Seconds taken by `body`, with its result. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds of the JIT compiler threads, read from their
    * /proc/self/task entries (user + system ticks). The threads must
    * live for the whole run (`-XX:-UseDynamicNumberOfCompilerThreads`).
    * Where /proc is unavailable, the compilation MXBean's elapsed time. */
  def jitS(): Double = {
    val dir = java.nio.file.Paths.get("/proc/self/task")
    if (!java.nio.file.Files.isDirectory(dir))
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    else {
      val tasks = java.nio.file.Files.list(dir)
      try tasks.iterator().asScala.map(compilerTicks).sum / 100.0 finally tasks.close()
    }
  }

  /** User + system ticks of one thread if it is a JIT compiler thread;
    * 0 for other threads and for a thread that has just exited. */
  private def compilerTicks(task: java.nio.file.Path): Long = try {
    val stat = new String(java.nio.file.Files.readAllBytes(task.resolve("stat")))
    val name = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
    if (!name.contains("CompilerThre")) 0L
    else {
      val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }
  } catch { case _: java.io.IOException => 0L }

  /** CPU seconds this JVM has used, all threads. */
  def cpuS(): Double = os.getProcessCpuTime / 1e9

  /** Seconds of CPU the hypervisor has withheld from this machine, all
    * CPUs (the `steal` column of /proc/stat), or 0 where unavailable. */
  def stealS(): Double = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+")
    f(8).toDouble / 100.0
  } catch { case _: Exception => 0.0 }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** A named end-to-end quantity and its samples within one run, read as
  * their median, or as their mean where the quantity is additive (CPU
  * seconds per operation). */
final case class Metric(name: String, unit: String, samples: Seq[Double],
                        mean: Boolean = false) {
  /** NaN (written as null) when every sample's operation failed. */
  def value: Double =
    if (samples.isEmpty) Double.NaN
    else if (mean) Stats.mean(samples)
    else Stats.median(samples)
}

/** What a workload hands back: wall seconds of its first operation
  * and of its steady operations, the same operations' JVM CPU seconds
  * net of JIT compilation (the gated end-to-end metrics), further
  * samples for the report, and the per-layer readings of a traced run. */
final case class Outcome(checks: Seq[(String, Boolean)],
                         first: Metric, op: Metric,
                         firstCpu: Metric, opCpu: Metric,
                         named: Seq[Metric], layers: Map[String, Double])

/** Values that must repeat for a seed: the first run in a checkout
  * records them, later runs compare against the record. */
final class Ledger(file: Path) {
  private val recorded: Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.flatMap { l =>
      l.split("\t", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap
  private val fresh = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** True if `value` matches the recorded value for `key` (or none is recorded). */
  def same(key: String, value: String): Boolean = {
    fresh(key) = value
    recorded.get(key).forall(_ == value)
  }

  /** Record this run's values, once per seed and checkout, and only from
    * a run in which nothing failed. */
  def save(clean: Boolean): Unit = if (clean && !Files.exists(file)) {
    Files.createDirectories(file.getParent)
    Files.write(file, fresh.map { case (k, v) => s"$k\t$v" }.asJava)
  }
}

