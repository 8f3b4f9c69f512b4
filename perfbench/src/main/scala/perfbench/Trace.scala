package perfbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark counters of one job group. */
final class Counters {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, output, peakMem = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    tasksFailed += o.tasksFailed; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; output += o.output
    peakMem = math.max(peakMem, o.peakMem)
    this
  }
}

/** One timed call into a layer. `parent` is 0 for a top-level span. */
final case class Span(id: Long, name: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Attributes Spark work to spans: each span runs under its own job
  * group, and a listener folds job, stage and task events into that
  * group's [[Counters]]. Listener callbacks arrive on Spark's single
  * listener-bus thread; reads happen after [[drain]]. */
private final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, Counters]

  private def of(group: String) = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("")
    val c = of(group)
    c.jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.tasksFailed += 1
    Option(e.taskMetrics).foreach { m =>
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.output += m.outputMetrics.bytesWritten
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }
}

/** Span recorder. Disabled, [[span]] only runs its body: untraced runs
  * set no job groups and attach no listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)
  private var nextId = 0L
  private var open: List[Long] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = open.headOption.getOrElse(0L)
      val outer = Option(sc.getLocalProperty(Tracer.GroupKey))
      val outerDesc = sc.getLocalProperty(Tracer.DescriptionKey)
      sc.setJobGroup(s"perfbench-$id", name)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, t0, System.nanoTime())
        open = open.tail
        outer match {
          case Some(g) => sc.setJobGroup(g, outerDesc)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) BenchBus.drain(sc)

  private lazy val children: Map[Long, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of a span and all spans nested in it. Call after [[drain]]. */
  def counters(s: Span): Counters = {
    val c = new Counters
    def walk(x: Span): Unit = {
      listener.synchronized(listener.byGroup.get(s"perfbench-${x.id}")).foreach(c.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    c
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Sum of the counters of every span with this name. */
  def countersOf(name: String): Counters =
    named(name).map(counters).foldLeft(new Counters)(_ add _)

  /** The spans as one JSON document (times in ns from the first span). */
  def toJson(run: Map[String, Any]): String = {
    val origin = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    Json.obj(run + ("spans" -> spans.sortBy(_.id).map { s =>
      val c = counters(s)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> (s.startNs - origin), "end_ns" -> (s.endNs - origin),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "cpu_ns" -> c.cpuNs, "shuffle_write_bytes" -> c.shuffleWrite)
    }.toSeq))
  }
}

object Tracer {
  /** Local-property keys behind SparkContext.setJobGroup. */
  val GroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"
}

/** Per-layer Spark metrics of the given counters, per operation. */
object SparkLayer {
  def perOp(c: Counters, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> c.jobs / n, "spark.stages" -> c.stages / n,
      "spark.tasks" -> c.tasks / n, "spark.tasks_failed" -> c.tasksFailed / n,
      "spark.exec_run_s" -> c.runMs / 1e3 / n,
      "spark.exec_cpu_s" -> c.cpuNs / 1e9 / n, "spark.gc_s" -> c.gcMs / 1e3 / n,
      "spark.shuffle_read_mb" -> c.shuffleRead / mb / n,
      "spark.shuffle_write_mb" -> c.shuffleWrite / mb / n,
      "spark.spill_mb" -> c.spill / mb / n,
      "spark.peak_exec_mem_mb" -> c.peakMem / mb,
      "spark.output_mb" -> c.output / mb / n)
  }
}
