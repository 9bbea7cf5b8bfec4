package graftbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One finished task, attributed to the job group its job ran under. */
final case class TaskRec(group: String, stage: Int, launchMs: Long,
                         finishMs: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
                         spill: Long)

/** Listener-bus counters. Jobs and tasks are appended in arrival order, so a
  * window of work is the slice between two [[mark]]s.
  */
final class TaskLog extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private var jobs = 0L

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    j.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(stageGroup.getOrElse(e.stageId, ""), e.stageId,
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Stage ids restart with every SparkContext. */
  def reset(): Unit = synchronized { stageGroup.clear(); tasks.clear(); jobs = 0 }

  /** (jobs, tasks) seen so far, after the bus has delivered every event. */
  def mark(sc: SparkContext): (Long, Int) = {
    org.apache.spark.graftbench.Bus.drain(sc)
    synchronized((jobs, tasks.size))
  }

  def since(sc: SparkContext, m: (Long, Int)): (Long, Vector[TaskRec]) = {
    org.apache.spark.graftbench.Bus.drain(sc)
    synchronized((jobs - m._1, tasks.slice(m._2, tasks.size).toVector))
  }
}

/** Aggregates over a set of tasks. */
object Tasks {
  def cpuS(ts: Seq[TaskRec]): Double = ts.map(_.cpuNs).sum / 1e9
  def gcS(ts: Seq[TaskRec]): Double = ts.map(_.gcMs).sum / 1e3
  def mb(bytes: Long): Double = bytes / 1048576.0

  /** max/median task run time of the stage that ran longest in total. */
  def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val st = ts.groupBy(_.stage).maxBy(_._2.map(_.runMs).sum)._2
        .map(_.runMs.toDouble)
      st.max / Stats.median(st).max(1.0)
    }

  /** Wall time inside [t0, t1] during which no task was running. */
  def idleMs(ts: Seq[TaskRec], t0: Long, t1: Long): Double = {
    val iv = ts.map(t => (t.launchMs.max(t0), t.finishMs.min(t1)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L
    var cur = (0L, -1L)
    iv.foreach { case (s, e) =>
      if (s > cur._2) { if (cur._2 > cur._1) busy += cur._2 - cur._1; cur = (s, e) }
      else cur = (cur._1, cur._2.max(e))
    }
    if (cur._2 > cur._1) busy += cur._2 - cur._1
    (t1 - t0 - busy).toDouble.max(0.0)
  }
}

object Heap {
  /** Heap in use after a full collection. Spark's context cleaner frees
    * shuffle and broadcast blocks only once a collection has cleared their
    * weak references, so it gets time between two collections.
    */
  def afterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

final case class Span(name: String, startNs: Long, endNs: Long,
                      parent: String, run: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory spans; each one also runs its body under a job group of the
  * same name, so listener counters attribute to it.
  */
final class Tracer(sc: () => SparkContext, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def span[T](name: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val ctx = sc()
    ctx.setJobGroup(name, name, interruptOnCancel = false)
    stack = name :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(name, t0, System.nanoTime(), parent, run)
      stack = stack.tail
      if (parent.isEmpty) ctx.clearJobGroup()
      else ctx.setJobGroup(parent, parent, interruptOnCancel = false)
    }
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def writeTo(path: java.nio.file.Path): Unit = {
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    val lines = spans.map(s =>
      Json.obj("name" -> s.name, "start_ms" -> (s.startNs - t0) / 1e6,
        "end_ms" -> (s.endNs - t0) / 1e6, "parent" -> s.parent,
        "run" -> s.run))
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Stats {
  def max(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.max

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    * it; the maximum when there are too few samples for any of them.
    */
  def tail(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90, 75, 50).find(p => s.size * (100 - p) / 100.0 >= 10) match {
      case Some(p) =>
        (s"p$p", s(math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)))
      case None => ("max", s.last)
    }
  }
}

/** Minimal JSON writer for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    value(collection.immutable.ListMap(kv: _*))
}
