package graftbench

import graft.io.TableIO
import graft.model.Turn
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

final class Opts(args: Array[String]) {
  private val m = args.sliding(2, 2).collect {
    case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
  }.toMap
  private def need(k: String) =
    m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
  val workload: String = need("workload")
  val seed: Long = need("seed").toLong
  val seconds: Double = need("seconds").toDouble
  val trace: Boolean = need("trace") == "1"
  val work: Path = Paths.get(need("work")).toAbsolutePath
}

/** One op: wall seconds, executor CPU seconds, and the heap still in use
  * after a full collection once it has finished.
  */
final case class OpStat(wall: Double, cpu: Double, heapMb: Double)

/** Session, counters and the result record shared by the workloads. */
final class Bench(val o: Opts) {
  val log = new TaskLog
  var spark: SparkSession = _

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val problems = mutable.ArrayBuffer.empty[String]
  private val readings = mutable.ArrayBuffer.empty[String]
  val controls = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0

  // the pinned session config arrives as system properties
  val master: String = sys.props.getOrElse("kgbench.master", "local[4]")
  val singleMaster: String =
    sys.props.getOrElse("kgbench.single_core_master", "local[1]")
  private def cores(m: String) = "\\d+".r.findFirstIn(m).map(_.toInt).getOrElse(1)
  /** How many times the cores of the single-core pass the main one has. */
  val coreRatio: Double = cores(master).toDouble / cores(singleMaster)

  def session(master: String): SparkSession = {
    stop()
    spark = SparkSession.builder().master(master)
      .appName(s"kgbench-${o.workload}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log.reset()
    spark.sparkContext.addSparkListener(log)
    spark
  }

  def stop(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def sc = spark.sparkContext

  def dir(name: String): Path = o.work.resolve(name)

  def rm(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(rm(_)) finally s.close()
    }
    Files.delete(p)
  }

  def fresh(name: String): String = { val p = dir(name); rm(p); p.toString }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall and executor CPU of `f`. */
  def measured[T](f: => T): (T, OpStat) = {
    val m = log.mark(sc)
    val (r, wall) = time(f)
    val (_, ts) = log.since(sc, m)
    (r, OpStat(wall, Tasks.cpuS(ts), 0))
  }

  /** The all-core host control: a fixed, seeded, codegen-only job that
    * uses none of the program's code.
    */
  def control(): Double = {
    val s = time(spark.range(0L, 30000000L, 1L, 4)
      .selectExpr(s"sum(hash(id, ${o.seed}) % 1024)").collect())._2
    controls += s
    s
  }

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      problems += what
      System.err.println(s"[kgbench] check failed: $what")
    }
    ok
  }

  def reading(kv: (String, Any)*): Unit = {
    val j = Json.obj(("workload" -> o.workload) +: kv: _*)
    println(j)
    readings += j
  }

  def put(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  /** Run one op, counting it as attempted, and as failed when it throws or
    * its output check fails.
    */
  private def attempt(op: => (OpStat, Boolean)): (OpStat, Boolean) = {
    attempted += 1
    val (st, ok) =
      try op
      catch {
        case e: Throwable =>
          e.printStackTrace()
          (OpStat(Double.NaN, Double.NaN, Double.NaN), false)
      }
    if (!ok) failed += 1
    (st, ok)
  }

  /** Run `op` at least `min` times and until `budget` seconds have passed;
    * the host control brackets every op. Returns the successful ops.
    */
  def loop(phase: String, min: Int, budget: Double)
          (op: => (OpStat, Boolean)): Seq[OpStat] = {
    val out = mutable.ArrayBuffer.empty[OpStat]
    val t0 = System.nanoTime()
    control()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < budget) {
      i += 1
      val (st, ok) = attempt(op)
      val heap = Heap.afterFullGcMb()
      if (ok) out += st.copy(heapMb = heap)
      val c = control()
      reading("phase" -> phase, "rep" -> i, "wall_s" -> st.wall,
        "task_cpu_s" -> st.cpu, "heap_mb" -> heap, "control_s" -> c, "ok" -> ok)
    }
    out.toSeq
  }

  /** `n` warmup ops; returns their wall seconds in total. */
  def warmup(n: Int)(op: => (OpStat, Boolean)): Double =
    time((1 to n).foreach(_ => once("warmup")(op)))._2

  /** One op outside the timed loop (warmup, the single-core pass). */
  def once(phase: String)(op: => (OpStat, Boolean)): OpStat = {
    val (st, ok) = attempt(op)
    reading("phase" -> phase, "wall_s" -> st.wall, "task_cpu_s" -> st.cpu,
      "ok" -> ok)
    st
  }

  /** Write generated turns as the input table, as the program would find
    * it: 16 files, so every core has scan splits.
    */
  def writeInput(turns: Dataset[Turn], name: String): Unit =
    TableIO(dir("input").toString).write(turns.repartition(16).toDF(), name)

  /** The input table, read in the current session. */
  def input(name: String): Dataset[Turn] =
    TableIO(dir("input").toString).read(spark, name)
      .as[Turn](Encoders.product[Turn])

  def result(): (Boolean, String) = {
    val correct = problems.isEmpty && failed == 0
    val ms = metrics.map { case (k, (v, u)) =>
      k -> collection.immutable.ListMap("value" -> v, "unit" -> u)
    }
    Files.createDirectories(dir("out"))
    Files.writeString(dir("out").resolve(s"${o.workload}-${o.seed}-reps.jsonl"),
      readings.mkString("", "\n", "\n"))
    (correct, Json.obj("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> ms))
  }
}
