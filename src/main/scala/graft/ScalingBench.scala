package graft

import graft.kg._

/** N vs 4N scaling evidence (north rule: throughput efficiency >= 0.8 from
  * N to 4N executors). The master, executor topology and shuffle/split conf
  * all come from spark-submit, one level per fresh JVM, so a level sees no
  * JIT or cache state from another; `tools/scaling.sh` alternates the two.
  *
  *   ScalingBench gen DIR NCONVS MEGA               seed-42 corpus → DIR/turns
  *   ScalingBench gendense DIR NCONVS MEGA DENSITY  plus a dense mega-conv
  *   ScalingBench run DIR REPS
  *
  * `run` counts the input, runs one untimed `Pipeline.extract` (JIT and
  * codegen), then times REPS more, each after clearing the Spark cache, and
  * prints one JSON line per rep.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: nConvs :: mega :: Nil =>
      val s = Sessions.getOrCreate("graft-scaling")
      val (turns, _) = Transcripts.corpus(s, nConvs.toInt, seed = 42,
        megaTurns = mega.toInt)
      turns.write.mode("overwrite").parquet(s"$dir/turns")
      println(s"""{"generated":"$dir/turns"}""")
      s.stop()
    case "gendense" :: dir :: nConvs :: mega :: density :: Nil =>
      // adversarial skew corpus: the normal Zipf corpus PLUS a
      // mega-conversation whose every turn fuses `density` independent
      // sentence-local template sentences — `density`x the mention count
      // per fold chunk. The scaling corpus's mega-conv is long but
      // mention-SPARSE; this one stresses the per-chunk fold state
      // (mentions per chunk, not turns per chunk).
      val s = Sessions.getOrCreate("graft-scaling")
      import s.implicits._
      val slice = Pipeline.chunkTurns
      val megaN = mega.toInt
      val d = density.toInt
      val (base, _) = Transcripts.corpus(s, nConvs.toInt, seed = 42)
      val nSlices = (megaN + slice - 1) / slice
      val dense = s.range(nSlices.toLong).flatMap { sl =>
        val len = math.min(slice, megaN - sl.toInt * slice)
        // seed = splitmix-mixed (sl, k): a linear combination collides
        // across pairs (sl=7919,k=0 vs sl=0,k=131) and can fuse two
        // identical sentence streams at large mega sizes (ADVICE r4)
        def mix(x0: Long): Long = graft.ops.Dedup.splitmix64(x0)
        val streams = (0 until d).map(k =>
          Transcripts.genConv(mix(42L ^ mix(sl)) ^ mix(1000L + k), 999999L,
            len, withCoref = false)._1)
        (0 until len).map { t =>
          val text = streams.map(st => st(t).text).mkString(" ")
          streams.head(t).copy(conv_id = "mega",
            turn_idx = sl.toInt * slice + t, text = text)
        }
      }
      base.union(dense).write.mode("overwrite").parquet(s"$dir/turns")
      println(s"""{"generated":"$dir/turns","density":$d,"megaTurns":$megaN}""")
      s.stop()
    case "run" :: dir :: reps :: Nil =>
      val s = Sessions.getOrCreate("graft-scaling")
      import s.implicits._
      // task ON-CPU time per rep: flat from N to 4N shows the extra wall at
      // low parallelism is queueing, not extra work, and it is immune to
      // host-side pauses that inflate wall clock
      val cpuNs = new java.util.concurrent.atomic.AtomicLong
      val runMs = new java.util.concurrent.atomic.AtomicLong
      s.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            if (t.taskMetrics != null) {
              cpuNs.addAndGet(t.taskMetrics.executorCpuTime)
              runMs.addAndGet(t.taskMetrics.executorRunTime)
            }
        })
      val turns = s.read.parquet(s"$dir/turns").as[graft.model.Turn]
      val n = turns.count()
      Pipeline.extract(s, turns).edges.count() // warmup (JIT + codegen)
      (1 to reps.toInt).foreach { i =>
        s.sharedState.cacheManager.clearCache()
        cpuNs.set(0L); runMs.set(0L)
        val t0 = System.nanoTime()
        val e = Pipeline.extract(s, turns).edges.count()
        val sec = (System.nanoTime() - t0) / 1e9
        val cpuSec = cpuNs.get / 1e9
        println(f"""{"rep":$i,"executors":${s.sparkContext.getExecutorMemoryStatus.size - 1},"turns":$n,"edges":$e,"sec":$sec%.1f,"turns_per_sec":${n / sec}%.1f,"task_cpu_sec":$cpuSec%.1f,"task_run_sec":${runMs.get / 1e3}%.1f,"turns_per_cpu_sec":${n / cpuSec}%.1f}""")
      }
      s.stop()
    case _ =>
      System.err.println("usage: ScalingBench gen DIR NCONVS MEGA | " +
        "gendense DIR NCONVS MEGA DENSITY | run DIR REPS")
      sys.exit(2)
  }
}
