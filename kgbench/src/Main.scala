package graftbench

/** Benchmark entry: `--workload NAME --seed N --seconds S --trace 0|1
  * --work DIR`. Per-op readings go to stdout as JSON lines; the last line is
  * the result record. Exits 1 when an output check failed.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val b = new Bench(new Opts(args))
    val correct =
      try {
        b.o.workload match {
          case "batch_cold" => Workloads.batchCold(b)
          case "resume_dense" => Workloads.resumeDense(b)
          case "serve_closed" => Workloads.serveClosed(b)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        val (ok, json) = b.result()
        b.stop()
        println(json)
        ok
      } finally b.stop()
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
