package graftbench

/** Entry point: runs one workload and prints the result object as the
  * last line of standard output. Any exception exits non-zero without
  * a result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    // a benchmark JVM never outlives the run.py that launched it
    ProcessHandle.current().parent().ifPresent(p => p.onExit().thenRun(() => Runtime.getRuntime.halt(3)))
    val code =
      try {
        val a = Args.parse(argv)
        println(s"graftbench: workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
        a.workload match {
          case "stream" => println(StreamBench.run(a).json)
          case "batch_curation" => println(BatchBench.run(a).json)
          case "record_digests" => BatchBench.record(a, a.traceOut)
          case w => sys.error(s"unknown workload $w")
        }
        0
      } catch {
        case t: Throwable =>
          t.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}
