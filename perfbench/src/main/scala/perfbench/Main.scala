package perfbench

import java.lang.management.ManagementFactory

/** Benchmark JVM entry point. run.py starts it with
  * `--workload <incremental|query> --seed <n> --seconds <s> --trace <0|1>
  *  --work <run dir> --cache <input cache dir> [--data <query tables>]` and
  * reads the one line that starts with `PERFBENCH ` from its standard
  * output. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val r = new Run(args)
    val sessionSec = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] step setup.session $sessionSec%.3f s")
    try {
      args.workload match {
        case "incremental" => Incremental.run(r)
        case "query" => QueryWorkload.run(r)
        case w => sys.error(s"unknown workload $w")
      }
      r.e2e("peak_live_heap_mb") = r.peakHeap / (1024.0 * 1024.0)
      if (args.trace) {
        Layers.common(r)
        r.spans.write(args.work.resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
        r.spans.selfSeconds.foreach { case (n, s) => r.layer(s"self.${n}_s") = s }
      }
    } finally r.spark.stop()

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    println("PERFBENCH " + Json.obj(Seq(
      "attempted" -> Json.num(r.attempted.toDouble),
      "failed" -> Json.num(r.failed.toDouble),
      "failures" -> Json.arr(r.failures.toSeq.map(Json.str)),
      "jvm_start_ms" -> Json.num(jvmStart.toDouble),
      "session_s" -> Json.num(sessionSec),
      "setup_s" -> Json.num(r.setupSec),
      "queries" -> Json.arr(r.oracleQueries.map(Json.str)),
      "figures" -> Json.obj(r.figures.toSeq.map { case (k, (v, u)) =>
        k -> Json.arr(Seq(Json.num(v), Json.str(u))) }),
      "e2e" -> Json.obj(r.e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(r.layer.toSeq.map { case (k, v) => k -> Json.num(v) }))))
  }
}
