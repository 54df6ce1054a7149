package perfbench

import java.nio.file.{Files, Path}

/** The closed loop every workload measures with. */
object Loop {
  /** Repeat `pass` until `--seconds` have elapsed and at least `minPasses`
    * passes ran. Each pass returns the wall time of every operation it ran.
    *
    * A traced run makes at least `tracedMin` passes (four by default) and
    * attaches the job listener in the pattern on, off, off, on, so it can
    * report its own tracing overhead: mean traced pass minus mean untraced
    * pass, in which a steady warm-up trend over four passes cancels. */
  def timed(r: Run, minPasses: Int, tracedMin: Int = 4)(
      pass: => Map[String, Double]): Seq[Map[String, Double]] = {
    val min = if (r.args.trace) math.max(tracedMin, minPasses) else minPasses
    val t0 = System.nanoTime()
    val out = Vector.newBuilder[(Map[String, Double], Boolean)]
    var i = 0
    do {
      val on = r.args.trace && (i % 4 == 0 || i % 4 == 3)
      r.listen(on)
      out += ((pass, on))
      i += 1
    } while ((System.nanoTime() - t0) / 1e9 < r.args.seconds || i < min)
    r.listen(r.args.trace)
    val res = out.result()
    if (r.args.trace) {
      r.tracedPasses = res.count(_._2)
      def mean(on: Boolean) = {
        val xs = res.collect { case (p, `on`) => p.values.sum }
        xs.sum / xs.size
      }
      r.layer("trace.overhead_s") = mean(true) - mean(false)
      r.layer("trace.overhead_frac") = mean(true) / mean(false) - 1
    }
    res.map(_._1)
  }

  /** Each operation's time over the passes (`per`, the median by default);
    * their sum is the end-to-end `pass_s`. A median or tail over the 8 or 9
    * operations is a per-layer figure only: it follows the single sample of
    * whichever operation lands in the middle, and spreads too much between
    * runs to gate on. */
  def report(r: Run, passes: Seq[Map[String, Double]], ops: Seq[String],
             per: Seq[Double] => Double = Stats.median): Map[String, Double] = {
    val t = ops.map(o => o -> per(passes.map(_(o)))).toMap
    r.e2e("pass_s") = t.values.sum
    t
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
}
