package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.SparkBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else String.format(Locale.ROOT, "%.9g", Double.box(d)).trim
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Linear-interpolated quantile (numpy's default "linear" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** One timed call, and whether the job listener saw it. */
final case class CallRec(name: String, startMs: Long, endMs: Long, traced: Boolean)

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, cache: Path,
                      data: Option[Path]) {
  /** Spark runs `local[cores]` on every core of the box. */
  val cores: Int = Runtime.getRuntime.availableProcessors()
}

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.get("trace").contains("1"), Paths.get(m("work")), Paths.get(m("cache")),
      m.get("data").map(Paths.get(_)))
  }
}

/** One benchmark invocation: the session, the operation accounting, the
  * optional tracing (spans + job listener), and the metrics to report. */
final class Run(val args: Args) {
  val CallProp = "perfbench.call"
  val spark: SparkSession = Sessions.create(args.cores, args.work)
  val spans = new Spans(s"${args.workload}-${args.seed}")
  val jobs: Option[JobLog] = if (args.trace) Some(new JobLog) else None
  private var listening = false

  /** Attach or detach the job listener (a no-op in untraced runs). Events
    * already queued are delivered before a detach. */
  def listen(on: Boolean): Unit = jobs.foreach { l =>
    if (on && !listening) spark.sparkContext.addSparkListener(l)
    if (!on && listening) {
      drainListener()
      spark.sparkContext.removeSparkListener(l)
    }
    listening = on
  }
  listen(args.trace)

  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Seconds spent in untimed set-up steps (inputs, base builds, warm-up). */
  var setupSec = 0.0

  val calls = mutable.ArrayBuffer.empty[CallRec]

  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's per-call figures, printed by name with their unit (and
    * reported as per-layer metrics of the traced run). */
  val figures = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Timed passes the listener saw. */
  var tracedPasses = 0

  def figure(name: String, unit: String, value: Double): Unit = {
    figures(name) = (value, unit)
    layer(name) = value
  }

  def fail(what: String): Unit = {
    failed += 1
    failures += what.take(400)
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** A traced span when tracing, a plain call otherwise. */
  def span[T](name: String)(body: => T): T =
    if (args.trace) spans(name)(body) else body

  /** An untimed step: a span when tracing, and its wall time on standard
    * error. Set-up steps also count in `setup_s`; checks do not. */
  def step[T](name: String, setup: Boolean = false)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body)
    finally {
      val sec = (System.nanoTime() - t0) / 1e9
      if (setup) setupSec += sec
      System.err.println(f"[perfbench] step $name%s $sec%.3f s")
    }
  }

  def setup[T](name: String)(body: => T): T = step(name, setup = true)(body)

  /** Time one operation of a pass. Its Spark jobs carry the call name, a
    * throw counts as a failed operation, and the time up to the failure is
    * kept. */
  def call[T](name: String)(body: => T): (Option[T], Double) =
    tagged(name, record = true)(body)

  /** Time one call outside the passes (a per-layer probe of the traced
    * run): counted as an operation, but not part of any pass. */
  def probe(name: String)(body: => Unit): Double =
    tagged(name, record = false)(body)._2

  private def tagged[T](name: String, record: Boolean)(body: => T): (Option[T], Double) = {
    attempted += 1
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(CallProp)
    sc.setLocalProperty(CallProp, name)
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r =
      try Some(span(name)(body))
      catch {
        case e: Throwable =>
          fail(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
      finally sc.setLocalProperty(CallProp, prev)
    val sec = (System.nanoTime() - n0) / 1e9
    System.err.println(f"[perfbench] call $name%s $sec%.4f s")
    if (record) calls += CallRec(name, t0, System.currentTimeMillis(), listening)
    (r, sec)
  }

  /** One correctness check, counted as an operation of its own. */
  def check(name: String)(cond: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try cond
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] check $name threw: $e")
          false
      }
    if (!ok) fail(s"check $name")
    ok
  }

  /** Highest live heap seen by [[settleHeap]], in bytes. */
  private var settledPeak = 0L

  /** (end time in ms since the epoch, heap occupancy after it) of every
    * garbage collection of the run, as the JVM notifies them. */
  private val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
  locally {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val onGc = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.add((jvmStart + gc.getEndTime, used))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  /** `peak_live_heap_mb`, in bytes: the highest heap occupancy after any
    * garbage collection that ended inside a timed call, and at least the
    * highest live set [[settleHeap]] read between passes. */
  def peakHeap: Long = {
    val timed = calls.toVector
    afterGc.asScala
      .collect { case (end, used) if timed.exists(c => c.startMs <= end && end <= c.endMs) => used }
      .foldLeft(settledPeak)(math.max)
  }

  /** Let Spark's asynchronous work settle, then read the live set: deliver
    * every queued listener event (their task metrics are held until then),
    * then run full GCs, at least three and until the occupancy stops
    * falling (Spark's ContextCleaner frees the broadcast and shuffle state
    * of collected plans on its own thread, after the GC that found them).
    * Called between passes, outside the timed calls. */
  def settleHeap(): Unit = {
    drainListener()
    val heap = ManagementFactory.getMemoryMXBean
    var last = Long.MaxValue
    var live = Long.MaxValue
    var rounds = 0
    do {
      last = live
      System.gc()
      Thread.sleep(100)
      live = heap.getHeapMemoryUsage.getUsed
      rounds += 1
    } while (rounds < 3 || (live < last - last / 50 && rounds < 8))
    System.err.println(f"[perfbench] live heap ${live / 1048576.0}%.1f MB after $rounds%d GCs")
    settledPeak = math.max(settledPeak, live)
  }

  /** Run `df` to completion through the noop sink (every column computed,
    * nothing written). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Let the listener bus deliver every pending event. */
  def drainListener(): Unit = SparkBus.drain(spark.sparkContext)

  /** A directory of this run (deleted when the run ends). */
  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** A directory of the input cache (kept across runs). */
  def cache(name: String): Path = {
    val p = args.cache.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** Names of the queries whose results the oracle compare should check. */
  var oracleQueries: Seq[String] = Nil
}
