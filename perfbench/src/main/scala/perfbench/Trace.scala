package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** Wall-clock spans of the traced run. Kept in memory (one driver thread
  * opens them) and written once, when the run ends. */
final class Spans(runId: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  private val originNs = System.nanoTime()

  def apply[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val t0 = System.nanoTime()
    open = (id, name, t0) :: open
    try body
    finally {
      open = open.tail
      done += Span(id, name, t0, System.nanoTime(), parent)
    }
  }

  /** Per span name: its duration minus the time its child spans cover,
    * averaged over the spans of that name. */
  def selfSeconds: Map[String, Double] = {
    val children = done.groupBy(_.parent)
    done.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Intervals.unionLength(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs - covered) / 1e9
      }.sum / ss.size
    }
  }

  /** JSON lines: name, start and end (seconds since the run began), parent
    * span id (-1 at top level) and run id. */
  def write(path: Path): Unit = {
    val sb = new StringBuilder
    done.sortBy(_.id).foreach { s =>
      sb.append(Json.obj(Seq(
        "id" -> Json.num(s.id),
        "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - originNs) / 1e9),
        "end_s" -> Json.num((s.endNs - originNs) / 1e9),
        "parent" -> Json.num(s.parent),
        "run_id" -> Json.str(runId)))).append('\n')
    }
    Files.createDirectories(path.getParent)
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Intervals {
  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One Spark job as the listener saw it, with the totals of its stages. */
final class JobRec(val id: Int, val desc: String, val call: String,
                   val startMs: Long) {
  @volatile var endMs: Long = startMs
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Benchmark-side SparkListener: groups jobs by the `graft:` job labels the
  * engine sets and by the benchmark call that was running when they started
  * (the `perfbench.call` local property). */
final class JobLog extends SparkListener {
  val CallProp = "perfbench.call"

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSubmitMs = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new JobRec(e.jobId, prop("spark.job.description"), prop(CallProp),
      e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageSubmitMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      stageSubmitMs.get(e.stageId).foreach { s =>
        j.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      Option(e.taskMetrics).foreach { m =>
        j.busyMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}
