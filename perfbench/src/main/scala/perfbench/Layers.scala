package perfbench

/** Per-layer metrics derived from the job listener, common to every
  * workload.
  *
  * Only jobs of timed calls the listener saw count (set-up, warm-up, checks
  * and layer probes do not). A timed operation runs once per pass, so each
  * job is weighted by 1 / (traced instances of its call): a metric reads
  * "per pass", the way `pass_s` adds one median instance of every
  * operation. A layer the workload does not use reads 0. */
object Layers {
  val Stages = Seq("supports", "changed_convs", "changed_turns", "sync_supports",
    "edge_delta", "node_delta")
  val BucketTables = Seq("support", "edges", "nodes", "docs")
  val Calls = Seq("runFull", "runSync", "noopSync", "streamBatch", "dedupUpdate",
    "dedupLookup")

  def common(r: Run): Unit = {
    r.drainListener()
    val traced = r.calls.filter(_.traced).toVector
    val instances = traced.groupBy(_.name).map { case (n, cs) => n -> cs.size }
    // each job with the timed call it ran under
    val jobs = r.jobs.get.snapshot().flatMap { j =>
      traced.find(c => c.name == j.call && j.startMs >= c.startMs && j.startMs <= c.endMs)
        .map(c => (j, c))
    }
    def w(j: JobRec) = 1.0 / instances(j.call)
    def wall(js: Seq[(JobRec, CallRec)]) =
      js.map { case (j, _) => (j.endMs - j.startMs) / 1e3 * w(j) }.sum
    def count(js: Seq[(JobRec, CallRec)]) = js.map { case (j, _) => w(j) }.sum

    Stages.foreach { s =>
      val js = jobs.filter(_._1.desc == s"graft:stage:$s")
      r.layer(s"pipeline.stage.$s.wall_s") = wall(js)
      r.layer(s"pipeline.stage.$s.jobs") = count(js)
    }
    BucketTables.foreach { t =>
      r.layer(s"io.stage_buckets.$t.wall_s") =
        wall(jobs.filter(_._1.desc == s"graft:stage-buckets:$t"))
    }
    val ckpt = jobs.filter(_._1.desc.startsWith("graft:ckpt:"))
    r.layer("io.ckpt.wall_s") = wall(ckpt)
    r.layer("io.ckpt.jobs") = count(ckpt)
    // Spark's own parallel partition-discovery jobs
    val listing = jobs.filter(_._1.desc.startsWith("Listing leaf files"))
    r.layer("io.listing.wall_s") = wall(listing)
    r.layer("io.listing.jobs") = count(listing)

    // driver-side time of each call: its wall time outside every job
    // (planning, renames, hard links, footer reads)
    val byInstance = jobs.groupBy(_._2)
    r.layer("io.driver_gap_s") = traced.map { c =>
      val iv = byInstance.getOrElse(c, Vector.empty)
        .map { case (j, _) => (j.startMs, math.min(j.endMs, c.endMs)) }
      (c.endMs - c.startMs - Intervals.unionLength(iv)) / 1e3 / instances(c.name)
    }.sum

    Calls.foreach { c =>
      val n = instances.getOrElse(c, 1).toDouble
      val js = jobs.collect { case (j, _) if j.call == c => j }
      r.layer(s"$c.jobs") = js.size / n
      r.layer(s"$c.tasks") = js.map(_.tasks).sum / n
      r.layer(s"$c.busy_s") = js.map(_.busyMs).sum / 1e3 / n
      r.layer(s"$c.gc_s") = js.map(_.gcMs).sum / 1e3 / n
      r.layer(s"$c.sched_wait_s") = js.map(_.schedWaitMs).sum / 1e3 / n
      r.layer(s"$c.spill_bytes") = js.map(_.spillBytes).sum / n
      r.layer(s"$c.failed_tasks") = js.map(_.failedTasks).sum / n
    }
  }
}
