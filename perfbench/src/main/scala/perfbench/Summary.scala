package perfbench

/** Turns a traced run's ops, Spark events and spans into the per-layer
  * metrics. Only traced ops count; the run's untraced ops are the baseline
  * the tracing overhead is measured against. */
object Summary {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Waits until the listener bus has delivered every job's end event. */
  private def drainListener(l: JobListener): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    while (System.nanoTime() < deadline && (l.pendingJobs > 0 || l.eventCount != last)) {
      last = l.eventCount
      Thread.sleep(200)
    }
  }

  def traced(h: Harness): Unit = {
    val v = h.values
    val traced = h.ops.filter(_.traced).toSeq
    val base = h.ops.filterNot(_.traced).toSeq

    Metrics.Phases.foreach { p =>
      v(s"crawl.${p.replace('-', '_')}_s") = traced.map(_.phases.getOrElse(p, 0.0)).sum
    }
    val batches = traced.map(_.batches).sum
    val urls = traced.map(_.urls).sum
    v("crawl.batches") = batches.toDouble
    v("crawl.urls_per_batch") = if (batches > 0) urls.toDouble / batches else 0.0

    drainListener(h.listener)
    val (jobs, tasks) = h.listener.snapshot
    def inWindow(ns: Long) = traced.exists(o => o.startNs <= ns && ns <= o.endNs)
    val opJobs = jobs.filter(j => inWindow(j.startNs))
    val jobIds = opJobs.map(_.id).toSet
    val opTasks = tasks.filter(t => jobIds(h.listener.jobOfStage(t.stageId)))
    val wallS = traced.map(_.wallS).sum
    v("spark.jobs") = opJobs.size.toDouble
    // per batch for drains; per ingest call for the ingest workload
    v("spark.jobs_per_batch") = opJobs.size.toDouble / math.max(1L, if (batches > 0) batches else traced.size.toLong)
    v("spark.tasks") = opTasks.size.toDouble
    v("spark.task_cpu_s") = opTasks.map(_.cpuNs).sum / 1e9
    v("spark.busy_frac") = if (wallS > 0) opTasks.map(_.runMs).sum / 1000.0 / (wallS * h.cpus) else 0.0
    v("spark.shuffle_write_mb") = opTasks.map(_.shuffleWrite).sum / 1048576.0
    v("spark.shuffle_read_mb") = opTasks.map(_.shuffleRead).sum / 1048576.0
    v("spark.spill_mb") = opTasks.map(_.spill).sum / 1048576.0
    JobListener.Layers.foreach { l =>
      v(s"spark.jobs.$l") = opJobs.count(_.layer == l).toDouble
      v(s"spark.task_cpu_s.$l") =
        opTasks.filter(t => h.listener.layerOfStage(t.stageId) == l).map(_.cpuNs).sum / 1e9
    }

    val tracedWall = mean(traced.map(_.wallS))
    val baseWall = mean(base.map(_.wallS))
    v("trace.overhead_s") = tracedWall - baseWall
    v("trace.overhead_frac") = if (baseWall > 0) (tracedWall - baseWall) / baseWall else 0.0

    val spans = h.tracer.all(jobs)
    v("trace.spans") = spans.size.toDouble
    val self = h.tracer.selfTimes(spans)
    Metrics.SpanLayers.foreach { l =>
      v(s"trace.self_s.$l") = spans.filter(s => s.kind == "bench" && s.name.startsWith(l + "."))
        .map(s => self(s.id)).sum / 1e9
    }
    val dir = sys.env.getOrElse("PERFBENCH_TRACE_DIR", "perfbench/out/trace")
    h.tracer.writeJsonl(s"$dir/${h.args.workload}-seed${h.args.seed}.jsonl", spans)
  }
}
