package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. Times are wall-clock nanoseconds since the epoch,
  * so bench spans (System.nanoTime, rebased) and Spark job spans (event
  * timestamps in ms) share one axis. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      kind: String)

/** Spans kept in memory and written out when the run ends. Bench spans
  * come from `span` around each call the benchmark makes into a layer's
  * public function; Spark jobs recorded by [[JobListener]] become child
  * spans of the innermost bench span open when the job started.
  * Disabled tracers record nothing and add no listener. */
final class Tracer(val enabled: Boolean) {
  private val nanoBase = System.nanoTime()
  private val wallBaseNs = System.currentTimeMillis() * 1000000L
  def nowNs: Long = wallBaseNs + (System.nanoTime() - nanoBase)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 0
  /** Tracing can be paused (the untraced baseline op of a traced run). */
  var active: Boolean = enabled

  def span[A](name: String)(body: => A): A =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      open = (id, name, nowNs) :: open
      try body
      finally {
        val (_, _, start) = open.head
        val parent = open.tail.headOption.map(_._1).getOrElse(-1)
        open = open.tail
        spans += Span(id, parent, name, start, nowNs, "bench")
      }
    }

  /** Bench spans plus job spans, each job parented to the deepest bench
    * span whose interval holds the job's start. */
  def all(jobs: Seq[JobRec]): Seq[Span] = {
    val bench = spans.toVector
    val jobSpans = jobs.zipWithIndex.map { case (j, i) =>
      val holders = bench.filter(s => s.startNs <= j.startNs && j.startNs <= s.endNs)
      val parent = if (holders.isEmpty) -1 else holders.maxBy(_.startNs).id
      Span(nextId + i, parent, j.callSite, j.startNs, j.endNs, "spark-job")
    }
    bench ++ jobSpans
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, (s.endNs - s.startNs) - covered)
    }.toMap
  }

  def writeJsonl(path: String, all: Seq[Span]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try all.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":"${s.kind}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

final case class JobRec(id: Int, callSite: String, layer: String, startNs: Long, endNs: Long)
final case class TaskRec(stageId: Int, runMs: Long, cpuNs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)

/** Records every job and task of the session. A job's layer is the source
  * file of its call site ("count at Frontier.scala:84" → frontier). */
final class JobListener extends SparkListener {
  private val jobStarts = mutable.HashMap.empty[Int, (String, Long)]
  /** SQL execution id → its call site: jobs a query runs on helper
    * threads (broadcasts, subqueries) carry only the execution id. */
  private val execSites = mutable.HashMap.empty[Long, String]
  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized(execSites(s.executionId) = s.description)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSites.get(id.toLong))
    val site = exec.filter(JobListener.layerOf(_) != "other").getOrElse(own)
    jobStarts(e.jobId) = (site, e.time * 1000000L)
    e.stageIds.foreach { s => stageLayer(s) = JobListener.layerOf(site); stageJob(s) = e.jobId }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (site, start) =>
      jobs += JobRec(e.jobId, site, JobListener.layerOf(site), start, e.time * 1000000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, m.executorRunTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled)
  }

  def pendingJobs: Int = synchronized(jobStarts.size)
  def eventCount: Int = synchronized(jobs.size + tasks.size)
  def layerOfStage(s: Int): String = synchronized(stageLayer.getOrElse(s, "other"))
  def jobOfStage(s: Int): Int = synchronized(stageJob.getOrElse(s, -1))
  def snapshot: (Vector[JobRec], Vector[TaskRec]) = synchronized((jobs.toVector, tasks.toVector))
}

object JobListener {
  /** Layers a job can be attributed to, by the source file of its call
    * site. */
  val Layers: Seq[String] = Seq("crawl", "frontier", "table", "util", "bench", "other")

  private val SiteFile = """.* at ([A-Za-z0-9_$]+)\.scala:\d+.*""".r

  def layerOf(callSite: String): String = callSite match {
    case SiteFile(file) => file match {
      case "CrawlEngine" | "Flagship" => "crawl"
      case "Frontier" | "SeenShards" => "frontier"
      case "SnapshotTable" => "table"
      case "Rank" | "Hashing" => "util"
      case f if f.startsWith("Workloads") || f == "Layers" || f == "Main" => "bench"
      case _ => "other"
    }
    case _ => "other"
  }
}
