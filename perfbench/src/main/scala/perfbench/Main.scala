package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean)

/** Benchmark entry point: one workload, one fresh local[cpus] session, a
  * closed loop driven from this thread. The last stdout line is the
  * result JSON; everything else goes to stderr. */
object Main {

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    for {
      w <- kv.get("workload").filter(Workloads.names.contains)
        .toRight(s"--workload must be one of ${Workloads.names.mkString(", ")}")
      s <- kv.get("seed").flatMap(_.toLongOption).toRight("--seed must be an integer")
      sec <- kv.get("seconds").flatMap(_.toDoubleOption).filter(_ > 0)
        .toRight("--seconds must be a positive number")
      t <- kv.getOrElse("trace", "0") match {
        case "0" => Right(false); case "1" => Right(true); case _ => Left("--trace must be 0 or 1")
      }
    } yield Args(w, s, sec, t)
  }

  def main(argv: Array[String]): Unit = parse(argv) match {
    case Left(err) =>
      System.err.println(s"perfbench: $err")
      sys.exit(2)
    case Right(args) =>
      val cpus = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
        .getOrElse(Runtime.getRuntime.availableProcessors)
      val root = sys.env.getOrElse("PERFBENCH_WORK_ROOT", "perfbench/out/work")
      val h = new Harness(args, cpus, root)
      def guarded(what: String)(body: => Unit): Unit =
        try body catch {
          case e: Throwable =>
            System.err.println(s"perfbench: ${args.workload} $what failed: $e")
            e.printStackTrace()
            h.aborted = true
        }
      guarded("run")(Workloads.run(args.workload, h))
      guarded("stop")(h.stop())
      println(h.resultLine)
      sys.exit(0)
  }
}

/** One timed operation of a workload: a drain or ingest call. */
final case class Op(wallS: Double, urls: Long, batches: Long, traced: Boolean,
                    startNs: Long, endNs: Long, phases: Map[String, Double])

/** Per-run state shared by the workloads: the session, the timers, the
  * op log, the failure counts and the tracer. */
final class Harness(val args: Args, val cpus: Int, val root: String) {
  val tracer = new Tracer(args.trace)
  val listener = new JobListener
  private var listening = false
  var spark: SparkSession = _
  val values = mutable.LinkedHashMap.empty[String, Double]
  val setupTimes = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val resident = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  var aborted = false
  private val t0 = System.nanoTime()

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, stamped with the run's elapsed time. */
  def note(msg: String): Unit = System.err.println(f"perfbench: [$elapsedS%6.1f s] $msg")
  def seed: Long = args.seed

  /** Wall seconds of `body`. */
  def time[A](body: => A): (Double, A) = {
    val s = System.nanoTime()
    val r = body
    ((System.nanoTime() - s) / 1e9, r)
  }

  def startSession(): Unit = {
    val (dt, s) = time {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val localDir = s"$root/spark_local"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
      // the settings graft.Bench uses for its drains, at this box's cores
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"perfbench-${args.workload}")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", localDir)
        .config("spark.sql.warehouse.dir", s"$root/warehouse")
        .config("spark.scheduler.mode", "FAIR")
        .getOrCreate()
    }
    s.sparkContext.setLogLevel("WARN")
    spark = s
    values("setup.session_s") = dt
    note(f"session $dt%.2f s")
  }

  /** Warm-up: JIT and codegen of the workload's code paths, outside every
    * timed part. */
  def warmUp(body: => Unit): Unit = {
    val was = tracer.active
    tracer.active = false
    val (dt, _) = time(body)
    tracer.active = was
    clearCaches()
    values("setup.warmup_s") = dt
    note(f"warm-up $dt%.2f s")
  }

  /** One set-up; its wall time is a `setup_s` sample. */
  def setup[A](body: => A): A = {
    val (dt, r) = time(body)
    setupTimes += dt
    note(f"set-up $dt%.2f s")
    r
  }

  /** One timed op; `body` returns its (urls, batches). `traced` ops record
    * spans and Spark jobs; a traced run's untraced ops are the baseline
    * for the tracing overhead. */
  def op(traced: Boolean, phases: => Map[String, Double])(body: => (Long, Long)): Op = {
    if (traced && !listening) { spark.sparkContext.addSparkListener(listener); listening = true }
    tracer.active = traced
    attempted += 1
    val before = phases
    val s = tracer.nowNs
    val (dt, (urls, batches)) = try time(body) catch {
      case e: Throwable => failed += 1; throw e
    }
    val e = tracer.nowNs
    resident += residentMb()
    val after = phases
    val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    val o = Op(dt, urls, batches, traced, s, e, delta)
    ops += o
    note(f"op ${ops.size}: $urls urls, $batches batches in $dt%.2f s" + (if (traced) " (traced)" else ""))
    o
  }

  /** Records a check; a failed check fails `nOps` ops. */
  def check(label: String, nOps: Int)(result: Option[String]): Unit = result.foreach { msg =>
    System.err.println(s"perfbench: CHECK FAILED [$label] $msg")
    failed += nOps
  }

  /** Spark storage memory holding cached blocks, in MB. */
  def residentMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0

  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Traced ops and layer probes: spans are recorded only when on. */
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  def rmrf(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.delete)
      finally s.close()
    }
  }

  def stop(): Unit = {
    if (args.trace && spark != null) Summary.traced(this)
    if (spark != null) spark.stop()
    rmrf(root)
  }

  def resultLine: String = {
    if (!args.trace) {
      // urls through the timed part ÷ its wall time, over all timed ops
      values("urls_per_s") = ops.map(_.urls).sum / ops.map(_.wallS).sum
      values("setup_s") = Summary.median(setupTimes.toSeq)
      values("cache_resident_mb") = Summary.median(resident.toSeq)
    }
    val att = math.max(1, attempted)
    val bad = if (aborted) math.max(1, failed) else failed
    values("failed_ops") = bad.toDouble / att
    Metrics.resultLine(correct = bad == 0 && !aborted, att, bad, values.toMap,
      if (args.trace) Metrics.PerLayer else Metrics.EndToEnd)
  }
}
