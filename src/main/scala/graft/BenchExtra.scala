package graft

import org.apache.spark.sql.SparkSession

/** Extra measurement main (NOT part of the driver contract — Bench.scala
  * is frozen). Times a selectable subset of the query suite with the
  * SAME methodology as Bench's suite section (same session config,
  * flagship engine pre-built, one cold pass, then warm passes timed by
  * `.count()`), but with per-query repeat lists so optimization work can
  * isolate noise. Guide §1.4: pass SPARK_GRAFT_NOOP=1 to time each query
  * through the noop sink (computes every column) instead of count().
  *
  * Usage: sbt "runMain graft.BenchExtra q45 q21 q43"   (prefix match; no
  * args = all queries). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_EXTRA_REPS (warm passes, default 3).
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt
    val useNoop = sys.env.contains("SPARK_GRAFT_NOOP")
    val localDir = s"${graft.crawl.Flagship.workRoot}/spark_local_extra"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val sel =
      if (args.isEmpty) all
      else all.filter { case (n, _) => args.exists(a => n.startsWith(a)) }
    require(sel.nonEmpty, s"no queries match ${args.mkString(",")}")

    val needsEngine = sel.exists { case (n, _) => graft.queries.Engine.all.contains(n) }
    if (needsEngine) {
      val e0 = System.nanoTime()
      graft.crawl.Flagship.engine(s, sfDir)
      println(f"[extra] engine_build ${(System.nanoTime() - e0) / 1e9}%.2f s")
    }

    def runOne(name: String, fn: (SparkSession, String) => Unit): Double = {
      s.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(s, sfDir)
      val dt = (System.nanoTime() - t0) / 1e9
      s.sparkContext.setJobDescription(null)
      dt
    }
    def action(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
              (sp: SparkSession, d: String): Unit =
      if (useNoop) fn(sp, d).write.format("noop").mode("overwrite").save()
      else { fn(sp, d).count(); () }

    // cold pass
    val cold = sel.map { case (n, fn) => n -> runOne(n, action(fn)) }
    // warm passes
    val warm = (1 to reps).map { _ =>
      sel.map { case (n, fn) => n -> runOne(n, action(fn)) }
    }
    println(f"[extra] sf=$sfDir cpus=$cpus reps=$reps noop=$useNoop")
    sel.map(_._1).zipWithIndex.foreach { case (n, i) =>
      val ws = warm.map(_(i)._2)
      println(f"[extra] $n cold=${cold(i)._2}%.3f warm=${ws.map(w => f"$w%.3f").mkString(",")} min=${ws.min}%.3f")
    }
    val totals = warm.map(_.map(_._2).sum)
    println(f"[extra] total cold=${cold.map(_._2).sum}%.3f warm=${totals.map(t => f"$t%.3f").mkString(",")}")
    graft.crawl.Flagship.cleanup()
    s.stop()
  }
}
