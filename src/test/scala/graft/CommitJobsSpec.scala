package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.frontier.SeenShards
import graft.synth.Synth
import graft.table.SnapshotTable
import graft.util.Hashing
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Batch-bounded commits are written on the driver (`commitLocal`) and
  * run no Spark job: the seen insert, a driver-gate enqueue, and the
  * drain's processing and terminal commits. */
class CommitJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Call sites ("parquet at SnapshotTable.scala:580") of the Spark jobs
    * started while `body` runs — by this thread only when `scoped` (they
    * carry a job group), else by any thread, e.g. the drain's commit
    * lane. Read once a later sentinel job's start event has arrived (the
    * listener bus delivers events in order). */
  private def jobsRunBy[T](scoped: Boolean)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"measured-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def sentinelSeen = jobs.asScala.exists(_._1 == sentinel)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), e.stageInfos.map(_.name).mkString("; ")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "the listener never saw the sentinel job")
      (r, jobs.asScala.collect { case (g, site) if g != sentinel && (!scoped || g == group) => site }.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("the driver seen insert and a driver-gate enqueue with no filter positive run no Spark job") {
    import spark.implicits._
    val seen = new SeenShards(spark,
      new SnapshotTable(spark, Files.createTempDirectory("jobs_seen").toString, "shard"), 4, 1 << 8)
    val r = new scala.util.Random(3)
    Seq(300, 200).foreach { n =>
      val (_, jobs) = jobsRunBy(scoped = true)(seen.insertLocal(Array.fill(n)(r.nextLong())))
      assert(jobs.isEmpty, s"insertLocal ran ${jobs.mkString(", ")}")
    }

    val cfg = CrawlConfig(seed = 43L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("jobs_gate").toString, cfg)
    def seeds(lo: Int, hi: Int) = (lo until hi).map(k => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed))
    // the first wave meets empty tables; no url of the second is a
    // filter positive (checked), so neither wave needs the verify job
    val (n0, jobs0) = jobsRunBy(scoped = true)(eng.enqueueLocal(seeds(0, 150), 0L))
    assert(n0 === 150L)
    assert(jobs0.isEmpty, s"the first enqueueLocal ran ${jobs0.mkString(", ")}")
    val maybeSeen = eng.seen.probeLocal()
    assert(!seeds(150, 300).exists(s => maybeSeen(Hashing.fp(s.url))), "pick other seeds")
    val (n1, jobs1) = jobsRunBy(scoped = true)(eng.enqueueLocal(seeds(150, 300), 1L))
    assert(n1 === 150L)
    assert(jobs1.isEmpty, s"the second enqueueLocal ran ${jobs1.mkString(", ")}")
    val expected = seeds(0, 300).map(s => Hashing.fp(s.url)).sorted
    assert(eng.seenSet.as[Long].collect().sorted.toSeq === expected)
  }

  test("a Spark-gate enqueue past the driver bound inserts on the driver: one table-layer job, no cogroup") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 53L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("jobs_bound").toString, cfg)
    val seeds = spark.createDataset((0 until 300).map(k => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed)))
    // the physical operators (RDD scopes) of each job this thread runs,
    // told apart from other threads' jobs by a local property: under
    // adaptive execution a write job's call site is the stage thread's,
    // so a table-layer write is the job that runs `WriteFiles`
    val sc = spark.sparkContext
    val tag = s"bound-${System.nanoTime()}"
    val operators = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.test.tag") == tag))
          operators.add(e.stageInfos.flatMap(_.rddInfos).flatMap(_.scope).map(_.name).distinct)
    }
    sc.addSparkListener(listener)
    val (n, sites) =
      try {
        sc.setLocalProperty("graft.test.tag", tag)
        jobsRunBy(scoped = true)(eng.enqueue(
          graft.frontier.Frontier.toEntries(spark, seeds, batchNo = 0L, cfg.seed), 0L, maxLocal = 100))
      } finally {
        sc.setLocalProperty("graft.test.tag", null)
        sc.removeSparkListener(listener)
      }
    assert(n === 300L)
    val jobs = operators.asScala.toSeq
    assert(jobs.exists(_.nonEmpty), "no operator scope was recorded")
    val writes = jobs.filter(_.contains("WriteFiles"))
    assert(writes.size === 1, s"table-layer jobs: ${writes.map(_.mkString(", ")).mkString("; ")}")
    val reads = sites.filter(_.contains("SeenShards.scala"))
    assert(reads.isEmpty, s"seen-set jobs: ${reads.mkString(", ")}")
    val cogroups = jobs.filter(_.exists(_.contains("CoGroup")))
    assert(cogroups.isEmpty, s"cogroup jobs: ${cogroups.map(_.mkString(", ")).mkString("; ")}")
    assert(eng.seenSet.as[Long].collect().sorted.toSeq ===
      (0 until 300).map(k => Hashing.fp(Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed).url)).sorted)
  }

  test("a drain without compaction writes only the payload with Spark jobs") {
    val cfg = CrawlConfig(seed = 47L, nHosts = 30, batchSize = 64, compactEvery = 100,
      nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("jobs_drain").toString, cfg)
    eng.init(200)
    val snaps = Seq(eng.frontier, eng.seenTbl, eng.payload).map(_.currentId.getOrElse(-1L))
    val ((batches, urls), sites) = jobsRunBy(scoped = false)(eng.drain(2))
    assert(batches === 2L && urls === 128L)
    // the drain did commit: processing, append and terminal frontier
    // commits, seen inserts and payload appends
    val after = Seq(eng.frontier, eng.seenTbl, eng.payload).map(_.currentId.getOrElse(-1L))
    assert(after(0) - snaps(0) >= 6, s"frontier commits ${snaps(0)} -> ${after(0)}")
    assert(after(1) - snaps(1) === 2L, s"seen commits ${snaps(1)} -> ${after(1)}")
    assert(after(2) - snaps(2) === 2L, s"payload commits ${snaps(2)} -> ${after(2)}")
    assert(sites.nonEmpty, "the drain ran no job")
    val writes = sites.filter(_.contains("SnapshotTable.scala"))
    assert(writes.size === 2, s"table-layer jobs: ${writes.mkString(", ")}")
  }
}
