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

  /** One Spark job: its call site ("parquet at SnapshotTable.scala:580")
    * and the physical operators (RDD scopes) of its stages. Under
    * adaptive execution a write job's call site is the stage thread's
    * (`CompletableFuture.java`), so a table-layer write is told by its
    * `WriteFiles` operator, not by its call site. */
  private final case class Job(site: String, operators: Seq[String]) {
    def writes: Boolean = operators.contains("WriteFiles")
  }

  /** The Spark jobs started while `body` runs — by this thread only
    * when `scoped` (they carry a job group), else by any thread, e.g.
    * the drain's commit lane. Read once a later sentinel job's start
    * event has arrived (the listener bus delivers events in order). */
  private def jobsRunBy[T](scoped: Boolean)(body: => T): (T, Seq[Job]) = {
    val sc = spark.sparkContext
    val group = s"measured-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Job)]()
    def sentinelSeen = jobs.asScala.exists(_._1 == sentinel)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""), Job(e.stageInfos.map(_.name).mkString("; "),
          e.stageInfos.flatMap(_.rddInfos).flatMap(_.scope).map(_.name).distinct)))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "the listener never saw the sentinel job")
      (r, jobs.asScala.collect { case (g, job) if g != sentinel && (!scoped || g == group) => job }.toSeq)
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
    val (n, jobs) = jobsRunBy(scoped = true)(eng.enqueue(
      graft.frontier.Frontier.toEntries(spark, seeds, batchNo = 0L, cfg.seed), 0L, maxLocal = 100))
    assert(n === 300L)
    assert(jobs.exists(_.operators.nonEmpty), "no operator scope was recorded")
    val writes = jobs.filter(_.writes)
    assert(writes.size === 1, s"table-layer jobs: ${writes.map(_.operators.mkString(", ")).mkString("; ")}")
    val reads = jobs.filter(_.site.contains("SeenShards.scala"))
    assert(reads.isEmpty, s"seen-set jobs: ${reads.map(_.site).mkString(", ")}")
    val cogroups = jobs.filter(_.operators.exists(_.contains("CoGroup")))
    assert(cogroups.isEmpty, s"cogroup jobs: ${cogroups.map(_.operators.mkString(", ")).mkString("; ")}")
    assert(eng.seenSet.as[Long].collect().sorted.toSeq ===
      (0 until 300).map(k => Hashing.fp(Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed).url)).sorted)
  }

  /** Drains 2 batches of 64 urls from 200 seeds under `compactEvery`:
    * the frontier snapshots the drain published and the Spark jobs it
    * ran, after checking that it committed as a drain does (processing,
    * append and terminal frontier commits, seen inserts and payload
    * appends). */
  private def drain2(dirName: String, compactEvery: Int): (Seq[SnapshotTable.Manifest], Seq[Job]) = {
    val cfg = CrawlConfig(seed = 47L, nHosts = 30, batchSize = 64, compactEvery = compactEvery,
      nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory(dirName).toString, cfg)
    eng.init(200)
    val snaps = Seq(eng.frontier, eng.seenTbl, eng.payload).map(_.currentId.getOrElse(-1L))
    val ((batches, urls), jobs) = jobsRunBy(scoped = false)(eng.drain(2))
    assert(batches === 2L && urls === 128L)
    val after = Seq(eng.frontier, eng.seenTbl, eng.payload).map(_.currentId.getOrElse(-1L))
    assert(after(0) - snaps(0) >= 6, s"frontier commits ${snaps(0)} -> ${after(0)}")
    assert(after(1) - snaps(1) === 2L, s"seen commits ${snaps(1)} -> ${after(1)}")
    assert(after(2) - snaps(2) === 2L, s"payload commits ${snaps(2)} -> ${after(2)}")
    assert(jobs.nonEmpty, "the drain ran no job")
    (eng.frontier.retainedSnapshotIds.filter(_ > snaps(0)).map(eng.frontier.manifest), jobs)
  }

  test("a drain without compaction writes only the payload with Spark jobs") {
    val (published, jobs) = drain2("jobs_drain", compactEvery = 100)
    assert(!published.exists(_.metrics.contains("compacted")), "the frontier compacted")
    val writes = jobs.filter(_.writes)
    assert(writes.size === 2, s"table-layer jobs: ${writes.map(_.site).mkString(", ")}")
  }

  test("a drain that compacts the frontier writes only the payload with Spark jobs") {
    val (published, jobs) = drain2("jobs_compact", compactEvery = 1)
    assert(published.exists(_.metrics.contains("compacted")), "the frontier never compacted")
    val writes = jobs.filter(_.writes)
    assert(writes.size === 2, s"table-layer jobs: ${writes.map(_.site).mkString(", ")}")
  }
}
