package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.frontier.SeenShards
import graft.synth.Synth
import graft.table.SnapshotTable
import graft.util.Hashing
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, Join, LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The seen set is one driver-held structure with one insert
  * (`insertLocal`), which every gate's survivors reach, a Spark-gate
  * batch past the driver bound too. The writer's memo must equal a fresh
  * reader's snapshot, the result must not depend on the order the fps
  * arrive in, and the shards are read only when an insert will use them —
  * seeded property trials (the offline cache has no scalatestplus
  * bridge). Some test names keep earlier names: the "paths" a probe is
  * identical across are the writer's memo and a fresh reader, and "both
  * seen paths" of the Spark gate's plan test are now one. */
class SeenShardsPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(nShards: Int, buckets: Int) = {
    val dir = Files.createTempDirectory("seen").toString
    val tbl = new SnapshotTable(spark, dir, "shard")
    (new SeenShards(spark, tbl, nShards, buckets), tbl)
  }

  private def fps(seed: Long, n: Int): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextLong())
  }

  test("probe verdicts identical across paths, including never-seen fps (5 trials)") {
    (0 until 5).foreach { trial =>
      val (w, tbl) = mk(6, 1 << 8)
      val inserted = fps(500 + trial, 300)
      w.insertLocal(inserted.toArray)
      // the writer answers from its memo; a new reader reads the table
      val r = new SeenShards(spark, tbl, 6, 1 << 8)
      val candidates = inserted.take(50) ++ fps(900 + trial, 100)
      def verdicts(s: SeenShards) = {
        val maybe = s.probeLocal()
        candidates.map(fp => fp -> maybe(fp)).toMap
      }
      val vw = verdicts(w)
      assert(vw === verdicts(r), s"trial $trial: verdicts differ")
      // two-tier invariant: no false negatives
      inserted.take(50).foreach(fp => assert(vw(fp), s"false negative $fp"))
    }
  }

  private def shardMap(tbl: SnapshotTable): Map[Int, Seq[Byte]] = {
    import spark.implicits._
    tbl.read().select("shard", "bytes").as[(Int, Array[Byte])].collect()
      .map { case (s, b) => s -> b.toSeq }.toMap
  }

  /** Call sites ("collect at SeenShards.scala:63") of the Spark jobs
    * started by `body` on this thread: they carry a job group, read once
    * a later sentinel job's start event has arrived (the listener bus
    * delivers events in order). */
  private def jobsRunBy[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"measured-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def sentinelSeen = jobs.asScala.exists(_._1 == sentinel)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => jobs.add((g, e.stageInfos.map(_.name).mkString("; "))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "the listener never saw the sentinel job")
      (r, jobs.asScala.collect { case (`group`, site) => site }.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a driver insert publishes its shards: snapshotBytes runs no job and matches a fresh reader (3 trials)") {
    (0 until 3).foreach { trial =>
      // 4, 6, 8 shards; waves after the first merge into existing shards
      val nShards = 4 + 2 * trial
      val (d, dTbl) = mk(nShards, 1 << 8)
      Seq(fps(trial * 10 + 31, 400), fps(trial * 10 + 32, 250), fps(trial * 10 + 33, 120))
        .zipWithIndex.foreach { case (wave, i) =>
          d.insertLocal(wave.toArray)
          val (snap, jobs) = jobsRunBy(d.snapshotBytes())
          assert(jobs.isEmpty, s"trial $trial wave $i: snapshotBytes after the insert ran ${jobs.mkString(", ")}")
          // positive control for the job count: a new reader must read the table
          val (reread, rereadJobs) =
            jobsRunBy(new SeenShards(spark, dTbl, nShards, 1 << 8).snapshotBytes())
          assert(rereadJobs.nonEmpty)
          val memo = snap.map { case (s, bytes) => s -> bytes.toSeq }
          assert(memo === reread.map { case (s, bytes) => s -> bytes.toSeq },
            s"trial $trial wave $i: memo != table")
        }
    }
  }

  test("a driver insert whose commit fails publishes nothing; a retry commits") {
    val (w, tbl) = mk(4, 1 << 8)
    w.insertLocal(fps(61, 300).toArray)
    val batch = fps(62, 200)
    val candidates = fps(61, 300).take(50) ++ batch
    def verdicts(probe: Long => Boolean) = candidates.map(probe)
    val held = w.probeLocal()
    val before = verdicts(held)
    assert(!batch.forall(held), "every fp of the batch is already a filter positive")
    val current = tbl.currentId
    // a regular file in place of data/: the commit's move into it throws
    val data = java.nio.file.Paths.get(tbl.tableRoot, "data")
    val aside = java.nio.file.Paths.get(tbl.tableRoot, "data-aside")
    Files.move(data, aside)
    Files.createFile(data)
    try {
      intercept[java.io.IOException](w.insertLocal(batch.toArray))
      assert(verdicts(w.probeLocal()) === before, "the failed insert was published")
      assert(verdicts(held) === before, "the failed insert changed a probe taken before it")
      assert(tbl.currentId === current, "CURRENT moved")
    } finally {
      Files.delete(data)
      Files.move(aside, data)
    }
    assert(verdicts(new SeenShards(spark, tbl, 4, 1 << 8).probeLocal()) === before)
    w.insertLocal(batch.toArray)
    assert(tbl.currentId === current.map(_ + 1), "the retry did not commit")
    assert(batch.forall(w.probeLocal()), "the retry's fps are not in the filter")
    assert(verdicts(new SeenShards(spark, tbl, 4, 1 << 8).probeLocal()) === verdicts(w.probeLocal()))
  }

  test("bulk ingests run seen-table hygiene: after 8 ingests <= 6 delta commits, <= 8 snapshots, same seen set") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 23L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    val dir = Files.createTempDirectory("seen_hygiene")
    val eng = new CrawlEngine(spark, dir.resolve("engine").toString, cfg)
    val lines = (0 until 8).map { f =>
      val ls = (f * 40 until f * 40 + 60).map(i => Synth.seedUrl(i, cfg.nHosts, cfg.seed).url)
      val p = dir.resolve(s"seeds_$f.txt")
      Files.write(p, ls.asJava)
      eng.initFromTextFile(p.toString)
      ls
    }.flatten
    val m = eng.seenTbl.currentManifest.get
    val deltaCommits = m.files.filter(_.kind == "delta").map(_.deltaSeq).distinct.size
    assert(deltaCommits <= 6, s"$deltaCommits delta commits")
    assert(eng.seenTbl.retainedSnapshotIds.size <= 8)
    val expected = lines.map(Hashing.fp).distinct.sorted
    assert(eng.seenSet.as[Long].collect().sorted.toSeq === expected)
    // the memo still equals the table after the compaction
    val memo = eng.seen.snapshotBytes().map { case (s, b) => s -> b.toSeq }
    assert(memo === shardMap(eng.seenTbl))
    val shards = memo.map { case (s, b) => s -> graft.filter.CuckooFilter.deserialize(b.toArray) }
    expected.foreach(fp => assert(shards(java.lang.Math.floorMod(fp, 4L).toInt).mightContain(fp)))
  }

  test("a Spark-gate batch past the driver bound inserts on the driver, with the default bound's result") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 29L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    def engine() = new CrawlEngine(spark, Files.createTempDirectory("seen_bound").toString, cfg)
    // b runs with a test-sized driver bound, d with the default one
    val (b, d) = (engine(), engine())
    val bound = 100
    // overlapping waves: the first two pass the bound (the first into an
    // empty table, as a first bulk ingest does), the third fits it
    val waves = Seq((0, 300), (200, 500), (450, 520))
    waves.zipWithIndex.foreach { case ((lo, hi), i) =>
      val seeds = spark.createDataset((lo until hi).map(k => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed)))
      def entries = graft.frontier.Frontier.toEntries(spark, seeds, batchNo = i.toLong, cfg.seed)
      val nb = b.enqueue(entries, i.toLong, maxLocal = bound)
      val nd = d.enqueue(entries, i.toLong)
      assert(nb === nd, s"wave $i: enqueued counts differ")
      assert(nb === (if (i == 0) hi - lo else hi - waves(i - 1)._2), s"wave $i")
      assert((nb > bound) === (i < 2))
      // past the bound or within it, the driver insert publishes its
      // version; b's fps come from the pair collect past the bound, d's
      // from the row collect, in no common order, so equal bytes also
      // show the merge does not depend on the order
      val (snap, jobs) = jobsRunBy(b.seen.snapshotBytes())
      assert(jobs.isEmpty, s"wave $i: snapshotBytes ran ${jobs.mkString(", ")}")
      assert(snap.map { case (s, bytes) => s -> bytes.toSeq } === shardMap(d.seenTbl),
        s"wave $i: shard bytes differ from the driver insert's")
      def rows(e: CrawlEngine) = e.frontierDf.select("fp", "seq").as[(Long, Long)].collect().sorted.toSeq
      assert(rows(b) === rows(d), s"wave $i: frontiers differ")
    }
  }

  test("a Spark-gate enqueue with no survivors reads no shards, even after a co-partitioned commit") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 37L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("seen_no_survivors").toString, cfg)
    val seeds = spark.createDataset((0 until 300).map(k => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed)))
    def entries(batchNo: Long) = graft.frontier.Frontier.toEntries(spark, seeds, batchNo, cfg.seed)
    // past the bound: the survivors' fps are collected and inserted on
    // the driver, as within it
    assert(eng.enqueue(entries(0L), 0L, maxLocal = 100) === 300L)
    // a replay of the known seeds: nothing survives the gate
    val (n, sites) = jobsRunBy(eng.enqueue(entries(1L), 1L))
    assert(n === 0L)
    assert(sites.nonEmpty, "the gate ran no job")
    val reads = sites.filter(_.contains("SeenShards.scala"))
    assert(reads.isEmpty, s"the gate read the shard table: ${reads.mkString(", ")}")
  }

  /** Analyzed plans of the queries `body` runs on this session, in the
    * order they finished: the listener bus delivers them asynchronously,
    * so they are read once a later sentinel query has arrived. */
  private def queriesRunBy(body: => Unit): Seq[LogicalPlan] = {
    val marker = System.nanoTime()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.analyzed)
    }
    def sentinelSeen = plans.asScala.exists(_.exists {
      case r: Range => r.start == marker
      case _        => false
    })
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(marker, marker + 1).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "the listener never saw the sentinel query")
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("the Spark gate verifies candidates with one exact anti-join: no UDF, no cogroup, on both seen paths") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 31L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("seen_gate").toString, cfg)
    eng.init(200)
    assert(eng.seen.snapshotBytes().nonEmpty, "the seen table is empty")
    // half the candidates are already in the frontier
    val url = (k: Int) => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed)
    val seeds = spark.createDataset((100 until 300).map(url))
    val seedIds = seeds.queryExecution.analyzed.output.map(_.exprId).toSet
    var n = 0L
    val plans = queriesRunBy {
      n = eng.enqueue(graft.frontier.Frontier.toEntries(spark, seeds, batchNo = 1L, cfg.seed), 1L)
    }
    val known = (0 until 200).map(k => Hashing.fp(url(k).url)).toSet
    val expected = (100 until 300).map(k => Hashing.fp(url(k).url)).filterNot(known).distinct
    assert(n === expected.size.toLong, "enqueued count")
    // the gate is the first query that reads the candidates; within the
    // driver bound the seen and frontier commits write its collected rows
    val gate = plans.find(_.exists {
      case l: LocalRelation => l.output.exists(a => seedIds(a.exprId))
      case _                => false
    }).getOrElse(fail("no query read the candidates"))
    val joins = gate.collect { case j: Join => j.joinType }
    val udfs = gate.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
    val cogroups = gate.collect { case c: CoGroup => c }
    val problems = Seq(
      if (joins == Seq(LeftAnti)) None else Some(s"joins ${joins.mkString(", ")}"),
      if (udfs.isEmpty) None else Some(s"Scala UDFs ${udfs.mkString(", ")}"),
      if (cogroups.isEmpty) None else Some(s"${cogroups.size} cogroup(s)")
    ).flatten
    assert(problems.isEmpty, problems.mkString("; "))
  }
}
