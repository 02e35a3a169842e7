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

/** The broadcast and co-partitioned (join) seen-set paths must be
  * interchangeable: identical serialized shard filters after inserts
  * and identical tier-1 verdicts over their snapshots — seeded property
  * trials (the offline cache has no scalatestplus bridge). */
class SeenShardsPathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def mk(mode: String, nShards: Int, buckets: Int) = {
    val dir = Files.createTempDirectory(s"seen_$mode").toString
    val tbl = new SnapshotTable(spark, dir, "shard")
    (new SeenShards(spark, tbl, nShards, buckets, mode), tbl)
  }

  private def fps(seed: Long, n: Int): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextLong())
  }

  test("insert via broadcast and join paths produces byte-identical shard filters (5 trials)") {
    import spark.implicits._
    (0 until 5).foreach { trial =>
      val nShards = 4 + trial
      val (b, bTbl) = mk("broadcast", nShards, 1 << 8)
      val (j, jTbl) = mk("join", nShards, 1 << 8)
      // two insert waves so the join path also exercises merge-into-existing
      Seq(fps(trial * 10 + 1, 200 + trial * 31), fps(trial * 10 + 2, 150)).foreach { wave =>
        val df = wave.toDF("fp")
        b.insert(df); j.insert(df)
      }
      val bBytes = bTbl.read().select("shard", "bytes")
        .as[(Int, Array[Byte])].collect().toMap
      val jBytes = jTbl.read().select("shard", "bytes")
        .as[(Int, Array[Byte])].collect().toMap
      assert(bBytes.keySet === jBytes.keySet, s"trial $trial: shard sets differ")
      bBytes.foreach { case (s, bb) =>
        assert(bb.toSeq === jBytes(s).toSeq, s"trial $trial: shard $s bytes differ")
      }
    }
  }

  test("probe verdicts identical across paths, including never-seen fps (5 trials)") {
    import spark.implicits._
    (0 until 5).foreach { trial =>
      val (b, bTbl) = mk("broadcast", 6, 1 << 8)
      val inserted = fps(500 + trial, 300)
      b.insert(inserted.toDF("fp"))
      // same table read through a join-path instance: same state, two paths
      val j = new SeenShards(spark, bTbl, 6, 1 << 8, "join")
      val candidates = inserted.take(50) ++ fps(900 + trial, 100)
      def verdicts(s: SeenShards) = {
        val maybe = s.probeLocal(s.snapshotBytes())
        candidates.map(fp => fp -> maybe(fp)).toMap
      }
      val vb = verdicts(b)
      val vj = verdicts(j)
      assert(vb === vj, s"trial $trial: verdicts differ")
      // two-tier invariant: no false negatives on either path
      inserted.take(50).foreach(fp => assert(vb(fp), s"false negative $fp"))
    }
  }

  test("auto mode switches to the join path only past the size threshold") {
    val (s, _) = mk("auto", 4, 1 << 8)
    assert(!s.useJoinPath) // empty table: broadcast is fine
    val (forced, _) = mk("join", 4, 1 << 8)
    assert(forced.useJoinPath)
  }

  private def shardMap(tbl: SnapshotTable): Map[Int, Seq[Byte]] = {
    import spark.implicits._
    tbl.read().select("shard", "bytes").as[(Int, Array[Byte])].collect()
      .map { case (s, b) => s -> b.toSeq }.toMap
  }

  /** Spark jobs started by `body` on this thread: they carry a job group,
    * counted once a later sentinel job's start event has arrived (the
    * listener bus delivers events in order). */
  private def jobsRunBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"measured-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = try body finally sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1)).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(sentinel), "the listener never saw the sentinel job")
      (r, groups.asScala.count(_ == group))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a broadcast-path insert publishes its shards: snapshotBytes runs no job and matches a fresh reader and the join path (3 trials)") {
    import spark.implicits._
    (0 until 3).foreach { trial =>
      val nShards = 4 + trial
      val (b, bTbl) = mk("broadcast", nShards, 1 << 8)
      val (j, jTbl) = mk("join", nShards, 1 << 8)
      Seq(fps(trial * 10 + 31, 400), fps(trial * 10 + 32, 250), fps(trial * 10 + 33, 120))
        .zipWithIndex.foreach { case (wave, i) =>
          // the engine's call: the driver insert over the probe's snapshot
          b.insertLocal(wave.toArray, b.snapshotBytes())
          j.insert(wave.toDF("fp"))
          val (snap, jobs) = jobsRunBy(b.snapshotBytes())
          assert(jobs === 0, s"trial $trial wave $i: snapshotBytes after the insert ran $jobs Spark jobs")
          // positive control for the job count: a new reader must read the table
          val (reread, rereadJobs) =
            jobsRunBy(new SeenShards(spark, bTbl, nShards, 1 << 8, "broadcast").snapshotBytes())
          assert(rereadJobs > 0)
          val memo = snap.map { case (s, bytes) => s -> bytes.toSeq }
          assert(memo === reread.map { case (s, bytes) => s -> bytes.toSeq },
            s"trial $trial wave $i: memo != table")
          assert(memo === shardMap(jTbl), s"trial $trial wave $i: driver insert != join path")
        }
    }
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

  test("a Spark-gate batch past the driver bound commits co-partitioned, with the join path's result") {
    import spark.implicits._
    def engine(mode: String) = {
      val cfg = CrawlConfig(seed = 29L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8,
        seenMode = mode)
      (new CrawlEngine(spark, Files.createTempDirectory(s"seen_bound_$mode").toString, cfg), cfg)
    }
    val (b, cfg) = engine("broadcast")
    val (j, _) = engine("join")
    val bound = 100
    // overlapping waves: the first two pass the bound (the first into an
    // empty table, as a first bulk ingest does), the third fits it
    val waves = Seq((0, 300), (200, 500), (450, 520))
    waves.zipWithIndex.foreach { case ((lo, hi), i) =>
      val seeds = spark.createDataset((lo until hi).map(k => Synth.seedUrl(k.toLong, cfg.nHosts, cfg.seed)))
      def entries = graft.frontier.Frontier.toEntries(spark, seeds, batchNo = i.toLong, cfg.seed)
      val nb = b.enqueue(entries, i.toLong, maxLocal = bound)
      val nj = j.enqueue(entries, i.toLong)
      assert(nb === nj, s"wave $i: enqueued counts differ")
      assert(nb === (if (i == 0) hi - lo else hi - waves(i - 1)._2), s"wave $i")
      assert((nb > bound) === (i < 2))
      // a co-partitioned commit leaves the memo behind (the next snapshot
      // reads the table); a driver insert publishes its version
      val (snap, jobs) = jobsRunBy(b.seen.snapshotBytes())
      if (i < 2) assert(jobs > 0, s"wave $i: past the bound, yet the memo was current")
      else assert(jobs === 0, s"wave $i: within the bound, yet snapshotBytes ran $jobs jobs")
      assert(snap.map { case (s, bytes) => s -> bytes.toSeq } === shardMap(j.seenTbl),
        s"wave $i: shard bytes differ from the join path")
      def rows(e: CrawlEngine) = e.frontierDf.select("fp", "seq").as[(Long, Long)].collect().sorted.toSeq
      assert(rows(b) === rows(j), s"wave $i: frontiers differ")
    }
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
    val problems = Seq("broadcast", "join").flatMap { mode =>
      val cfg = CrawlConfig(seed = 31L, nHosts = 30, nShards = 4, shardBuckets = 1 << 8,
        seenMode = mode)
      val eng = new CrawlEngine(spark, Files.createTempDirectory(s"seen_gate_$mode").toString, cfg)
      eng.init(200)
      assert(eng.seen.snapshotBytes().nonEmpty, s"$mode: the seen table is empty")
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
      assert(n === expected.size.toLong, s"$mode: enqueued count")
      // the gate is the first query that reads the candidates; the seen
      // and frontier commits read its cached output after it
      val gate = plans.find(_.exists {
        case l: LocalRelation => l.output.exists(a => seedIds(a.exprId))
        case _                => false
      }).getOrElse(fail(s"$mode: no query read the candidates"))
      val joins = gate.collect { case j: Join => j.joinType }
      val udfs = gate.flatMap(_.expressions.flatMap(_.collect { case u: ScalaUDF => u }))
      val cogroups = gate.collect { case c: CoGroup => c }
      Seq(
        if (joins == Seq(LeftAnti)) None else Some(s"joins ${joins.mkString(", ")}"),
        if (udfs.isEmpty) None else Some(s"Scala UDFs ${udfs.mkString(", ")}"),
        if (cogroups.isEmpty) None else Some(s"${cogroups.size} cogroup(s)")
      ).flatten.map(p => s"$mode: $p")
    }
    assert(problems.isEmpty, problems.mkString("; "))
  }
}
