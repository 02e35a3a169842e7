package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.frontier.Frontier
import graft.model.{CrawlRecord, FrontierEntry, FrontierState}
import graft.oracle.RefOracle
import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The host-bucketed, exchange-free claim path (claimMode=bucketed):
  *  - full engine parity vs the single-threaded oracle;
  *  - row-identical to the window claim on the same table state;
  *  - the claim plan contains ZERO shuffle exchanges;
  *  - every committed file carries its bucket and buckets respect
  *    pmod(hash(host), B).
  */
class BucketedClaimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val cfg = CrawlConfig(seed = 11L, nHosts = 17, universe = 200,
    batchSize = 53, batchMs = 180000L, nShards = 4,
    claimMode = "bucketed", claimBuckets = 5)
  private val nSeeds = 80

  private lazy val engine: CrawlEngine = {
    val dir = Files.createTempDirectory("bucketedclaim").toString
    val e = new CrawlEngine(spark, dir, cfg)
    e.init(nSeeds)
    e.drain()
    e
  }
  private lazy val oracle = RefOracle.run(nSeeds, cfg)

  test("bucketed claim: committed crawl order byte-matches the oracle") {
    import spark.implicits._
    val got = engine.committedOrder.as[CrawlRecord].collect().toSeq
      .sortBy(r => (r.batchNo, r.priority, r.seq))
    val want = oracle.log.sortBy(r => (r.batchNo, r.priority, r.seq))
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("bucketed claim: seen set byte-matches the oracle") {
    import spark.implicits._
    assert(engine.seenSet.as[Long].collect().sorted.toSeq === oracle.seen)
  }

  test("delta commits are UNBUCKETED, one file per (deltaSeq, tag)") {
    // r6: only base files are bucket-split — a per-(tag, bucket) delta
    // split wrote O(B) near-empty files per state-flip commit and its
    // per-file fixed costs dominated the bucketed drain; deltas are
    // re-sliced in-task by bucketedStateScan instead.
    val deltas = engine.frontier.currentManifest.get.files.filter(_.kind == "delta")
    assert(deltas.nonEmpty)
    assert(deltas.forall(_.bucket < 0), "delta file carries a bucket")
    deltas.groupBy(f => (f.deltaSeq, f.tag)).foreach { case (k, fs) =>
      assert(fs.size === 1, s"commit wrote ${fs.size} files for (deltaSeq, tag)=$k")
    }
  }

  test("every committed base file carries a bucket consistent with its rows") {
    import org.apache.spark.sql.functions._
    val files = engine.frontier.currentManifest.get.files.filter(_.kind == "base")
    assert(files.nonEmpty)
    assert(files.forall(_.bucket >= 0), "unbucketed base file in a bucketed table")
    assert(files.forall(_.bucket < cfg.claimBuckets))
    // spot-check: rows inside each base file hash to the file's bucket
    files.take(6).foreach { f =>
      val bad = spark.read.parquet(s"${engine.frontier.tableRoot}/${f.path}")
        .withColumn("__b", pmod(hash(col("host")), lit(cfg.claimBuckets)))
        .filter(col("__b") =!= f.bucket).count()
      assert(bad === 0, s"rows of ${f.path} landed outside bucket ${f.bucket}")
    }
  }

  /** Build a bucketed table through a messy lifecycle (appends, state
    * flips, recovery re-pends, a compaction) and check the bucketed
    * claim is row-identical to the window claim on the same snapshot. */
  private def messyTable(buckets: Int): SnapshotTable = {
    import spark.implicits._
    val dir = Files.createTempDirectory("bucketedmessy").toString
    val tbl = new SnapshotTable(spark, dir, "fp", tagCol = Some("state"),
      frozenTags = Set(FrontierState.Processed, FrontierState.Failed),
      bucketBy = Some(("host", buckets)))
    val r = new scala.util.Random(99)
    val hosts = (0 until 13).map(i => s"h$i.example")
    val entries = (0 until 400).map { i =>
      FrontierEntry(fp = 1000L + i, url = s"u://$i",
        host = hosts(r.nextInt(hosts.length)),
        priority = 0, seq = i.toLong, state = FrontierState.Pending,
        error = null, discoveredAt = 0L, processedAt = -1L)
    }
    tbl.commitAppend(entries.toDF())
    // flip a third to processing, then most of those terminal
    val processing = r.shuffle(entries).take(130)
    tbl.commitUpsert(processing.map(_.copy(state = FrontierState.Processing)).toDF())
    val terminal = processing.take(100).map(e => e.copy(
      state = if (e.seq % 3 == 0) FrontierState.Failed else FrontierState.Processed,
      processedAt = 1L))
    tbl.commitUpsert(terminal.toDF())
    // the rest recover back to pending at recovery priority
    val recovered = processing.drop(100).map(_.copy(
      state = FrontierState.Pending, priority = FrontierState.RecoveryPriority))
    tbl.commitUpsert(recovered.toDF())
    tbl.compactIfNeeded(maxDeltaCommits = 2)
    // one more post-compaction delta so shadows exist at claim time
    val late = entries.filterNot(e => processing.exists(_.fp == e.fp)).take(25)
      .map(_.copy(state = FrontierState.Processing))
    tbl.commitUpsert(late.toDF())
    tbl
  }

  test("bucketed claim == window claim on the same messy table state") {
    import spark.implicits._
    val tbl = messyTable(buckets = 4)
    val seed = 11L; val batchSize = 64; val batchMs = 180000L
    val bucketed = Frontier.claimBucketedBySynthPolicy(tbl, spark, seed, batchSize, batchMs)
      .as[FrontierEntry].collect().sortBy(_.fp).toSeq
    val window = Frontier.claimBySynthPolicy(
        tbl.readStates(Set(FrontierState.Pending)), seed, batchSize, batchMs)
      .as[FrontierEntry].collect().sortBy(_.fp).toSeq
    assert(bucketed.nonEmpty)
    assert(bucketed === window)
  }

  test("the bucketed claim plan has zero shuffle exchanges") {
    val tbl = messyTable(buckets = 4)
    val df = Frontier.claimBucketedBySynthPolicy(tbl, spark, 11L, 64, 180000L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucketed claim planned an exchange:\n$plan")
    // while the window claim on the same table needs at least one
    val w = Frontier.claimBySynthPolicy(
      tbl.readStates(Set(FrontierState.Pending)), 11L, 64, 180000L)
    assert(w.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("bucketed mode: resume after crash reaches the same seen set") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("bucketedresume").toString
    val e1 = new CrawlEngine(spark, dir, cfg)
    e1.init(nSeeds)
    e1.runBatch(1L)
    // "crash": claim batch 2, commit processing, never flip terminal
    val pending = e1.frontier.readStates(Set(FrontierState.Pending))
    val claimed = Frontier.claimBySynthPolicy(pending, cfg.seed,
      cfg.batchSize, cfg.batchMs)
    e1.frontier.commitUpsert(claimed.withColumn("state", lit(FrontierState.Processing)))
    // restart over the same dir (bucketed table layout on disk)
    val e2 = new CrawlEngine(spark, dir, cfg)
    assert(e2.resume() > 0, "should recover stuck processing rows")
    e2.drain()
    val a = e2.seenSet.as[Long].collect().sorted.toSeq
    val b = engine.seenSet.as[Long].collect().sorted.toSeq
    assert(a === b)
    assert(e2.frontier.read()
      .filter(col("state").isin(FrontierState.Pending, FrontierState.Processing))
      .count() === 0)
  }

  test("bucketedStateScan opens only wanted-tag files plus delta shadows, per bucket") {
    val tbl = messyTable(buckets = 4)
    val m = tbl.currentManifest.get
    val scans = tbl.bucketedStateScan(Set(FrontierState.Pending))
    // participating buckets: those with pending BASE files — plus every
    // bucket when a pending-tag DELTA exists (its rows' buckets are not
    // manifest-attributable since deltas are unbucketed)
    val bucketsWithPendingBase = m.files
      .filter(f => f.kind == "base" && f.tag == FrontierState.Pending)
      .map(_.bucket).toSet
    val expected =
      if (m.files.exists(f => f.kind == "delta" && f.tag == FrontierState.Pending))
        (0 until 4).toSet
      else bucketsWithPendingBase
    assert(scans.map(_._1).toSet === expected)
    // terminal BASE bulk is never opened: total rows fed to the claim
    // are strictly fewer than the full table's file rows
    val openable = m.files.filter(f =>
      f.tag == FrontierState.Pending || f.kind == "delta").map(_.rows).sum
    val all = m.files.map(_.rows).sum
    assert(openable < all, "bucketed scan would read the whole table")
  }
}
