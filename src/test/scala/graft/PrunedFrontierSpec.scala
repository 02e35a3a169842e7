package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.model.FrontierState
import graft.table.SnapshotTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The round-3 scale fix: state-partitioned snapshot files + pruned
  * claim reads. Three claims, each load-bearing for the 10^10 design:
  *  1. `readStates` equals `read().filter(state)` through arbitrary
  *     lifecycle interleavings (seeded fuzz, both with and without
  *     compaction) — correctness of the pruned resolution;
  *  2. after a real drain, the PENDING read plan skips the terminal
  *     base files — a strict subset of the table's files is opened,
  *     and the skipped set is the table's row bulk;
  *  3. partial compaction carries frozen terminal base files over
  *     UNTOUCHED (same paths) while preserving the resolved view.
  */
class PrunedFrontierSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshDir() = Files.createTempDirectory("pruned").toString

  private def mkTagged(dir: String) =
    new SnapshotTable(spark, dir, "fp", tagCol = Some("state"),
      frozenTags = Set(FrontierState.Processed, FrontierState.Failed))

  /** Seeded lifecycle fuzz against an in-memory model: random appends,
    * claims, terminal flips, recoveries, compactions. Every step checks
    * `readStates` == full-read filter == model; with `bucketScan`, also
    * resolves `bucketedStateScan` by hand (latest `__delta_seq` per fp,
    * keep iff `__cand`) and checks it against the model — the exact
    * resolution the bucketed claim's mapPartitions performs. */
  private def lifecycleFuzz(trial: Int, mk: String => SnapshotTable,
                            bucketScan: Boolean): Unit = {
    import spark.implicits._
    val states = Seq(FrontierState.Pending, FrontierState.Processing,
      FrontierState.Processed, FrontierState.Failed)
    val r = new scala.util.Random(trial * 31 + 5)
    val t = mk(freshDir())
    // model: fp -> state (values monotone per the crawl lifecycle)
    val model = scala.collection.mutable.HashMap.empty[Long, String]
    def host(fp: Long) = s"h${fp % 7}"
    var nextFp = 0L
    (0 until 25).foreach { step =>
      val op = r.nextInt(10)
      if (model.isEmpty || op < 3) {
        // append: new keys, pending or (robots) failed
        val rows = (0 until 1 + r.nextInt(6)).map { _ =>
          val fp = nextFp; nextFp += 1
          val st = if (r.nextInt(5) == 0) FrontierState.Failed
                   else FrontierState.Pending
          model(fp) = st
          (fp, st, s"u$fp", host(fp))
        }
        t.commitAppend(rows.toDF("fp", "state", "v", "host"))
      } else if (op < 6) {
        // claim: some pending rows -> processing
        val pend = model.collect { case (k, s) if s == FrontierState.Pending => k }.toSeq.sorted
        if (pend.nonEmpty) {
          val take = pend.take(1 + r.nextInt(3))
          take.foreach(k => model(k) = FrontierState.Processing)
          t.commitUpsert(take.map(k => (k, FrontierState.Processing, s"u$k", host(k)))
            .toDF("fp", "state", "v", "host"))
        }
      } else if (op < 8) {
        // terminal: processing rows -> processed/failed
        val proc = model.collect { case (k, s) if s == FrontierState.Processing => k }.toSeq.sorted
        if (proc.nonEmpty) {
          val rows = proc.map { k =>
            val st = if (r.nextBoolean()) FrontierState.Processed else FrontierState.Failed
            model(k) = st
            (k, st, s"u$k", host(k))
          }
          t.commitUpsert(rows.toDF("fp", "state", "v", "host"))
        }
      } else if (op == 8) {
        // recovery: processing -> pending (the state that goes BACK)
        val proc = model.collect { case (k, s) if s == FrontierState.Processing => k }.toSeq.sorted
        if (proc.nonEmpty) {
          proc.foreach(k => model(k) = FrontierState.Pending)
          t.commitUpsert(proc.map(k => (k, FrontierState.Pending, s"u$k", host(k)))
            .toDF("fp", "state", "v", "host"))
        }
      } else {
        t.compactIfNeeded(maxDeltaCommits = 3)
      }
      // every step: every single-state pruned read matches the filter
      states.foreach { st =>
        val expect = model.toSeq.collect { case (k, s) if s == st => (k, s, s"u$k") }
          .sortBy(_._1)
        val pruned = t.readStates(Set(st))
          .select("fp", "state", "v").as[(Long, String, String)]
          .collect().sortBy(_._1).toSeq
        val full = t.read().filter(col("state") === st)
          .select("fp", "state", "v").as[(Long, String, String)]
          .collect().sortBy(_._1).toSeq
        assert(pruned === full, s"trial $trial step $step state $st diverged")
        assert(pruned === expect, s"trial $trial step $step state $st vs model")
        if (bucketScan) {
          val scans = t.bucketedStateScan(Set(st))
          val got = scans.flatMap { case (_, df) =>
            df.select("fp", "state", "v", "__delta_seq", "__cand")
              .as[(Long, String, String, Long, Boolean)]
              .collect().groupBy(_._1).values.map(_.maxBy(_._4))
              .filter(_._5).map(x => (x._1, x._2, x._3))
          }.sortBy(_._1)
          assert(got === expect, s"trial $trial step $step state $st bucketed-scan vs model")
        }
      }
    }
  }

  test("fuzz: readStates == full-read filter across random lifecycles (3 seeds)") {
    (0 until 3).foreach(lifecycleFuzz(_, mkTagged, bucketScan = false))
  }

  test("fuzz: cacheStateScans=true — the cached pending-base fast path resolves identically (2 seeds)") {
    def mkCached(dir: String) =
      new SnapshotTable(spark, dir, "fp", tagCol = Some("state"),
        frozenTags = Set(FrontierState.Processed, FrontierState.Failed),
        cacheScans = true)
    (5 until 7).foreach(lifecycleFuzz(_, mkCached, bucketScan = false))
  }

  test("fuzz: bucketed tables — readStates AND the per-bucket claim scan match the model (2 seeds)") {
    def mkBucketed(dir: String) =
      new SnapshotTable(spark, dir, "fp", tagCol = Some("state"),
        frozenTags = Set(FrontierState.Processed, FrontierState.Failed),
        bucketBy = Some(("host", 3)))
    (3 until 5).foreach(lifecycleFuzz(_, mkBucketed, bucketScan = true))
  }

  test("fuzz: bucketed + cacheStateScans — the incremental per-bucket cache resolves identically (2 seeds)") {
    // covers the r6 per-bucket cached base scans (incremental append
    // extension) + the checkpointed shared delta slice
    def mkBucketedCached(dir: String) =
      new SnapshotTable(spark, dir, "fp", tagCol = Some("state"),
        frozenTags = Set(FrontierState.Processed, FrontierState.Failed),
        bucketBy = Some(("host", 3)), cacheScans = true)
    (7 until 9).foreach(lifecycleFuzz(_, mkBucketedCached, bucketScan = true))
  }

  test("after a drain, the pending claim plan skips the terminal base bulk") {
    val dir = freshDir()
    // compactEvery = 4: this short drain must reach the steady state the
    // assertion is about (terminal rows folded into frozen base files);
    // the default cadence (12 delta commits ≈ 6 batches) would leave the
    // whole drain inside one compaction window
    val eng = new CrawlEngine(spark, dir,
      CrawlConfig(batchSize = 256, universe = 500, compactEvery = 4))
    eng.init(200)
    eng.drain()
    val m = eng.frontier.currentManifest.get
    val plan = eng.frontier.statesReadPlan(Set(FrontierState.Pending))
    // strict subset: terminal base files exist and are never opened
    assert(plan.skipped.nonEmpty, "drained frontier must have terminal base files")
    assert(plan.full.size < m.files.size,
      s"claim plan reads ${plan.full.size} of ${m.files.size} files — no pruning")
    // the skipped set is the table's row BULK (everything is terminal
    // after a full drain; only empty/straggler pending files remain)
    val skippedRows = plan.skipped.map(_.rows).sum
    val fullRows = plan.full.map(_.rows).sum
    assert(skippedRows > fullRows,
      s"skipped $skippedRows rows vs read $fullRows — pruning not load-bearing")
    // and the pruned read itself agrees with the full resolution
    val pruned = eng.frontier.readStates(Set(FrontierState.Pending)).count()
    val full = eng.frontier.read()
      .filter(col("state") === FrontierState.Pending).count()
    assert(pruned === full)
  }

  test("partial compaction carries frozen terminal base files untouched") {
    import spark.implicits._
    val t = mkTagged(freshDir())
    // batch 1: append + drive everything terminal, then compact
    t.commitAppend((0L until 40L).map(k => (k, FrontierState.Pending, s"u$k"))
      .toDF("fp", "state", "v"))
    (0 until 4).foreach { i =>
      val lo = i * 10L; val hi = lo + 10L
      t.commitUpsert((lo until hi).map(k => (k, FrontierState.Processed, s"u$k"))
        .toDF("fp", "state", "v"))
    }
    assert(t.compactIfNeeded(maxDeltaCommits = 2).isDefined)
    val frozenPaths = t.currentManifest.get.files
      .filter(f => f.tag == FrontierState.Processed).map(_.path).toSet
    assert(frozenPaths.nonEmpty)
    // batch 2: new pending work + upserts, compact again
    t.commitAppend((100L until 140L).map(k => (k, FrontierState.Pending, s"u$k"))
      .toDF("fp", "state", "v"))
    (0 until 3).foreach { i =>
      val lo = 100L + i * 10L; val hi = lo + 10L
      t.commitUpsert((lo until hi).map(k => (k, FrontierState.Failed, s"u$k"))
        .toDF("fp", "state", "v"))
    }
    val before = t.read().as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(t.compactIfNeeded(maxDeltaCommits = 2).isDefined)
    val after = t.read().as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(after === before, "partial compaction changed the resolved view")
    // the first compaction's processed base files survived the second
    // compaction verbatim — frozen data is never rewritten
    val nowPaths = t.currentManifest.get.files.map(_.path).toSet
    assert(frozenPaths.subsetOf(nowPaths),
      "frozen terminal base files were rewritten by partial compaction")
  }

  test("clean drain keeps the payload table append-only (zero delta files)") {
    val eng = new CrawlEngine(spark, freshDir(),
      CrawlConfig(batchSize = 256, universe = 400))
    eng.init(150)
    eng.drain()
    val files = eng.payload.currentManifest.get.files
    assert(files.nonEmpty)
    // no crash ⇒ every image_id is a new key ⇒ pure appends: the 100 TB
    // corpus table accumulates immutable base files and never compacts
    assert(files.forall(_.kind == "base"),
      s"payload has delta files after a clean drain: ${files.filter(_.kind != "base").map(_.path)}")
    // and the keys really are unique (the append contract readKeys leans on)
    val n = eng.payload.read().count()
    val nDistinct = eng.payload.read().select("image_id").distinct().count()
    assert(n === nDistinct)
  }
}
