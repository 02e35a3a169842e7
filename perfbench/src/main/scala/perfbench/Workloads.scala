package perfbench

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.filter.CuckooFilter
import graft.model.CrawlRecord
import graft.oracle.RefOracle
import graft.synth.Synth
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The workloads. Each builds its inputs from the seed, which is also the
  * engine's `CrawlConfig.seed` (synthetic web, seed list, host policies).
  * A run is: session, set-ups, warm-up, timed ops, output checks, and in
  * a traced run the layer step. The expected outputs are computed on a
  * helper thread from the start of the run and joined before the first
  * timed op, so timed ops never share the machine with them. */
object Workloads {

  val names: Seq[String] = Seq("drain-deep", "seed-ingest")

  /** Timed ops of a traced run: untraced, traced, untraced. The untraced
    * ones bracket the traced op, so warm-up drift cancels in the overhead. */
  val TracedOps = 3
  def traced(h: Harness, op: Int): Boolean = h.args.trace && op % 2 == 1
  /** No new timed op starts after this much run wall time (a run must end
    * within 180 s). */
  val LastOpStartS = 90.0

  def run(name: String, h: Harness): Unit = name match {
    case "drain-deep" => drainDeep(h)
    case "seed-ingest" => seedIngest(h)
  }

  /** Starts `body` on its own thread. */
  private def background[A](body: => A): Future[A] =
    Future(body)(ExecutionContext.fromExecutor { r =>
      val t = new Thread(r, "perfbench-expected")
      t.setDaemon(true)
      t.start()
    })

  private def join[A](h: Harness, f: Future[A]): A = {
    val r = Await.result(f, Duration.Inf)
    h.note("expected outputs ready")
    r
  }

  private def drainCheck(h: Harness, eng: CrawlEngine, expected: RefOracle.Result,
                         nOps: Int): Unit = {
    val spark = h.spark
    import spark.implicits._
    val order = eng.committedOrder.as[CrawlRecord].collect().toSeq
    val seen = eng.seenSet.as[Long].collect()
    h.check("drain vs RefOracle", nOps)(
      Checks.crawlOrder(order, expected.log).orElse(Checks.seenSet(seen, expected.seen.toArray)))
  }

  // ---- drain-deep ----------------------------------------------------------

  /** Pending urls before the timed part. Outlinks target the first
    * `universe` (10k) seed urls, so past the pre-fill every discovered url
    * is a duplicate and the gate only verifies. */
  val DeepPrefill = 30000
  val DeepBatch = 512
  /** The timed part: drain calls of `DeepSegment` batches, at least
    * `DeepSegments` of them and more, up to `DeepMaxSegments`, while
    * `--seconds` of timed work is not done. */
  val DeepSegment = 2
  val DeepSegments = 4
  val DeepMaxSegments = 12
  /** Compaction cadence (delta commits): two delta commits per batch, so
    * the frontier compacts every two batches and the timed part spans at
    * least three compactions. */
  val DeepCompactEvery = 1
  /** Set-ups per run; `setup_s` is their median. */
  val DeepSetupReps = 3

  def deepConfig(seed: Long): CrawlConfig =
    CrawlConfig(seed = seed, batchSize = DeepBatch, compactEvery = DeepCompactEvery)

  private def drainDeep(h: Harness): Unit = {
    val cfg = deepConfig(h.seed)
    def oracle(batches: Long) = RefOracle.run(DeepPrefill, cfg, crashAfterBatch = Some(batches))
    val minSegments = if (h.args.trace) TracedOps else DeepSegments
    val planned = DeepSegment.toLong * minSegments
    val expectedF = background(oracle(planned))
    h.startSession()
    h.tracer.active = false
    // the first set-up is the cold one (its init pays JIT and codegen);
    // its engine then serves as the warm-up drain
    val engines = (0 until DeepSetupReps).map { r =>
      h.setup {
        val e = new CrawlEngine(h.spark, s"${h.root}/deep$r", cfg)
        e.init(DeepPrefill)
        e
      }
    }
    h.warmUp(engines.head.drain(DeepSegment))
    (0 until DeepSetupReps - 1).foreach(r => h.rmrf(s"${h.root}/deep$r"))
    val expected = join(h, expectedF)
    val eng = engines.last
    var i = 0
    var batches = 0L
    while (i < minSegments || (i < DeepMaxSegments &&
        h.ops.map(_.wallS).sum < h.args.seconds && h.elapsedS < LastOpStartS)) {
      batches += h.op(traced(h, i), eng.phaseTotals) {
        val (b, u) = h.span("crawl.drain")(eng.drain(DeepSegment))
        (u, b)
      }.batches
      i += 1
    }
    drainCheck(h, eng, if (batches == planned) expected else oracle(batches), i)
    if (h.args.trace) Layers.probe(h, eng, cfg)
  }

  // ---- seed-ingest ---------------------------------------------------------

  val IngestFiles = 3
  val IngestLinesPerFile = 45000
  /** Consecutive files share LinesPerFile - Stride seed indices. */
  val IngestStride = 40000
  /** Seen-set shard size: 16 shards x 2048 buckets x 4 slots = 131,072
    * slots, so the ~120k distinct urls of the files fill the filter to
    * ~0.9 load, the regime a default-size (1.05M-slot) filter reaches
    * near 1M urls. */
  val IngestShardBuckets: Int = 1 << 11
  /** Warm-up: this many lines ingested twice into a scratch engine. */
  val IngestWarmLines = 20000
  /** Passes of the timed part, one per fresh engine. */
  val IngestPasses = 3
  /** Set-ups per run (`setup_s` is their median). They only write files
    * and open an engine (~0.1 s), so a run makes more than it uses, for a
    * steadier median. */
  val IngestSetupReps = 7

  /** File `f` of the seed lists: overlapping ranges of synthetic seed urls,
    * with blank lines, repeated lines and scheme/host-case variants (the
    * same url after canonicalization). */
  def ingestLines(f: Int, seed: Long): Iterator[String] =
    (0 until IngestLinesPerFile).iterator.map { j =>
      val idx = f.toLong * IngestStride + j
      if (j % 97 == 13) ""
      else if (j % 89 == 5) "   "
      else if (j % 53 == 7 && j > 100) Synth.seedUrl(idx - 100, 100, seed).url
      else if (j % 101 == 11) Synth.seedUrl(idx, 100, seed).url.replace("http://host", "HTTP://Host")
      else Synth.seedUrl(idx, 100, seed).url
    }

  private def writeLines(path: String, lines: Iterator[String]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    val out = java.nio.file.Files.newBufferedWriter(p)
    try lines.foreach { l => out.write(l); out.write('\n') } finally out.close()
  }

  private def seedIngest(h: Harness): Unit = {
    val cfg = CrawlConfig(seed = h.seed, shardBuckets = IngestShardBuckets)
    val expectedF = background(Checks.expectedIngestSeen(
      (0 until IngestFiles).iterator.flatMap(ingestLines(_, h.seed))))
    h.startSession()
    h.warmUp {
      val e = new CrawlEngine(h.spark, s"${h.root}/warm", cfg)
      val f = s"${h.root}/warm_seeds.txt"
      writeLines(f, ingestLines(0, h.seed).take(IngestWarmLines))
      e.initFromTextFile(f)
      e.initFromTextFile(f)
    }
    val expected = join(h, expectedF)
    h.tracer.active = false
    // each set-up writes the seed lists and opens a fresh engine
    val setups = (0 until IngestSetupReps).map { r =>
      h.setup {
        val files = (0 until IngestFiles).map { f =>
          val p = s"${h.root}/ingest$r/seeds_$f.txt"
          writeLines(p, ingestLines(f, h.seed))
          p
        }
        (new CrawlEngine(h.spark, s"${h.root}/ingest$r/engine", cfg), files)
      }
    }
    (IngestPasses until IngestSetupReps).foreach(r => h.rmrf(s"${h.root}/ingest$r"))
    // the timed part: passes that each feed the files in order to a fresh
    // engine; a traced run's passes are untraced, traced, untraced
    val used = setups.take(IngestPasses).zipWithIndex.map { case ((eng, files), p) =>
      files.foreach { path =>
        h.op(traced(h, p), eng.phaseTotals) {
          h.span("crawl.initFromTextFile")(eng.initFromTextFile(path))
          (IngestLinesPerFile.toLong, 0L)
        }
      }
      eng
    }
    used.foreach { eng =>
      val spark = h.spark
      import spark.implicits._
      val seen = eng.seenSet.as[Long].collect()
      val shards = eng.seen.snapshotBytes().map { case (s, b) => s -> CuckooFilter.deserialize(b) }
      h.check("ingest seen set", IngestFiles)(Checks.seenSet(seen, expected).orElse(
        Checks.noFalseNegatives(expected, fp =>
          shards.get(java.lang.Math.floorMod(fp, cfg.nShards.toLong).toInt).exists(_.mightContain(fp)))))
    }
    h.note("checked")
    if (h.args.trace) Layers.probe(h, used(1), cfg)
  }
}
