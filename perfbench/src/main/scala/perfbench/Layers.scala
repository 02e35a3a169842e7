package perfbench

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.filter.CuckooFilter
import graft.frontier.Frontier
import graft.image.ImageCodec
import graft.model.{FrontierState, SeedUrl}
import graft.pipeline.{CueParser, Segmenter, TextClean, UrlPipeline}
import graft.synth.Synth
import graft.table.SnapshotTable
import graft.util.Hashing

/** The traced run's layer step: each layer's public functions timed on
  * the workload's own end state — its frontier, its seen set at the fill
  * it reached, a sample of its own urls. */
object Layers {

  private val SampleUrls = 96
  private val FilterSample = 200000
  private val Reps = 3

  /** Median wall seconds of `reps` runs of `body`. */
  private def medianS(reps: Int)(body: => Unit): Double =
    Summary.median((1 to reps).map { _ =>
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    })

  /** Mean ns per call of `f` over `xs`, best of `Reps` passes. */
  private def nsPer[A](xs: IndexedSeq[A])(f: A => Any): Double = {
    var sink = 0
    (1 to Reps).map { _ =>
      val s = System.nanoTime()
      xs.foreach(x => sink += f(x).hashCode)
      (System.nanoTime() - s).toDouble / xs.length
    }.min + (sink & 0) // keep `sink` live
  }

  def probe(h: Harness, eng: CrawlEngine, cfg: CrawlConfig): Unit = {
    h.tracer.active = true
    frontierAndTable(h, eng, cfg)
    filter(h, eng, cfg)
    micro(h, eng, cfg)
  }

  private def frontierAndTable(h: Harness, eng: CrawlEngine, cfg: CrawlConfig): Unit = {
    val spark = h.spark
    import spark.implicits._
    val v = h.values
    val pending = Set(FrontierState.Pending)
    v("table.read_pending_s") = h.span("table.read_pending") {
      medianS(Reps)(eng.frontier.readStates(pending).count())
    }
    v("table.read_keys_s") = h.span("table.read_keys") {
      medianS(Reps)(eng.frontier.readKeys().count())
    }
    eng.frontier.currentManifest.foreach { m =>
      v("table.files_base") = m.files.count(_.kind == "base").toDouble
      val deltas = m.files.filter(_.kind == "delta")
      v("table.files_delta") = deltas.size.toDouble
      v("table.delta_commits") = deltas.map(_.deltaSeq).distinct.size.toDouble
    }

    var claimRows = 0L
    v("frontier.claim_s") = h.span("frontier.claim") {
      medianS(Reps) {
        claimRows = Frontier.claimBySynthPolicy(eng.frontier.readStates(pending), cfg.seed,
          cfg.batchSize, cfg.batchMs).count()
      }
    }
    v("frontier.claim_rows") = claimRows.toDouble

    // gate candidates: half urls the frontier holds, half it has never seen
    val known = eng.frontierDf.select("url").limit(2048).as[String].collect().toSeq
    val fresh = (0 until known.size).map(i =>
      Synth.seedUrl(Long.MaxValue / 2 + i, cfg.nHosts, cfg.seed).url)
    val urls = (known ++ fresh).zipWithIndex.map { case (u, i) => SeedUrl(u, 0, i.toLong) }
    val ds = spark.createDataset(urls)
    v("frontier.to_entries_s") = h.span("frontier.to_entries") {
      medianS(Reps)(Frontier.toEntries(spark, ds, 1L, cfg.seed).count())
    }
    val cands = Frontier.firstOccurrence(Frontier.toEntries(spark, ds, 1L, cfg.seed)).cache()
    val nCands = cands.count()
    var accepted = 0L
    v("frontier.gate_s") = h.span("frontier.gate") {
      medianS(Reps) { accepted = Frontier.dedupGate(cands, eng.frontier.readKeys()).count() }
    }
    cands.unpersist()
    v("frontier.gate_accept_ratio") = if (nCands > 0) accepted.toDouble / nCands else 0.0

    // fixed cost per data file of a snapshot commit: 8-file minus 1-file
    // appends of the same tiny rows, on a scratch table
    v("table.commit_file_ms") = h.span("table.commit") {
      val rows = (0 until 64).map(i => (i.toLong, s"r$i")).toDF("k", "v")
      val t = new SnapshotTable(spark, s"${h.root}/commit_probe", "k")
      t.commitAppend(rows.repartition(1)) // the table's first commit
      Summary.median((1 to Reps).map { _ =>
        val one = medianS(1)(t.commitAppend(rows.repartition(1)))
        val eight = medianS(1)(t.commitAppend(rows.repartition(8)))
        (eight - one) / 7 * 1000
      })
    }
  }

  private def filter(h: Harness, eng: CrawlEngine, cfg: CrawlConfig): Unit = {
    val spark = h.spark
    import spark.implicits._
    val v = h.values
    val bytes = h.span("filter.snapshot")(eng.seen.snapshotBytes())
    val shards = bytes.map { case (s, b) => s -> CuckooFilter.deserialize(b) }
    val slots = cfg.nShards.toLong * cfg.shardBuckets * CuckooFilter.SlotsPerBucket
    v("filter.load") = shards.values.map(_.count).sum.toDouble / slots
    v("filter.shard_mb") = bytes.values.map(_.length.toLong).sum / 1048576.0

    val seen = eng.seenSet.as[Long].collect()
    val seenSet = new java.util.HashSet[Long](seen.length * 2)
    seen.foreach(seenSet.add)
    def shardOf(fp: Long) = java.lang.Math.floorMod(fp, cfg.nShards.toLong).toInt
    def mightContain(fp: Long) = shards.get(shardOf(fp)).exists(_.mightContain(fp))

    val rng = new java.util.SplittableRandom(cfg.seed)
    val absent = Iterator.continually(rng.nextLong()).filterNot(seenSet.contains)
      .take(FilterSample).toArray
    val present = seen.take(FilterSample / 2)
    v("filter.fp_rate") = h.span("filter.fp_rate")(absent.count(mightContain).toDouble / absent.length)
    v("filter.probe_ns") = h.span("filter.probe") {
      nsPer((present ++ absent.take(FilterSample / 2)).toIndexedSeq)(mightContain)
    }
    // insert at the fill reached: rebuild one shard in the engine's own
    // insertion order (sorted fps) up to its current count
    val shard0 = seen.filter(shardOf(_) == 0).sorted
    v("filter.insert_ns") = h.span("filter.insert") {
      (1 to Reps).map { _ =>
        val f = CuckooFilter.withBuckets(cfg.shardBuckets)
        val s = System.nanoTime()
        shard0.foreach(f.insert)
        (System.nanoTime() - s).toDouble / math.max(1, shard0.length)
      }.min
    }
  }

  private def micro(h: Harness, eng: CrawlEngine, cfg: CrawlConfig): Unit = {
    val spark = h.spark
    import spark.implicits._
    val v = h.values
    val urls = eng.frontierDf.select("url").orderBy("fp").limit(SampleUrls)
      .as[String].collect().toIndexedSeq
    val canon = urls.map(Hashing.canonicalize)
    v("util.xx64_ns") = h.span("util.xx64")(nsPer(canon)(Hashing.xx64))
    v("synth.fetch_us") = h.span("synth.fetch")(nsPer(urls)(Synth.fetch(_, cfg.seed)) / 1000)
    val payloads = urls.map(u => u -> Synth.fetch(u, cfg.seed)).filter(_._2.ok)
    v("pipeline.process_us") = h.span("pipeline.process") {
      nsPer(payloads) { case (u, p) => UrlPipeline.process(u, p).ok } / 1000
    }
    val ps = payloads.map(_._2)
    v("pipeline.cue_parse_us") = h.span("pipeline.cue_parse")(nsPer(ps)(p => CueParser.parse(p.cues)) / 1000)
    v("pipeline.segment_us") = h.span("pipeline.segment")(nsPer(ps)(p => Segmenter.segment(p.frames)) / 1000)
    val texts = ps.map(p => CueParser.parse(p.cues).map(_.word).mkString(" "))
    v("pipeline.text_clean_us") = h.span("pipeline.text_clean")(nsPer(texts)(TextClean.clean(_)) / 1000)
    v("image.decode_us") = h.span("image.decode")(nsPer(ps)(p => ImageCodec.decode(p.bytes)) / 1000)
    val imgs = ps.map(p => ImageCodec.decode(p.bytes))
    v("image.encode_png_us") = h.span("image.encode_png")(nsPer(imgs)(ImageCodec.encode(_, "png").length) / 1000)
    val px = ps.zip(imgs).map { case (p, i) => (p.w, p.h, ImageCodec.pixels(i)) }
    v("image.phash_us") = h.span("image.phash")(nsPer(px) { case (w, hh, rgb) => ImageCodec.phash64(w, hh, rgb) } / 1000)
  }
}
