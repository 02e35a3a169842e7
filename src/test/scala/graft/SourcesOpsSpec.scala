package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.image.ImageOps
import graft.synth.Synth
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Seed sources (text file S1, keyword search Q10/S4) + multimodal
  * column ops + global stats rollup (A4). */
class SourcesOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("text-file seed source assigns line-number seq and applies F1 blank drop") {
    import spark.implicits._
    val f = Files.createTempFile("seeds", ".txt")
    Files.writeString(f,
      "http://host1.example.com/v/aaa\n\n  \nhttp://host2.example.com/v/bbb\nhttp://host1.example.com/v/aaa\n")
    val eng = new CrawlEngine(spark, Files.createTempDirectory("txtsrc").toString,
      CrawlConfig(universe = 10))
    val n = eng.initFromTextFile(f.toString)
    assert(n === 2) // blank rows dropped, dup url gated
    val rows = eng.frontier.read().select("url", "seq").as[(String, Long)]
      .collect().sortBy(_._2)
    assert(rows.head._1.contains("aaa") && rows.head._2 === 0L)
    assert(rows(1)._1.contains("bbb"))
  }

  test("keyword-search expansion is bounded, paginated, deterministic") {
    val (p0, next0) = Synth.searchPage("речь", 0, 1000)
    val (p0b, _) = Synth.searchPage("речь", 0, 1000)
    assert(p0 === p0b)
    assert(p0.size === Synth.SearchPageSize)
    // pagination bounded by SearchMaxPages
    var page = Option(0); var pages = 0
    while (page.isDefined && pages < 100) {
      val (_, nxt) = Synth.searchPage("речь", page.get, 1000)
      page = nxt; pages += 1
    }
    assert(pages <= Synth.SearchMaxPages)
    val eng = new CrawlEngine(spark, Files.createTempDirectory("searchsrc").toString,
      CrawlConfig(universe = 500))
    val n = eng.initFromSearch(Seq("речь", "данные"))
    assert(n > 0 && n <= 2L * Synth.SearchMaxPages * Synth.SearchPageSize)
    // the keyword queue is a persistent table: both queries terminal
    import spark.implicits._
    val states = eng.keywords.read().select("query", "state")
      .as[(String, String)].collect().toMap
    assert(states === Map("речь" -> "searched", "данные" -> "searched"))
    // re-seeding the same queries is a no-op (dedup by query key)
    assert(eng.enqueueSearches(Seq("речь", "данные")) === 0L)
    val (s2, u2) = eng.searchBatch(16)
    assert(s2 === 0L && u2 === 0L)
  }

  test("toEntries column twins == scalar derivation over adversarial urls") {
    import spark.implicits._
    // the Spark gate's toEntries must reproduce the scalars the parity
    // oracle uses (Hashing.fp/host + Synth.hostPolicy/isDisallowed)
    // bit-for-bit, however the urls are partitioned
    val urls = Seq(
      "http://host1.example.com/v/abc",
      "http://host1.example.com/v/abc#frag",
      "  HTTP://Host9.EXAMPLE.com:80/v/x  ",
      "\thttp://host1.example.com/v/abc",     // control whitespace
      "\u000bHTTP://Host9.EXAMPLE.com/v/x\f",
      "http://host2.example.com",            // no path
      "plainstring",                          // no scheme
      "a://b",                                // minimal authority
      "http://host3.example.com/other/path",  // non-/v/ path
      "x://y/v/with:80/inside",               // ":80/" in path, not port
      "http://host4.example.com/v/line\nbreak#f\nrag" // newlines
    ) ++ (0 until 200).map(i => graft.synth.Synth.seedUrl(i).url)
    val seed = graft.synth.Synth.DefaultSeed
    val ds = spark.createDataset(urls.zipWithIndex.map { case (u, i) =>
      graft.model.SeedUrl(u, 0, i.toLong) })
    def entries(in: org.apache.spark.sql.Dataset[graft.model.SeedUrl]) =
      graft.frontier.Frontier.toEntries(spark, in, 7L, seed)
        .as[graft.model.FrontierEntry].collect().sortBy(_.seq).toSeq
    val got = entries(ds)
    val want = urls.zipWithIndex.map { case (u, i) =>
      val host = graft.util.Hashing.host(u)
      val policy = graft.synth.Synth.hostPolicy(host, seed)
      val dis = graft.synth.Synth.isDisallowed(u, policy)
      graft.model.FrontierEntry(graft.util.Hashing.fp(u), u, host, 0, i.toLong,
        if (dis) graft.model.FrontierState.Failed else graft.model.FrontierState.Pending,
        if (dis) "robots: disallowed" else null, 7L, -1L)
    }
    assert(got === want)
    assert(entries(ds.repartition(5)) === want)
    // the corpus must actually exercise both branches
    assert(want.exists(_.state == graft.model.FrontierState.Failed),
      "no disallowed url in the twin corpus")
  }

  test("keyword max_seq prop tracks the table max; re-enqueue reads it with zero agg jobs") {
    import spark.implicits._
    val eng = new CrawlEngine(spark, Files.createTempDirectory("kwprop").toString,
      CrawlConfig(universe = 100))
    assert(eng.enqueueSearches(Seq("a", "b")) === 2L)
    assert(eng.keywords.getProp(CrawlEngine.MaxSeqProp) === Some("1"))
    // mixed dup/new: "b" is gated out (its candidate seq 2 is a gap),
    // "c" survives at seq 3 — the prop must track the TABLE max (3),
    // exactly what the old per-call aggregate observed
    assert(eng.enqueueSearches(Seq("b", "c")) === 1L)
    assert(eng.keywords.getProp(CrawlEngine.MaxSeqProp) === Some("3"))
    val seqs = eng.keywords.read().select("query", "seq")
      .as[(String, Long)].collect().toMap
    assert(seqs === Map("a" -> 0L, "b" -> 1L, "c" -> 3L))
    // next enqueue continues from the prop (no table agg): "d" gets 4
    assert(eng.enqueueSearches(Seq("d")) === 1L)
    assert(eng.keywords.read().filter(col("query") === "d")
      .select("seq").as[Long].head() === 4L)
    // the prop read itself runs ZERO Spark jobs; an all-dup enqueue
    // (nothing to commit) runs only the gate's key-scan ACTION — under
    // AQE that one action schedules a few stage-jobs, so the bound
    // allows those while still failing if the old per-call table
    // aggregate (its own separate action) came back
    val probeJobs = {
      val b = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
      eng.keywords.readKeys().count() // the gate-scan shape, measured
      spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - b
    }
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(eng.enqueueSearches(Seq("a", "d")) === 0L)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after - before <= probeJobs + 2,
      s"expected one gate action (~$probeJobs jobs + join stages), got ${after - before}")
  }

  test("executor-side keyword expansion == driver-side expansion (byte-equal frontier)") {
    import spark.implicits._
    val qs = Seq("речь", "данные", "голос")
    def frontierRows(drain: CrawlEngine => Unit): Seq[(Long, String, Int, Long, String)] = {
      val eng = new CrawlEngine(spark, Files.createTempDirectory("searchtwin").toString,
        CrawlConfig(universe = 400))
      eng.enqueueSearches(qs)
      drain(eng)
      eng.frontier.read().select("fp", "url", "priority", "seq", "state")
        .as[(Long, String, Int, Long, String)].collect().sortBy(_._4).toSeq
    }
    def drainWith(step: (CrawlEngine, Int) => (Long, Long))(eng: CrawlEngine): Unit = {
      var s = -1L
      while (s != 0L) s = step(eng, 2)._1 // k=2: multiple claim batches
    }
    val viaDriver = frontierRows(drainWith((e, k) => e.searchBatch(k)))
    val viaExec   = frontierRows(drainWith((e, k) => e.searchBatchParallel(k)))
    assert(viaExec.nonEmpty)
    assert(viaExec === viaDriver)
  }

  test("image ops: dims/resize/hist real, frame-sample stub deterministic") {
    val pay = Iterator.from(0).map(i => Synth.fetch(s"http://host1.example.com/v/ops$i"))
      .find(_.ok).get
    val dims = ImageOps.decodeDims(pay.bytes).get
    assert(dims.w === pay.w && dims.h === pay.h)
    val thumb = ImageOps.resizePng(pay.bytes, 8, 8).get
    assert(ImageOps.decodeDims(thumb).get === ImageOps.Dims(8, 8))
    val hist = ImageOps.lumaHist16(pay.bytes).get
    assert(hist.size === 16)
    assert(math.abs(hist.sum - 1.0) < 1e-9)
    val f1 = ImageOps.sampleFramesStub(pay.bytes, 3)
    val f2 = ImageOps.sampleFramesStub(pay.bytes, 3)
    assert(f1.size === 3)
    assert(f1.map(_.toSeq) === f2.map(_.toSeq))
    // frames are real decodable PNGs (plumbing is production-shaped)
    f1.foreach(b => assert(ImageOps.decodeDims(b).get === ImageOps.Dims(16, 16)))
  }

  test("media features query runs over a mini crawl; global stats roll up") {
    import spark.implicits._
    val eng = new CrawlEngine(spark, Files.createTempDirectory("feat").toString,
      CrawlConfig(batchSize = 64, universe = 60))
    eng.init(40)
    eng.drain(maxBatches = 5)
    val feats = ImageOps.features(spark, eng.media).collect()
    assert(feats.nonEmpty)
    val gs = eng.globalStats.as[(String, Double)].collect().toMap
    assert(gs.contains("queue_processed"))
    assert(gs("media_rows") > 0)
    assert(gs("good_pieces") <= gs("total_pieces"))
  }
}
