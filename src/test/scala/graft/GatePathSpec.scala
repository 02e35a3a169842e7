package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.frontier.Frontier
import graft.model.{FrontierEntry, FrontierState, SeedUrl}
import graft.synth.Synth
import graft.util.Hashing
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The two enqueue gates must agree exactly. The driver-side gate
  * (`enqueueLocal`: scalar entries, local first occurrence and cuckoo
  * tier, one verify job over the filter positives) and the Spark gate
  * (`enqueue(toEntries(...))`) are fed one adversarial candidate list
  * against identical prior state; both must commit identical fresh rows
  * (all nine columns) and identical seen-shard bytes. The list holds:
  * duplicates within the batch whose list order disagrees with their
  * seq order; scheme, host-case, default-port, fragment and whitespace
  * variants of one url; robots-disallowed hosts; keys already in the
  * frontier; and cuckoo false positives — new urls the filter calls
  * "maybe", found by search over a filter crowded by one-bucket shards.
  * ("Broadcast seen path" in the test name is the earlier name of the
  * driver-held seen set, now the only one.) */
class GatePathSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val nSeeds = 400
  private val BatchNo = 5L

  /** One bucket per shard: ~100 fingerprints per shard, nearly all in
    * the overflow set, so false positives are ~1 in 650 probes. */
  private val cfg = CrawlConfig(seed = 11L, nHosts = 40, nShards = 4, shardBuckets = 1)

  private def variants(url: String): Seq[String] = Seq(
    url.replace("http://host", "HTTP://Host"),
    url.replace(".example.com/", ".EXAMPLE.com:80/"),
    url + "#frag",
    s"  $url  ",
    // control whitespace: trimmed like a space by `canonicalize`
    "\t" + url,
    s"\u000b$url\f")

  /** (candidate list, the false-positive urls in it). */
  private def adversarial(eng: CrawlEngine): (Seq[SeedUrl], Seq[String]) = {
    val url = (i: Long) => Synth.seedUrl(i, cfg.nHosts, cfg.seed).url
    val known = (0L until 30L).map(url)
    val fresh = (nSeeds.toLong until nSeeds + 60L).map(url)
    val robotsHosts = Iterator.from(0).map(k => s"host$k.example.com")
      .filter(h => Synth.hostPolicy(h, cfg.seed).disallowPrefixes.nonEmpty).take(2).toSeq
    val robots = robotsHosts.flatMap(h =>
      Seq(s"http://$h/v/r1", s"http://$h/v/r2", s"http://$h/about", s"HTTP://${h.toUpperCase}/v/r1"))
    val maybe = eng.seen.probeLocal()
    val falsePositives = Iterator.iterate(nSeeds + 1000L)(_ + 1).map(url)
      .filter(u => maybe(Hashing.fp(u))).take(6).toSeq
    val urls = known ++ known.take(8).flatMap(variants) ++ fresh ++
      fresh.take(10).flatMap(variants) ++ fresh.slice(20, 30) ++ robots ++ robots ++
      falsePositives ++ falsePositives.take(2)
    // seqs shuffled against list order: first occurrence is by seq
    val seqs = new scala.util.Random(5).shuffle((0 until urls.size).map(_ + 100000L))
    (urls.zip(seqs).map { case (u, s) => SeedUrl(u, Frontier.NormalPriority, s) }, falsePositives)
  }

  private def freshRows(eng: CrawlEngine): Seq[FrontierEntry] = {
    import spark.implicits._
    eng.frontier.read().filter(col("discoveredAt") === BatchNo)
      .as[FrontierEntry].collect().sortBy(_.fp).toSeq
  }

  private def shardBytes(eng: CrawlEngine): Seq[(Int, Seq[Byte], Long)] = {
    import spark.implicits._
    eng.seenTbl.read().select("shard", "bytes", "count").as[(Int, Array[Byte], Long)]
      .collect().sortBy(_._1).map { case (s, b, n) => (s, b.toSeq, n) }.toSeq
  }

  test("driver gate == Spark gate on an adversarial list (broadcast seen path)") {
    import spark.implicits._
    def engine() = {
      val e = new CrawlEngine(spark, Files.createTempDirectory("gatepath").toString, cfg)
      e.init(nSeeds)
      e
    }
    val (viaDriver, viaSpark) = (engine(), engine())
    val (cands, falsePositives) = adversarial(viaDriver)
    val knownFps = viaDriver.seenSet.as[Long].collect().toSet
    assert(falsePositives.size === 6, "no cuckoo false positives to exercise")
    assert(falsePositives.forall(u => !knownFps(Hashing.fp(u))))

    def sparkGate(eng: CrawlEngine, batchNo: Long) = eng.enqueue(
      Frontier.toEntries(spark, spark.createDataset(cands), batchNo, cfg.seed), batchNo)
    val n = viaDriver.enqueueLocal(cands, BatchNo)
    assert(sparkGate(viaSpark, BatchNo) === n)
    val rows = freshRows(viaDriver)
    assert(rows.size.toLong === n)
    assert(rows === freshRows(viaSpark))
    assert(shardBytes(viaDriver) === shardBytes(viaSpark))
    assert(viaDriver.frontier.getProp(CrawlEngine.MaxSeqProp) ===
      viaSpark.frontier.getProp(CrawlEngine.MaxSeqProp))

    // every category was exercised, and the verify tier dropped only
    // true frontier keys: the false positives are committed as new
    val fps = rows.map(_.fp).toSet
    assert(falsePositives.forall(u => fps(Hashing.fp(u))))
    assert(fps.intersect(knownFps).isEmpty)
    assert(rows.exists(_.state == FrontierState.Failed), "no robots-disallowed row")
    assert(rows.exists(r => r.state == FrontierState.Pending && r.url.endsWith("/about")))
    assert(rows.size === fps.size)

    // replaying the same list is a no-op on both paths
    assert(viaDriver.enqueueLocal(cands, BatchNo + 1) === 0L)
    assert(sparkGate(viaSpark, BatchNo + 1) === 0L)
    assert(shardBytes(viaDriver) === shardBytes(viaSpark))
  }

  test("CrawlConfig rejects a batch past the driver bound and an unknown claim mode") {
    // the drain gates every claim's discovery wave on the driver, so a
    // claim may never hold more than DriverRankMaxRows rows
    intercept[IllegalArgumentException](
      CrawlConfig(batchSize = (CrawlEngine.DriverRankMaxRows + 1).toInt))
    intercept[IllegalArgumentException](CrawlConfig(batchSize = 0))
    intercept[IllegalArgumentException](CrawlConfig(claimMode = "buckted"))
    CrawlConfig(batchSize = CrawlEngine.DriverRankMaxRows.toInt, claimMode = "bucketed")
  }
}
