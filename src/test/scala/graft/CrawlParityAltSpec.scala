package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.model.CrawlRecord
import graft.oracle.RefOracle
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Parity under a second, different configuration — different RNG
  * seed (different robots/delays/content), host count, batch size,
  * politeness window, and universe — to show the byte-match is a
  * property of the spec, not of one lucky fixture. */
class CrawlParityAltSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val cfg = CrawlConfig(seed = 7L, nHosts = 23, universe = 250,
    batchSize = 61, batchMs = 120000L, nShards = 5)
  private val nSeeds = 90

  private lazy val engine: CrawlEngine = {
    val dir = Files.createTempDirectory("crawlparityalt").toString
    val e = new CrawlEngine(spark, dir, cfg)
    e.init(nSeeds)
    e.drain()
    e
  }
  private lazy val oracle = RefOracle.run(nSeeds, cfg)

  test("alt config: committed crawl order byte-matches the oracle") {
    import spark.implicits._
    val got = engine.committedOrder.as[CrawlRecord].collect().toSeq
      .sortBy(r => (r.batchNo, r.priority, r.seq))
    val want = oracle.log.sortBy(r => (r.batchNo, r.priority, r.seq))
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("alt config: seen set byte-matches; captions byte-match") {
    import spark.implicits._
    assert(engine.seenSet.as[Long].collect().sorted.toSeq === oracle.seen)
    val gotCaps = engine.media.select("image_id", "caption")
      .as[(String, String)].collect().toMap
    val wantCaps = oracle.media.map(m => m.image_id -> m.caption).toMap
    assert(gotCaps === wantCaps)
  }

  test("fuzz config: a third independent (seed, shape) still byte-matches") {
    import spark.implicits._
    val fuzz = CrawlConfig(seed = 1337L, nHosts = 7, universe = 120,
      batchSize = 37, batchMs = 300000L, nShards = 3)
    val dir = Files.createTempDirectory("crawlparityfuzz").toString
    val e = new CrawlEngine(spark, dir, fuzz)
    e.init(60)
    e.drain()
    val o = RefOracle.run(60, fuzz)
    val got = e.committedOrder.as[CrawlRecord].collect().toSeq
      .sortBy(r => (r.batchNo, r.priority, r.seq))
    val want = o.log.sortBy(r => (r.batchNo, r.priority, r.seq))
    assert(got === want)
    assert(e.seenSet.as[Long].collect().sorted.toSeq === o.seen)
  }
}
