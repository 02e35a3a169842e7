package graft

import graft.crawl.{CrawlConfig, CrawlEngine}
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming seed ingestion (CrawlEngine.streamSeeds): Structured
  * Streaming file source → foreachBatch → the SAME dedup-gated enqueue
  * as the batch path. Pins:
  *  - final frontier content (fp/url/priority/seq/state/error) equals
  *    the batch path fed the same waves in the streaming ordering
  *    contract ((file, url) within a micro-batch);
  *  - the seen set byte-matches;
  *  - a restarted stream over the same checkpoint re-ingests nothing
  *    (offset log) — and a replayed wave would be dropped by the gate
  *    (idempotent sink ⇒ effectively exactly-once).
  */
class StreamingSeedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("streamed seed files match the batch enqueue path; restart ingests nothing") {
    import spark.implicits._
    val cfg = CrawlConfig(seed = 7L, nHosts = 13, universe = 100)
    val watch = Files.createTempDirectory("seedwatch").toString
    val es = new CrawlEngine(spark, Files.createTempDirectory("streameng").toString, cfg)
    val eb = new CrawlEngine(spark, Files.createTempDirectory("batcheng").toString, cfg)

    def urlOf(i: Long) = Synth.seedUrl(i, cfg.nHosts, cfg.seed).url
    // wave 1: 20 urls + an in-file duplicate + blank lines, two of them
    // control whitespace only (blank to `String.trim`, not to SQL trim)
    val wave1 = (0L until 20L).map(urlOf) :+ urlOf(3L)
    Files.writeString(Paths.get(watch, "f1.txt"), wave1.mkString("\n") + "\n\n\t\n\f\n\n")
    val q = es.streamSeeds(watch)
    q.processAllAvailable()
    // wave 2: overlaps wave 1 (gate work) + fresh urls
    val wave2 = (10L until 35L).map(urlOf)
    Files.writeString(Paths.get(watch, "f2.txt"), wave2.mkString("\n") + "\n")
    q.processAllAvailable()
    q.stop()

    // batch twin: same waves through initFromTextFile, each file
    // pre-sorted to the streaming ordering contract ((file, url))
    val batchDir = Files.createTempDirectory("batchfiles")
    val b1 = batchDir.resolve("f1.txt")
    Files.writeString(b1, wave1.sorted.mkString("\n") + "\n")
    eb.initFromTextFile(b1.toString)
    val b2 = batchDir.resolve("f2.txt")
    Files.writeString(b2, wave2.sorted.mkString("\n") + "\n")
    eb.initFromTextFile(b2.toString)

    val cols = Seq("fp", "url", "priority", "seq", "state", "error")
    def snap(e: CrawlEngine) = e.frontierDf
      .select(cols.head, cols.tail: _*)
      .as[(Long, String, Int, Long, String, String)]
      .collect().sortBy(_._1).toSeq
    assert(snap(es) === snap(eb), "streamed frontier != batch frontier")
    assert(es.seenSet.as[Long].collect().sorted.toSeq ===
           eb.seenSet.as[Long].collect().sorted.toSeq)
    // the in-file duplicate was first-occurrence-deduped, blanks dropped
    assert(snap(es).length === (wave1 ++ wave2).distinct.length)

    // restart over the same checkpoint: offsets are committed, nothing
    // re-ingests, maxSeq prop is unchanged
    val before = snap(es)
    val q2 = es.streamSeeds(watch)
    q2.processAllAvailable()
    q2.stop()
    assert(snap(es) === before, "restarted stream re-ingested data")
  }
}
