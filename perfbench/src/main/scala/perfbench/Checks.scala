package perfbench

import graft.model.CrawlRecord

/** Output checks. Pure functions over collected outputs, so they can be
  * tested without Spark. Each returns None when the output is correct,
  * or a description of the first difference. */
object Checks {

  /** The committed crawl order must equal the oracle's, row for row:
    * (batchNo, priority, seq, fp, url, state, error). */
  def crawlOrder(actual: Seq[CrawlRecord], expected: Seq[CrawlRecord]): Option[String] =
    if (actual.length != expected.length)
      Some(s"committed order has ${actual.length} rows, oracle ${expected.length}")
    else actual.iterator.zip(expected.iterator).zipWithIndex.collectFirst {
      case ((a, e), i) if a != e => s"committed order row $i: engine $a, oracle $e"
    }

  /** Two fingerprint sets must be equal (order-insensitive; duplicates
    * in `actual` are an error, since a seen set holds each fp once). */
  def seenSet(actual: Array[Long], expected: Array[Long]): Option[String] = {
    val a = actual.sorted
    val e = expected.distinct.sorted
    if (a.length != e.length)
      Some(s"seen set has ${a.length} fps, expected ${e.length}")
    else {
      var i = 0
      while (i < a.length && a(i) == e(i)) i += 1
      if (i == a.length) None
      else Some(s"seen set differs at sorted position $i: ${a(i)} vs ${e(i)}")
    }
  }

  /** The seen set an ingest must produce: the distinct fingerprints of
    * the non-blank offered lines. */
  def expectedIngestSeen(lines: Iterator[String]): Array[Long] =
    lines.filter(_.trim.nonEmpty).map(graft.util.Hashing.fp).toArray.distinct

  /** A membership filter must answer "maybe" for every inserted key. */
  def noFalseNegatives(keys: Array[Long], mightContain: Long => Boolean): Option[String] =
    keys.find(k => !mightContain(k)).map(k => s"filter misses inserted fp $k")
}
