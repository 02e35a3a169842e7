package perfbench

import graft.filter.CuckooFilter
import graft.model.CrawlRecord
import graft.util.Hashing
import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts a correct output and rejects a corrupted one. */
class ChecksSpec extends AnyFunSuite {

  private val order = (1 to 6).map { i =>
    CrawlRecord(batchNo = 1L + i / 4, priority = 0, seq = i.toLong, fp = i * 7919L,
      url = s"http://host$i.example.com/v/$i", state = "processed", error = null)
  }

  test("crawl order: identical rows pass") {
    assert(Checks.crawlOrder(order, order.map(_.copy())).isEmpty)
  }

  test("crawl order: two swapped rows are rejected") {
    val swapped = order.updated(2, order(3)).updated(3, order(2))
    assert(Checks.crawlOrder(swapped, order).exists(_.contains("row 2")))
  }

  test("crawl order: a missing or changed row is rejected") {
    assert(Checks.crawlOrder(order.init, order).isDefined)
    assert(Checks.crawlOrder(order.updated(4, order(4).copy(state = "failed")), order).isDefined)
  }

  private val seen = Array(5L, -3L, 99L, 1L << 40, 12L)

  test("seen set: the same fps in any order pass") {
    assert(Checks.seenSet(seen.reverse, seen).isEmpty)
  }

  test("seen set: one dropped fp is rejected") {
    assert(Checks.seenSet(seen.drop(1), seen).isDefined)
    assert(Checks.seenSet(seen.updated(2, 100L), seen).isDefined)
  }

  test("seen set: a duplicated fp is rejected") {
    assert(Checks.seenSet(seen :+ 5L, seen).isDefined)
  }

  test("expected ingest seen set skips blank lines and folds canonical duplicates") {
    val lines = Iterator("http://host1.example.com/v/a", "", "   ",
      "HTTP://Host1.example.com/v/a", "http://host1.example.com/v/b",
      "http://host1.example.com/v/b")
    val fps = Checks.expectedIngestSeen(lines)
    assert(fps.sorted.toSeq == Seq(Hashing.fp("http://host1.example.com/v/a"),
      Hashing.fp("http://host1.example.com/v/b")).sorted)
  }

  test("filter: no false negatives passes on a real filter, fails on a miss") {
    val keys = (1L to 5000L).map(_ * 0x9E3779B97F4A7C15L).toArray
    val f = CuckooFilter.buildWithBuckets(1 << 10, keys.iterator)
    assert(Checks.noFalseNegatives(keys, f.mightContain).isEmpty)
    val dropped = keys(17)
    assert(Checks.noFalseNegatives(keys, k => k != dropped && f.mightContain(k))
      .exists(_.contains(dropped.toString)))
  }
}
