package graft.filter

import graft.util.Hashing
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Partial-key cuckoo filter over 64-bit URL fingerprints — the
  * partitioned URL-seen set (north rule; replaces the reference's
  * linear-scan membership, utils/csv_utils.py:206-215).
  *
  * Layout: `numBuckets` (power of two) buckets × 4 slots × 16-bit
  * fingerprints (0 = empty; forced non-zero). One `XXH64.hashLong` of
  * the key gives its bucket (low bits) and fingerprint (top 16 bits);
  * the alternate bucket xors in the fingerprint's hash. Bytes
  * (`serialize`): bucket count (int), count (long), overflow size (int),
  * slots (shorts), overflow (longs); `deserialize` rejects any other
  * shape or length. Guarantees (CuckooFilterSpec):
  *  - NO false negatives for any inserted key, ever: the fingerprint
  *    that loses the eviction fight after MaxKicks lands in an exact,
  *    sorted overflow array of `bucket << 16 | fp` longs;
  *  - false positives ~ 8/2^16 per probe — tier-1 only: the engine
  *    verifies every "maybe" against exact state (two-tier probe,
  *    SURVEY.md §4.2), as byte-match seen-set parity requires.
  *
  * Determinism: eviction path is an LCG seeded from the key, so a given
  * insert sequence always yields identical bytes; shard builds insert
  * in sorted-fp order so bytes are independent of upstream row order.
  */
final class CuckooFilter private (val numBuckets: Int, private val table: Array[Short],
                                  private var overflow: Array[Long], private var _count: Long) {

  import CuckooFilter._

  def count: Long = _count

  /** An independent filter with this one's content. */
  def copy(): CuckooFilter = new CuckooFilter(numBuckets, table.clone(), overflow, _count)

  private def bucketOf(h: Long): Int = (h & (numBuckets - 1)).toInt

  private def fingerprint(h: Long): Short = math.max(1, (h >>> 48).toInt).toShort

  private def altBucket(i: Int, f: Short): Int =
    (i ^ bucketOf(XXH64.hashLong(f & 0xffffL, Hashing.XxSeed))) & (numBuckets - 1)

  /** Index of the first slot of bucket `i` holding `v`, or -1. */
  private def slotWith(i: Int, v: Short): Int = {
    var s = i * SlotsPerBucket
    while (s < (i + 1) * SlotsPerBucket) { if (table(s) == v) return s; s += 1 }
    -1
  }

  private def tryPut(i: Int, f: Short): Boolean = {
    val s = slotWith(i, 0)
    if (s >= 0) table(s) = f
    s >= 0
  }

  private def overflowHas(i: Int, f: Short): Boolean =
    java.util.Arrays.binarySearch(overflow, packed(i, f)) >= 0

  def insert(key: Long): Unit = {
    _count += 1
    val h = XXH64.hashLong(key, Hashing.XxSeed)
    val f = fingerprint(h)
    val i1 = bucketOf(h)
    val i2 = altBucket(i1, f)
    if (tryPut(i1, f) || tryPut(i2, f)) return
    var cur = f
    var idx = if ((key & 1L) == 0L) i1 else i2
    var kicks = 0
    var rng = key * 6364136223846793005L + 1442695040888963407L
    while (kicks < MaxKicks) {
      val slot = ((rng >>> 33) % SlotsPerBucket).toInt
      rng = rng * 6364136223846793005L + 1442695040888963407L
      val base = idx * SlotsPerBucket
      val victim = table(base + slot)
      table(base + slot) = cur
      cur = victim
      idx = altBucket(idx, cur)
      if (tryPut(idx, cur)) return
      kicks += 1
    }
    // evicted `cur` has lost its key; keep (either-bucket, fp) exactly so
    // no inserted key goes negative — in a new array: copies share it
    if (!overflowHas(idx, cur)) overflow = (overflow :+ packed(idx, cur)).sorted
  }

  /** true ⇒ maybe present; false ⇒ DEFINITELY not inserted. */
  def mightContain(key: Long): Boolean = {
    val h = XXH64.hashLong(key, Hashing.XxSeed)
    val f = fingerprint(h)
    val i1 = bucketOf(h)
    val i2 = altBucket(i1, f)
    slotWith(i1, f) >= 0 || slotWith(i2, f) >= 0 || overflowHas(i1, f) || overflowHas(i2, f)
  }

  def serialize(): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(HeaderBytes + table.length * 2 + overflow.length * 8)
    buf.putInt(numBuckets).putLong(_count).putInt(overflow.length)
    buf.asShortBuffer().put(table)
    buf.position(HeaderBytes + table.length * 2).asLongBuffer().put(overflow)
    buf.array()
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500
  private val HeaderBytes = 16

  private def packed(i: Int, f: Short): Long = (i.toLong << 16) | (f & 0xffffL)

  /** Filter with an exact bucket count (shard filters must all share
    * one size so delta merges stay bucket-aligned). */
  def withBuckets(buckets: Int): CuckooFilter = {
    require(Integer.bitCount(buckets) == 1, "buckets must be a power of 2")
    new CuckooFilter(buckets, new Array[Short](buckets * SlotsPerBucket), Array.emptyLongArray, 0L)
  }

  /** Reads `serialize`'s layout; anything else (another layout, a
    * truncated array) throws IllegalArgumentException. */
  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    def bad = s"not a serialized filter (${bytes.length} bytes)"
    require(bytes.length >= HeaderBytes, bad)
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val (nb, count, nOverflow) = (buf.getInt(), buf.getLong(), buf.getInt())
    require(nb > 0 && Integer.bitCount(nb) == 1 && count >= 0 && nOverflow >= 0 &&
      bytes.length == HeaderBytes + nb.toLong * SlotsPerBucket * 2 + nOverflow * 8L, bad)
    val table = new Array[Short](nb * SlotsPerBucket)
    buf.asShortBuffer().get(table)
    val overflow = new Array[Long](nOverflow)
    buf.position(HeaderBytes + table.length * 2).asLongBuffer().get(overflow)
    require((1 until nOverflow).forall(k => overflow(k - 1) < overflow(k)), bad)
    new CuckooFilter(nb, table, overflow, count)
  }

  /** Deterministic build at a fixed bucket count (shard-aligned). */
  def buildWithBuckets(buckets: Int, fps: Iterator[Long]): CuckooFilter = {
    val f = withBuckets(buckets)
    fps.toArray.sorted.foreach(f.insert)
    f
  }
}
