package graft.filter

import graft.util.Hashing

/** Partial-key cuckoo filter over 64-bit URL fingerprints — the
  * partitioned URL-seen set (north rule; replaces the reference's
  * linear-scan membership, utils/csv_utils.py:206-215).
  *
  * Layout: `numBuckets` (power of two) buckets × 4 slots × 16-bit
  * fingerprints (0 = empty; fingerprints forced non-zero).
  * Guarantees (CuckooFilterSpec, property-based):
  *  - NO false negatives for any inserted key, ever: the fingerprint
  *    that loses the eviction fight after MaxKicks lands in an exact
  *    (bucket, fp) overflow set, checked by mightContain;
  *  - false positives ~ 8/2^16 per probe — tier-1 only: the engine
  *    verifies every "maybe" against exact state (two-tier probe,
  *    SURVEY.md §4.2), as byte-match seen-set parity requires.
  *
  * `overflowKeys` is never written (it stays empty); it is kept so the
  * serialized layout, and every shard already on disk, is unchanged.
  *
  * Determinism: eviction path is an LCG seeded from the key, so a given
  * insert sequence always yields identical bytes; shard builds insert
  * in sorted-fp order so bytes are independent of upstream row order.
  */
final class CuckooFilter private (
    val numBuckets: Int,
    private val table: Array[Short],
    private val overflowKeys: Set[Long],
    private var overflowFp: Set[(Int, Short)],
    private var _count: Long) extends Serializable {

  import CuckooFilter._

  def count: Long = _count

  private def bucketOf(h: Long): Int = (h & (numBuckets - 1)).toInt

  private def fingerprint(key: Long): Short = {
    val f = (Hashing.xx64(s"cfp:$key") & 0xffffL).toInt
    (if (f == 0) 1 else f).toShort
  }

  private def altBucket(i: Int, f: Short): Int =
    (i ^ bucketOf(Hashing.xx64(s"cfb:${f.toInt & 0xffff}"))) & (numBuckets - 1)

  private def tryPut(i: Int, f: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == 0) { table(base + s) = f; return true }
      s += 1
    }
    false
  }

  private def bucketHas(i: Int, f: Short): Boolean = {
    val base = i * SlotsPerBucket
    var s = 0
    while (s < SlotsPerBucket) {
      if (table(base + s) == f) return true
      s += 1
    }
    false
  }

  def insert(key: Long): Unit = {
    _count += 1
    val f = fingerprint(key)
    val i1 = bucketOf(Hashing.xx64(s"cfh:$key"))
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
    // evicted fingerprint `cur` has lost its key identity; keep it
    // exactly by (either-bucket, fp) so no inserted key goes negative
    overflowFp += ((idx, cur))
  }

  /** true ⇒ maybe present; false ⇒ DEFINITELY not inserted. */
  def mightContain(key: Long): Boolean = {
    if (overflowKeys.contains(key)) return true
    val f = fingerprint(key)
    val i1 = bucketOf(Hashing.xx64(s"cfh:$key"))
    val i2 = altBucket(i1, f)
    bucketHas(i1, f) || bucketHas(i2, f) ||
      overflowFp.contains((i1, f)) || overflowFp.contains((i2, f))
  }

  def serialize(): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeInt(numBuckets)
    out.writeObject(table)
    out.writeObject(overflowKeys)
    out.writeObject(overflowFp)
    out.writeLong(_count)
    out.close()
    bos.toByteArray
  }
}

object CuckooFilter {
  val SlotsPerBucket = 4
  val MaxKicks = 500

  /** Filter with an exact bucket count (shard filters must all share
    * one size so delta merges stay bucket-aligned). */
  def withBuckets(buckets: Int): CuckooFilter = {
    require(Integer.bitCount(buckets) == 1, "buckets must be a power of 2")
    new CuckooFilter(buckets, new Array[Short](buckets * SlotsPerBucket),
      Set.empty, Set.empty, 0L)
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val in = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    val nb = in.readInt()
    val table = in.readObject().asInstanceOf[Array[Short]]
    val overflowKeys = in.readObject().asInstanceOf[Set[Long]]
    val overflowFp = in.readObject().asInstanceOf[Set[(Int, Short)]]
    val count = in.readLong()
    in.close()
    new CuckooFilter(nb, table, overflowKeys, overflowFp, count)
  }

  /** Deterministic build at a fixed bucket count (shard-aligned). */
  def buildWithBuckets(buckets: Int, fps: Iterator[Long]): CuckooFilter = {
    val f = withBuckets(buckets)
    fps.toArray.sorted.foreach(f.insert)
    f
  }
}
