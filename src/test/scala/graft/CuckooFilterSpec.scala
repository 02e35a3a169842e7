package graft

import graft.filter.CuckooFilter
import org.scalatest.funsuite.AnyFunSuite

/** Property-style tests with seeded generators (scalatestplus bridge is
  * not in the offline cache; determinism is a feature here anyway). */
class CuckooFilterSpec extends AnyFunSuite {

  private def randomKeys(seed: Long, n: Int): Seq[Long] = {
    val r = new scala.util.Random(seed)
    Seq.fill(n)(r.nextLong())
  }

  /** A filter sized for `expectedItems` at ~0.84 load of 4-slot buckets,
    * bucket count rounded up to a power of two. */
  private def sized(expectedItems: Int): CuckooFilter = {
    val needed = math.max(16, (expectedItems / (CuckooFilter.SlotsPerBucket * 0.84)).toInt + 1)
    CuckooFilter.withBuckets(Integer.highestOneBit(math.max(1, needed - 1)) * 2)
  }

  test("no false negatives at design load (30 seeded trials)") {
    (0 until 30).foreach { trial =>
      val keys = randomKeys(trial, 50 + trial * 37)
      val f = sized(math.max(16, keys.size))
      keys.foreach(f.insert)
      keys.foreach(k => assert(f.mightContain(k), s"trial $trial: false negative $k"))
    }
  }

  test("no false negatives even at heavy overload (overflow set catches)") {
    val f = CuckooFilter.withBuckets(16) // 64 slots
    val keys = (0L until 200L).map(_ * 7919L + 13L)
    keys.foreach(f.insert)
    keys.foreach(k => assert(f.mightContain(k)))
  }

  test("false positive rate bounded (~8/2^16 per probe)") {
    val n = 20000
    val f = sized(n)
    (0 until n).foreach(i => f.insert(i.toLong * 2654435761L))
    val probes = 200000
    val fps = (0 until probes).count(i => f.mightContain(-1L - i * 104729L))
    assert(fps.toDouble / probes < 0.005, s"FP rate ${fps.toDouble / probes}")
  }

  test("serialize/deserialize roundtrip preserves membership") {
    // a filter at design load, and one whose overflow holds most keys
    Seq((sized(1000), 1000L), (CuckooFilter.withBuckets(16), 200L)).foreach { case (f, n) =>
      val keys = (0L until n).map(_ * 31L + 7L)
      keys.foreach(f.insert)
      val b = f.serialize()
      val g = CuckooFilter.deserialize(b)
      keys.foreach(k => assert(g.mightContain(k)))
      assert(g.count === f.count)
      assert(g.serialize() sameElements b, "bytes changed across a round trip")
    }
  }

  test("deserialize rejects the old Java-serialized layout and truncated arrays") {
    // the layout shards had before the plain one: an object stream
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bos)
    out.writeInt(16)
    out.writeObject(new Array[Short](16 * CuckooFilter.SlotsPerBucket))
    out.writeObject(Set.empty[Long])
    out.writeObject(Set.empty[(Int, Short)])
    out.writeLong(0L)
    out.close()
    val f = CuckooFilter.withBuckets(16)
    (0L until 200L).foreach(k => f.insert(k * 7919L))
    val b = f.serialize()
    Seq("java-serialized" -> bos.toByteArray, "no header" -> b.take(10),
      "one byte short" -> b.dropRight(1), "one byte long" -> (b :+ 0.toByte)).foreach {
      case (what, bytes) =>
        withClue(what)(assertThrows[IllegalArgumentException](CuckooFilter.deserialize(bytes)))
    }
  }

  test("sorted build is byte-deterministic regardless of input order") {
    val keys = (0L until 5000L).map(_ * 6364136223846793005L + 11L)
    val f1 = CuckooFilter.buildWithBuckets(1 << 11, keys.iterator)
    val shuffled = new scala.util.Random(7).shuffle(keys)
    val f2 = CuckooFilter.buildWithBuckets(1 << 11, shuffled.iterator)
    assert(f1.serialize().toSeq === f2.serialize().toSeq)
  }
}
