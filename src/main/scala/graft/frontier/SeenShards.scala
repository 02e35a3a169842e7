package graft.frontier

import graft.filter.CuckooFilter
import graft.table.SnapshotTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Partitioned cuckoo-filter URL-seen set (north rule; SURVEY.md §4.2).
  *
  * State: `nShards` rows of (shard, filterBytes, count) in a
  * SnapshotTable — shard = fp mod nShards, bytes in `CuckooFilter`'s
  * layout. All shard filters share `shardBuckets` so delta merges stay
  * bucket-aligned.
  *
  * The driver holds the set as ONE memo: the table version and its
  * live shard filters, `nShards × shardBuckets × 8 B` plus each shard's
  * overflow (2 MB at the engine defaults). No workload runs past that.
  * A version this instance did not build (a compaction) is read and
  * decoded once. One probe, `probeLocal`, answers the driver gate's
  * tier-1 verdict from the memo, so only filter positives go to the
  * exact verify; the Spark gate needs no probe — its exact anti-join
  * reads every candidate anyway. One insert, `insertLocal`, merges a
  * batch's fps into copies of the touched filters, commits their bytes
  * as one small driver-written file and only then publishes the copies
  * as the next version: a failed commit publishes nothing, and no job
  * writes or re-reads what the driver just built. Every gate's
  * survivors reach it on the driver, a Spark-gate batch past
  * `SnapshotTable.LocalCommitMaxRows` too (see `CrawlEngine.enqueue`).
  * `snapshotBytes()` is the memo serialized.
  */
final class SeenShards(spark: SparkSession, table: SnapshotTable,
                       nShards: Int, shardBuckets: Int) {

  import spark.implicits._

  private def hasState: Boolean = table.currentId.nonEmpty && !table.isEmpty

  /** (shard, bytes, count) rows as the driver insert commits them. */
  private val localShardRows =
    SnapshotTable.LocalRows.encoder[(Int, Array[Byte], Long)]("shard", "bytes", "count")

  /** (table version, shard → filter): the shard table only changes on
    * an insert or a compaction, so consecutive gates over an unchanged
    * version reuse the decoded filters instead of paying a read+collect
    * per batch. Its filters are never mutated: `insertLocal` publishes
    * copies. Single-writer (the engine driver), so a volatile is enough. */
  @volatile private var memo: (Long, Map[Int, CuckooFilter]) = null

  /** The current shard filters: one driver collect per table VERSION
    * that this instance did not commit itself. */
  private def filters(): Map[Int, CuckooFilter] =
    if (!hasState) Map.empty
    else {
      val id = table.currentId.getOrElse(-1L)
      val m = memo
      if (m != null && m._1 == id) m._2
      else {
        val fs = shardRows.collect().map { case (s, b) => s -> CuckooFilter.deserialize(b) }.toMap
        memo = (id, fs)
        fs
      }
    }

  /** The current shard bytes, serialized from the memo. */
  def snapshotBytes(): Map[Int, Array[Byte]] = filters().map { case (s, f) => s -> f.serialize() }

  /** The tier-1 verdict per fp over the current version, for candidates
    * already on the driver. */
  def probeLocal(): Long => Boolean = {
    val fs = filters()
    val n = nShards.toLong
    fp => fs.get(java.lang.Math.floorMod(fp, n).toInt).exists(_.mightContain(fp))
  }

  /** The insert: a copy of each touched shard's filter takes its fps
    * in sorted order, so the result depends only on the shard's content
    * and the fps, not on their order. Only the touched rows commit, as
    * one driver-written file (`commitLocal`, no job); once it returns,
    * the memo moves to the committed version holding the current
    * filters with the copies in place, so the next probe runs no job
    * either. */
  def insertLocal(fps: Array[Long], metrics: Map[String, Double] = Map.empty): Unit = {
    if (fps.isEmpty) return
    val current = filters()
    val n = nShards.toLong
    val touched = fps.groupBy(fp => java.lang.Math.floorMod(fp, n).toInt).toSeq.sortBy(_._1)
      .map { case (shard, shardFps) =>
        val f = current.get(shard).fold(CuckooFilter.withBuckets(shardBuckets))(_.copy())
        java.util.Arrays.sort(shardFps)
        shardFps.foreach(f.insert)
        shard -> f
      }
    val m = memo
    // the memo may only advance from the version the commit builds on
    val base = !hasState || (m != null && (m._2 eq current) && table.currentId.contains(m._1))
    val id = table.commitLocal(localShardRows(touched.map { case (s, f) => (s, f.serialize(), f.count) }),
      upsert = table.currentId.nonEmpty, metrics)
    memo = if (base) (id, current ++ touched) else null
  }

  private def shardRows: org.apache.spark.sql.Dataset[(Int, Array[Byte])] =
    if (!hasState) spark.emptyDataset[(Int, Array[Byte])]
    else table.read().select(col("shard"), col("bytes")).as[(Int, Array[Byte])]
}
