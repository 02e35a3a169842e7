package graft.frontier

import graft.filter.CuckooFilter
import graft.table.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned cuckoo-filter URL-seen set (north rule; SURVEY.md §4.2).
  *
  * State: `nShards` rows of (shard, filterBytes, count) in a
  * SnapshotTable — shard = fp mod nShards. All shard filters share
  * `shardBuckets` so delta merges stay bucket-aligned.
  *
  * The driver holds the set: `snapshotBytes()` is the shard bytes,
  * memoized by table version, and costs `nShards × shardBuckets × 8 B`
  * plus each shard's overflow (2 MB at the engine defaults; once
  * probed, as much again as deserialized filters). No workload runs
  * past that. One probe, `probeLocal`, answers the driver gate's
  * tier-1 verdict over it, so only filter positives go to the exact
  * verify; the Spark gate needs no probe — its exact anti-join reads
  * every candidate anyway. One insert, `insertLocal`, merges a batch's
  * fps into the touched shards of that snapshot, commits them as one
  * small driver-written file and publishes the result as the next
  * memoized version, so no job writes or re-reads what the driver just
  * built.
  *
  * The one fallback: a Spark-gate batch of more than
  * `CrawlEngine.LocalCommitMaxRows` survivors, too many to collect,
  * inserts through `insert`, which
  * co-partitions the fps with the shard rows on the executors. Both
  * inserts run the same `mergeShard`, so their shard bytes are
  * identical by construction.
  */
final class SeenShards(spark: SparkSession, table: SnapshotTable,
                       nShards: Int, shardBuckets: Int) {

  import spark.implicits._

  private def hasState: Boolean = table.currentId.nonEmpty && !table.isEmpty

  /** (shard, bytes, count) rows as the driver insert commits them. */
  private val localShardRows =
    SnapshotTable.LocalRows.encoder[(Int, Array[Byte], Long)]("shard", "bytes", "count")

  /** Version-keyed memo of the shard bytes: the shard table only
    * changes on an insert or a compaction, so consecutive gates over an
    * unchanged version (every batch whose discovery wave was fully
    * deduped, plus the claim-heavy tail of a drain) reuse the collected
    * bytes instead of paying a read+collect per batch. `insertLocal`
    * moves it to the version it commits, so the table is re-read only
    * after a commit this instance did not build on the driver (a
    * compaction, a co-partitioned insert). Single-writer (the engine
    * driver), so a plain volatile pair is enough. */
  @volatile private var snapCache: (Long, Map[Int, Array[Byte]]) = null

  /** Current shard bytes: one driver collect per table VERSION that
    * this instance did not commit itself. */
  def snapshotBytes(): Map[Int, Array[Byte]] =
    if (!hasState) Map.empty
    else {
      val id = table.currentId.getOrElse(-1L)
      val c = snapCache
      if (c != null && c._1 == id) c._2
      else {
        val bytes = table.read().select("shard", "bytes")
          .as[(Int, Array[Byte])].collect().toMap
        snapCache = (id, bytes)
        bytes
      }
    }

  private def shardRows: org.apache.spark.sql.Dataset[(Int, Array[Byte])] =
    if (!hasState) spark.emptyDataset[(Int, Array[Byte])]
    else table.read().select(col("shard"), col("bytes")).as[(Int, Array[Byte])]

  /** Shard filters of the last snapshot `probeLocal` was handed. */
  @volatile private var localFilters: (Map[Int, Array[Byte]], Map[Int, CuckooFilter]) = null

  /** The tier-1 verdict per fp over a `snapshotBytes()` snapshot, for
    * candidates already on the driver. The shards deserialize once per
    * snapshot — i.e. once per table version, since `snapshotBytes`
    * memoizes by version. */
  def probeLocal(bytes: Map[Int, Array[Byte]]): Long => Boolean = {
    val c = localFilters
    val filters =
      if (c != null && (c._1 eq bytes)) c._2
      else {
        val fs = bytes.map { case (s, b) => s -> CuckooFilter.deserialize(b) }
        localFilters = (bytes, fs)
        fs
      }
    val n = nShards.toLong
    fp => filters.get(java.lang.Math.floorMod(fp, n).toInt).exists(_.mightContain(fp))
  }

  /** Merge new fingerprints into the shard filters (upsert commit) on
    * the executors, for a batch too big to collect: the fps cogroup
    * with the shard rows on `shard`, and only touched shards are
    * rewritten. Nothing reaches the driver, and the memo stays at the
    * version before, so the next `snapshotBytes()` re-reads the table. */
  def insert(newFps: DataFrame, metrics: Map[String, Double] = Map.empty): Unit = {
    val buckets = shardBuckets
    val nS = nShards
    val fps = newFps.select(col("fp")).as[Long]
      .groupByKey(fp => java.lang.Math.floorMod(fp, nS.toLong).toInt)
    val shards = shardRows.groupByKey(_._1)
    commit(fps.cogroup(shards) { (shard, fpIt, existing) =>
      val arr = fpIt.toArray
      if (arr.isEmpty) Iterator.empty // untouched shard: no rewrite
      else Iterator(SeenShards.mergeShard(shard, existing.nextOption().map(_._2), arr, buckets))
    }.toDF("shard", "bytes", "count"), metrics)
  }

  /** The driver insert, for batches whose fps are on the driver: each
    * touched shard of the current snapshot takes its fps. Only the
    * touched rows commit, as one driver-written file (`commitLocal`, no
    * job), and the memo moves to the committed version holding
    * snapshot ++ touched: the next `snapshotBytes()`/`probeLocal` runs
    * no job either. The snapshot read is free when the gate already
    * read this version. */
  def insertLocal(fps: Array[Long], metrics: Map[String, Double] = Map.empty): Unit = {
    if (fps.isEmpty) return
    val snapshot = snapshotBytes()
    val n = nShards.toLong
    val touched = fps.groupBy(fp => java.lang.Math.floorMod(fp, n).toInt).toSeq.sortBy(_._1)
      .map { case (shard, shardFps) =>
        SeenShards.mergeShard(shard, snapshot.get(shard), shardFps, shardBuckets)
      }
    val c = snapCache
    // the memo may only advance from the version the commit builds on
    val current = !hasState || (c != null && (c._2 eq snapshot) && table.currentId.contains(c._1))
    val id = table.commitLocal(localShardRows(touched), upsert = table.currentId.nonEmpty, metrics)
    snapCache =
      if (current) (id, snapshot ++ touched.map { case (s, b, _) => s -> b })
      else null
  }

  private def commit(rows: DataFrame, metrics: Map[String, Double]): Long =
    if (table.currentId.isEmpty) table.commitAppend(rows, metrics)
    else table.commitUpsert(rows, metrics)
}

object SeenShards {
  /** The shard merge both inserts run: the shard's filter (or an empty
    * one of `buckets` buckets) takes `fps` in sorted order, so the
    * result depends only on the shard bytes and the fps, not on their
    * order. Sorts `fps` in place. Returns the (shard, bytes, count)
    * row. */
  private def mergeShard(shard: Int, existing: Option[Array[Byte]], fps: Array[Long],
                         buckets: Int): (Int, Array[Byte], Long) = {
    val f = existing.map(CuckooFilter.deserialize).getOrElse(CuckooFilter.withBuckets(buckets))
    java.util.Arrays.sort(fps)
    fps.foreach(f.insert)
    (shard, f.serialize(), f.count)
  }
}
