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
  * One probe, on the driver: `probeLocal` answers the tier-1 verdict
  * over a `snapshotBytes()` snapshot, so the driver-side gate sends only
  * filter positives to the exact verify. The Spark gate needs no probe —
  * its exact anti-join reads every candidate anyway. Two insert paths,
  * selected by `mode`:
  *
  *  - "broadcast" (small sets; the name is historical — the snapshot is
  *    held by the driver and never broadcast): insert runs on the DRIVER
  *    (`insertLocal`): the touched shards of the snapshot the gate
  *    already holds take the new fps, commit as one small file, and
  *    become the memoized next version, so no job ever re-reads what
  *    the driver just built. Requires the driver to hold all shard
  *    bytes — fine at MBs, fatal at 10^10 urls (~tens of GB) — and the
  *    batch's fps, so a batch of more than `LocalInsertMaxFps` takes
  *    the join path's insert instead.
  *
  *  - "join" (design scale): the insert (`insert`) CO-PARTITIONS the
  *    fps with the shard rows via a typed cogroup on `shard` — filter
  *    bytes move once per shard to where the fps already are, nothing is
  *    collected to the driver, only touched shards are rewritten. This
  *    is the path a 1000-executor cluster runs.
  *
  *  - "auto": broadcast while the manifest says the shard-table bytes
  *    are under `JoinThresholdBytes`, join beyond it. The table layout
  *    is identical on both paths — property-tested to give
  *    byte-identical filters.
  */
final class SeenShards(spark: SparkSession, table: SnapshotTable,
                       nShards: Int, shardBuckets: Int,
                       mode: String = "auto") {

  import spark.implicits._
  require(Set("auto", "broadcast", "join")(mode), s"bad seen mode: $mode")

  /** Above this serialized-filter volume the broadcast path's driver
    * collect of the shard table (once per version it did not build
    * itself) and the snapshot it holds stop being a rounding error. */
  val JoinThresholdBytes: Long = 64L << 20

  /** Most fps one driver insert takes: their (fp, seq) pairs, 16 B each,
    * stay within the `JoinThresholdBytes` the driver already budgets for
    * the shard snapshot. The gate collects at most one more than this;
    * a bigger batch commits through the co-partitioned `insert`. */
  val LocalInsertMaxFps: Int = (JoinThresholdBytes / 16).toInt

  /** Manifest-level size estimate — zero Spark jobs. */
  private def tableBytes: Long =
    table.currentManifest.map(_.files.map(_.bytes).sum).getOrElse(0L)

  /** True when this batch should use the co-partitioned path. */
  def useJoinPath: Boolean = mode match {
    case "join"      => true
    case "broadcast" => false
    case _           => tableBytes > JoinThresholdBytes
  }

  private def hasState: Boolean = table.currentId.nonEmpty && !table.isEmpty

  /** Version-keyed memo of the shard bytes: the shard table only
    * changes when insert() commits, so consecutive gates over an
    * unchanged version (every batch whose discovery wave was fully
    * deduped, plus the claim-heavy tail of a drain) reuse the collected
    * bytes instead of paying a read+collect per batch. A driver insert
    * (`insertLocal`) moves it to the version it commits, so on the
    * broadcast path the table is re-read only after a commit this
    * instance did not build on the driver (a compaction, a
    * co-partitioned insert), not once per insert. Single-writer (the
    * engine driver), so a plain volatile pair is enough. */
  @volatile private var snapCache: (Long, Map[Int, Array[Byte]]) = null

  /** Current shard bytes (one driver collect per table VERSION that
    * this instance did not commit itself) — broadcast-path callers
    * inside a batch load once and hand the same snapshot to probeLocal()
    * and insertLocal(). */
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

  /** Merge new fingerprints into the shard filters (upsert commit),
    * co-partitioned: the fps cogroup with the shard rows on `shard`, and
    * only touched shards are rewritten, their fps inserted in sorted
    * order — `insertLocal`'s steps, so both inserts give byte-identical
    * filters. Nothing reaches the driver, so it serves the join path and
    * any batch too big for the driver insert, on any table state. */
  def insert(newFps: DataFrame, metrics: Map[String, Double] = Map.empty): Unit = {
    val buckets = shardBuckets
    val nS = nShards
    val fps = newFps.select(col("fp")).as[Long]
      .groupByKey(fp => java.lang.Math.floorMod(fp, nS.toLong).toInt)
    val shards = shardRows.groupByKey(_._1)
    commit(fps.cogroup(shards) { (shard, fpIt, existing) =>
      val arr = fpIt.toArray
      if (arr.isEmpty) Iterator.empty // untouched shard: no rewrite
      else {
        val f = existing.buffered.headOption
          .map(t => CuckooFilter.deserialize(t._2))
          .getOrElse(CuckooFilter.withBuckets(buckets))
        java.util.Arrays.sort(arr)
        arr.foreach(f.insert)
        Iterator((shard, f.serialize(), f.count))
      }
    }.toDF("shard", "bytes", "count"), metrics)
  }

  /** The broadcast path's insert, on the driver, for batches of at most
    * `LocalInsertMaxFps` fps. `snapshot` is the
    * `snapshotBytes()` the gate used, i.e. the current version. Each
    * touched shard deserializes from it (or starts empty), takes its
    * fps in sorted order and serializes — the join path's steps, so the
    * bytes are identical. Only the touched rows commit, as one file, and
    * the memo moves to the committed version holding snapshot ++ touched:
    * the next `snapshotBytes()`/`probeLocal` runs no job. */
  def insertLocal(fps: Array[Long], snapshot: Map[Int, Array[Byte]],
                  metrics: Map[String, Double] = Map.empty): Unit = {
    if (fps.isEmpty) return
    val n = nShards.toLong
    val touched = fps.groupBy(fp => java.lang.Math.floorMod(fp, n).toInt).toSeq.sortBy(_._1)
      .map { case (shard, shardFps) =>
        val f = snapshot.get(shard).map(CuckooFilter.deserialize)
          .getOrElse(CuckooFilter.withBuckets(shardBuckets))
        java.util.Arrays.sort(shardFps)
        shardFps.foreach(f.insert)
        (shard, f.serialize(), f.count)
      }
    val c = snapCache
    // the memo may only advance from the version the commit builds on
    val current = if (hasState) c != null && (c._2 eq snapshot) && table.currentId.contains(c._1)
                  else snapshot.isEmpty
    val id = commit(touched.toDF("shard", "bytes", "count").coalesce(1), metrics)
    snapCache =
      if (current) (id, snapshot ++ touched.map { case (s, b, _) => s -> b })
      else null
  }

  private def commit(rows: DataFrame, metrics: Map[String, Double]): Long =
    if (table.currentId.isEmpty) table.commitAppend(rows, metrics)
    else table.commitUpsert(rows, metrics)
}
