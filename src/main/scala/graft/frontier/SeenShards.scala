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
  * Two physical paths behind one API, selected by `mode`:
  *
  *  - "broadcast" (small sets): probe is a broadcast-backed scalar
  *    function — zero shuffles, stays inside the candidate scan — or
  *    its driver twin `probeLocal`; insert runs on the DRIVER
  *    (`insertLocal`): the touched shards of the snapshot the probe
  *    already holds take the new fps, commit as one small file, and
  *    become the memoized next version, so no job ever re-reads what
  *    the driver just built. Requires the driver to hold all shard
  *    bytes — fine at MBs, fatal at 10^10 urls (~tens of GB) — and the
  *    batch's fps, so a batch of more than `LocalInsertMaxFps` takes
  *    the join path's insert instead.
  *
  *  - "join" (design scale): candidates are CO-PARTITIONED with the
  *    shard rows via a typed cogroup on `shard` — filter bytes move
  *    once per shard to where the candidates already are, nothing is
  *    collected to the driver, nothing is broadcast. Probe costs one
  *    fp shuffle + a rejoin; insert (`insert`) is the same cogroup
  *    emitting only touched shards. This is the path a 1000-executor
  *    cluster runs.
  *
  *  - "auto": broadcast while the manifest says the shard-table bytes
  *    are under `JoinThresholdBytes`, join beyond it. The table layout
  *    and two-tier semantics (filter says maybe → exact anti-join
  *    verifies) are identical on both paths — property-tested to give
  *    byte-identical filters and verdicts.
  */
final class SeenShards(spark: SparkSession, table: SnapshotTable,
                       nShards: Int, shardBuckets: Int,
                       mode: String = "auto") {

  import spark.implicits._
  require(Set("auto", "broadcast", "join")(mode), s"bad seen mode: $mode")

  /** Above this serialized-filter volume the broadcast path's per-batch
    * driver collect + rebroadcast stops being a rounding error. */
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

  /** Version-keyed memo of (shard bytes, their broadcast): the shard
    * table only changes when insert() commits, so consecutive probes of
    * an unchanged version (every batch whose discovery wave was fully
    * deduped, plus the claim-heavy tail of a drain) reuse both the
    * collected bytes and the executor-side broadcast instead of paying
    * a read+collect+broadcast per batch. A driver insert (`insertLocal`)
    * moves it to the version it commits, so on the broadcast path the
    * table is re-read only after a commit this instance did not build
    * on the driver (a compaction, a co-partitioned insert), not once
    * per insert. Single-writer (the engine driver), so a plain volatile
    * triple is enough. */
  @volatile private var snapCache:
    (Long, Map[Int, Array[Byte]],
     org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]]) = null

  /** Current shard bytes (one driver collect per table VERSION that
    * this instance did not commit itself) — broadcast-path callers
    * inside a batch load once and hand the same snapshot to probe() and
    * insertLocal(). */
  def snapshotBytes(): Map[Int, Array[Byte]] =
    if (!hasState) Map.empty
    else {
      val id = table.currentId.getOrElse(-1L)
      val c = snapCache
      if (c != null && c._1 == id) c._2
      else {
        val bytes = table.read().select("shard", "bytes")
          .as[(Int, Array[Byte])].collect().toMap
        // free the superseded version's executor+driver copies NOW
        // (ADVICE r4): a long drain otherwise accumulates one live
        // broadcast per table version until the ContextCleaner gets to
        // them. Safe: every job that used it was joined before the
        // insert that bumped the version committed.
        if (c != null && c._3 != null) c._3.destroy() // non-blocking
        snapCache = (id, bytes, null)
        bytes
      }
    }

  /** Broadcast for `bytes`, reused while the table version (or the
    * caller-preloaded snapshot) is unchanged. */
  private def broadcastFor(bytes: Map[Int, Array[Byte]])
      : org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]] = {
    val c = snapCache
    if (c != null && (c._2 eq bytes) && c._3 != null) c._3
    else {
      val bc = spark.sparkContext.broadcast(bytes)
      if (c != null && (c._2 eq bytes)) snapCache = (c._1, c._2, bc)
      bc
    }
  }

  private def shardRows: org.apache.spark.sql.Dataset[(Int, Array[Byte])] =
    if (!hasState) spark.emptyDataset[(Int, Array[Byte])]
    else table.read().select(col("shard"), col("bytes")).as[(Int, Array[Byte])]

  /** Adds a `maybeSeen` boolean to `candidates` (needs an `fp` column). */
  def probe(candidates: DataFrame,
            preloaded: Option[Map[Int, Array[Byte]]] = None): DataFrame = {
    if (!hasState)
      return candidates.withColumn("maybeSeen", lit(false))
    if (useJoinPath && preloaded.isEmpty) return probeJoin(candidates)
    val bytes = preloaded.getOrElse(snapshotBytes())
    if (bytes.isEmpty)
      return candidates.withColumn("maybeSeen", lit(false))
    val bc = broadcastFor(bytes)
    val n = nShards
    val probeUdf = udf(new ProbeFn(bc, n))
    candidates.withColumn("maybeSeen", probeUdf(col("fp")))
  }

  /** Shard filters of the last snapshot `probeLocal` was handed. */
  @volatile private var localFilters: (Map[Int, Array[Byte]], Map[Int, CuckooFilter]) = null

  /** Driver-side twin of `probe` for candidates already on the driver:
    * the tier-1 verdict per fp over a `snapshotBytes()` snapshot. The
    * shards deserialize once per snapshot — i.e. once per table
    * version, since `snapshotBytes` memoizes by version. */
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

  /** Co-partitioned probe: cogroup candidate fps with shard rows on
    * `shard`; each task deserializes its one filter and answers
    * locally; verdicts rejoin the candidates on fp. */
  private def probeJoin(candidates: DataFrame): DataFrame = {
    val nS = nShards
    val cands = candidates.select(col("fp")).as[Long]
      .groupByKey(fp => java.lang.Math.floorMod(fp, nS.toLong).toInt)
    val shards = shardRows.groupByKey(_._1)
    val verdicts = cands.cogroup(shards) { (_, fps, filters) =>
      // one verdict PER DISTINCT fp — duplicate candidate fps would
      // otherwise fan out k×k through the rejoin, diverging from the
      // broadcast path's exactly-k rows
      val distinctFps = fps.toArray.distinct
      val f = filters.buffered.headOption.map(t => CuckooFilter.deserialize(t._2))
      f match {
        case None     => distinctFps.iterator.map(fp => (fp, false))
        case Some(cf) => distinctFps.iterator.map(fp => (fp, cf.mightContain(fp)))
      }
    }.toDF("fp", "maybeSeen")
    candidates.join(verdicts, Seq("fp"))
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
    * `snapshotBytes()` the probe used, i.e. the current version. Each
    * touched shard deserializes from it (or starts empty), takes its
    * fps in sorted order and serializes — the join path's steps, so the
    * bytes are identical. Only the touched rows commit, as one file, and
    * the memo moves to the committed version holding snapshot ++ touched:
    * the next `snapshotBytes()`/`probeLocal` runs no job. The superseded
    * broadcast is only retired here — a cached plan of the caller's
    * probe may still serialize it — and dies in `releaseRetired()`. */
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
    if (c != null && c._3 != null) retired ::= c._3
    snapCache =
      if (current) (id, snapshot ++ touched.map { case (s, b, _) => s -> b }, null)
      else null
  }

  /** Broadcasts superseded by `insertLocal`, awaiting `releaseRetired`. */
  @volatile private var retired: List[org.apache.spark.broadcast.Broadcast[_]] = Nil

  /** Destroys the broadcasts retired by earlier inserts. Call once no
    * plan built from an earlier `probe` will run again (the engine: after
    * the frontier append that follows the seen commit). */
  def releaseRetired(): Unit = {
    val r = retired
    retired = Nil
    r.foreach(_.destroy()) // non-blocking
  }

  private def commit(rows: DataFrame, metrics: Map[String, Double]): Long =
    if (table.currentId.isEmpty) table.commitAppend(rows, metrics)
    else table.commitUpsert(rows, metrics)
}

/** Serializable probe closure: deserializes each touched shard once
  * per executor (lazy cache), then answers from memory. */
private class ProbeFn(
    bc: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]],
    nShards: Int) extends (Long => Boolean) with Serializable {
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, CuckooFilter]()
  override def apply(fp: Long): Boolean = {
    val shard = java.lang.Math.floorMod(fp, nShards.toLong).toInt
    bc.value.get(shard) match {
      case None => false
      case Some(bytes) =>
        cache.computeIfAbsent(shard, _ => CuckooFilter.deserialize(bytes))
          .mightContain(fp)
    }
  }
}
