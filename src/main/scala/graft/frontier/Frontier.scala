package graft.frontier

import graft.model._
import graft.synth.Synth
import graft.util.Hashing
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Frontier claim / enqueue / recovery as pure Dataset transformations
  * (SURVEY.md §2.2). The engine composes these with SnapshotTable
  * commits; the parity oracle implements the same spec single-threaded.
  */
object Frontier {

  val NormalPriority = 0

  /** Politeness-budgeted, priority-ordered batch claim (Q3 + C3):
    *  1. per-host rank by (priority, seq) — the FIFO pop order
    *     (utils/csv_utils.py:286-299) within each host lane;
    *  2. cap each host at `batchMs / crawlDelayMs` items (token budget
    *     — the reference's 0.2 s sleep, parse_youtube.py:53, enforced
    *     as claim-rate rather than wall-clock sleeping);
    *  3. global top-`batchSize` by (priority, seq) — planned by Spark
    *     as TakeOrderedAndProject, no single-partition window.
    * Deterministic: ties impossible (seq unique).
    *
    * The crawl delay is a column function of the host, not a
    * broadcast-joined policy table: the synthetic policy is
    * deterministic per host, so a per-batch table materialization
    * would be pure fixed cost (a real deployment would broadcast a
    * slowly-changing robots table once, not per batch). The delay is a
    * pure builtin expression (Synth.crawlDelayMsCol), so the whole
    * claim plan is UDF-free and stays inside whole-stage codegen. */
  def claimBySynthPolicy(pending: DataFrame, seed: Long,
                         batchSize: Int, batchMs: Long): DataFrame = {
    val wHost = Window.partitionBy("host").orderBy("priority", "seq")
    pending
      .withColumn("crawlDelayMs", Synth.crawlDelayMsCol(col("host"), seed))
      .withColumn("hostCap",
        greatest(lit(1L), (lit(batchMs) / col("crawlDelayMs")).cast("long")))
      .withColumn("hrn", row_number().over(wHost))
      .filter(col("hrn") <= col("hostCap"))
      .drop("hrn", "hostCap", "crawlDelayMs")
      .orderBy("priority", "seq")
      .limit(batchSize)
  }

  /** Exchange-free claim over a HOST-BUCKETED frontier table (the
    * 1000-executor layout README.md promises): storage already splits
    * files by `pmod(hash(host), B)`, a key's host never changes, so one
    * task per bucket can do EVERYTHING locally — merge-on-read
    * resolution (latest `__delta_seq` per fp), the pending filter, the
    * per-host politeness budget, and the bucket-local top-`batchSize` —
    * with plain in-memory maps. The per-bucket winners then meet in a
    * single TakeOrderedAndProject. The whole claim plans with ZERO
    * shuffle exchanges (asserted by BucketedClaimSpec), versus the
    * window path's two (resolution by fp + politeness rank by host).
    *
    * Correctness: output is row-identical to
    * `claimBySynthPolicy(readStates(pending))` (equivalence-tested) —
    * per-host rank is bucket-local because hosts never straddle
    * buckets, and the global top-B of per-bucket top-Bs equals the
    * global top-B. Memory: one task holds one bucket's PENDING rows
    * (+ its since-compaction delta shadows); B is chosen so that fits
    * the task budget — at 10^10 pending × ~100 B/row, B = 8192 puts
    * ~120 MB per task. Ordering inside a task sorts the bucket: the
    * same O(n log n) the window path's sort-based exchange pays, minus
    * the network. */
  def claimBucketedBySynthPolicy(tbl: graft.table.SnapshotTable,
                                 spark: SparkSession, seed: Long,
                                 batchSize: Int, batchMs: Long): DataFrame = {
    import spark.implicits._
    val scans = tbl.bucketedStateScan(Set(FrontierState.Pending))
    if (scans.isEmpty) return spark.emptyDataset[FrontierEntry].toDF()
    val cols = Seq("fp", "url", "host", "priority", "seq", "state", "error",
      "discoveredAt", "processedAt", "__delta_seq", "__cand")
    val combined = scans.map(_._2).map(_.select(cols.map(col): _*))
      .reduce(_ unionByName _) // one partition per bucket — no exchange
    val perBucket = combined.mapPartitions { it =>
      // latest version per fp wins (merge-on-read, bucket-closed)
      val latest = new scala.collection.mutable.HashMap[Long, (Long, Boolean, FrontierEntry)]
      it.foreach { r =>
        val fp = r.getLong(0); val ds = r.getLong(9)
        if (!latest.get(fp).exists(_._1 >= ds))
          latest(fp) = (ds, r.getBoolean(10), FrontierEntry(fp, r.getString(1),
            r.getString(2), r.getInt(3), r.getLong(4), r.getString(5),
            r.getString(6), r.getLong(7), r.getLong(8)))
      }
      // politeness budget in claim order, then bucket-local top-B
      val pending = latest.valuesIterator.collect { case (_, true, e) => e }.toArray
      java.util.Arrays.sort(pending, Ordering.by((e: FrontierEntry) => (e.priority, e.seq)))
      val hostUsed = new scala.collection.mutable.HashMap[String, Long]
      val hostCap = new scala.collection.mutable.HashMap[String, Long]
      val out = new scala.collection.mutable.ArrayBuffer[FrontierEntry]
      var i = 0
      while (i < pending.length && out.length < batchSize) {
        val e = pending(i)
        val cap = hostCap.getOrElseUpdate(e.host,
          math.max(1L, batchMs / Synth.hostPolicy(e.host, seed).crawlDelayMs))
        val used = hostUsed.getOrElse(e.host, 0L)
        if (used < cap) { hostUsed(e.host) = used + 1; out += e }
        i += 1
      }
      out.iterator
    }
    // global winners: top-B by (priority, seq) — TakeOrderedAndProject,
    // still no exchange
    perBucket.orderBy("priority", "seq").limit(batchSize).toDF()
  }

  /** Hot-host skew salting for the fetch stage (north rule): hosts with
    * more claimed rows than `targetPerTask` get `ceil(n/target)` salts;
    * repartitioning on (host, salt) spreads them across tasks. */
  def salted(claimed: DataFrame, targetPerTask: Int): DataFrame = {
    val counts = claimed.groupBy("host").agg(count(lit(1)).as("__hn"))
    claimed
      .join(broadcast(counts), Seq("host"))
      .withColumn("salt",
        when(col("__hn") > targetPerTask,
          pmod(col("fp"), ceil(col("__hn") / targetPerTask).cast("int")))
          .otherwise(lit(0)).cast("int"))
      .drop("__hn")
  }

  /** First occurrence within an incoming batch by (priority, seq) —
    * the reference enqueues in pop order, so a dup later in the batch
    * is skipped (T4 first-occurrence semantics). Must run BEFORE the
    * dedup gate so fps are unique downstream. */
  def firstOccurrence(candidates: DataFrame): DataFrame = {
    // min_by aggregation, not a row_number window over (fp; priority,
    // seq): the same row (ties impossible — seq unique within a batch),
    // and the aggregate's map-side PARTIAL collapses a url repeated
    // within a task to one row before the exchange, where the window
    // shuffles and sorts every candidate. The bulk feeds repeat urls
    // (overlapping seed files; `searchBatchParallel`'s keyword pages
    // overlap); on distinct urls the two forms cost the same
    val others = candidates.columns.filterNot(_ == "fp").toSeq
    candidates.groupBy("fp")
      .agg(min_by(struct(others.map(col): _*),
        struct(col("priority"), col("seq"))).as("__r"))
      .select(col("fp") +: others.map(c => col("__r." + c).as(c)): _*)
  }

  /** Enqueue-side dedup gate (Q8, utils/queue_utils.py:61-66): drop
    * candidates already present in the frontier (any state) — one exact
    * anti-join against the key set, which reuses the firstOccurrence
    * agg's hash partitioning on fp (no new candidate-side exchange).
    * Expects unique fps. No cuckoo tier: the join reads every candidate
    * anyway, so a filter verdict would skip no work. This is the gate of
    * the unbounded bulk feeds only (`init`, seed files, seed streams,
    * executor-side keyword expansion); batch-bounded candidates already
    * on the driver (the drain's discovery waves, `searchBatch`) take
    * `firstOccurrenceLocal` + `verifyHits` instead, where the filter does
    * skip the verify. */
  def dedupGate(candidates: DataFrame, frontierKeys: DataFrame): DataFrame =
    candidates.join(frontierKeys, Seq("fp"), "left_anti")

  /** The exact tier of the driver-side gate: the frontier keys among
    * `positives` (the batch's cuckoo filter positives, SORTED). A
    * map-side filter over the key scan — no exchange, and the key table
    * is never broadcast; the positives ride a broadcast variable rather
    * than plan literals, so the plan has the same size at any batch
    * (PlanSpec pins both). */
  def verifyHits(frontierKeys: DataFrame, positives: Broadcast[Array[Long]]): DataFrame =
    frontierKeys.select("fp").filter(udf(new SortedMember(positives)).apply(col("fp")))

  /** Driver twin of `firstOccurrence` for candidates already on the
    * driver: the lowest (priority, seq) row per fp, in that order. */
  def firstOccurrenceLocal(candidates: Seq[FrontierEntry]): Seq[FrontierEntry] = {
    val taken = scala.collection.mutable.HashSet.empty[Long]
    candidates.sortBy(e => (e.priority, e.seq)).filter(e => taken.add(e.fp))
  }

  /** Crash recovery (Q9, utils/queue_utils.py:6-32): rows stuck in
    * `processing` return to `pending` at RecoveryPriority so they are
    * claimed before all normal rows — prepend semantics. */
  def recover(frontier: DataFrame): DataFrame =
    frontier.filter(col("state") === FrontierState.Processing)
      .withColumn("state", lit(FrontierState.Pending))
      .withColumn("priority", lit(FrontierState.RecoveryPriority))

  /** Candidate URLs → FrontierEntry rows, streamed per partition through
    * the same per-url derivation as `toEntriesLocal` (`entryOf`), so the
    * Spark gate, the driver gate and the parity oracle key every url
    * alike. Robots-disallowed urls enter directly as `failed` (terminal;
    * counted in the seen set). A null url fails the task: no feed emits
    * one (`initFromTextFile` and `streamSeeds` drop blank lines; `init`
    * and `searchBatchParallel` emit `Synth` urls). */
  def toEntries(spark: SparkSession, urls: Dataset[SeedUrl], batchNo: Long,
                seed: Long): DataFrame = {
    import spark.implicits._
    urls.mapPartitions(it => it.map(entryOf(batchNo, seed))).toDF()
  }

  /** `toEntries` for candidates already on the driver (the batch-bounded
    * enqueue). */
  def toEntriesLocal(urls: Seq[SeedUrl], batchNo: Long, seed: Long): Seq[FrontierEntry] =
    urls.map(entryOf(batchNo, seed))

  /** The url → entry derivation: the same row as `Hashing.fp`/`host` and
    * `Synth.hostPolicy`/`isDisallowed` give, with each url canonicalized
    * once (fp, host and path all derive from that string) and one policy
    * derivation per distinct host of the function's lifetime (a
    * partition, or a driver batch). */
  private def entryOf(batchNo: Long, seed: Long): SeedUrl => FrontierEntry = {
    val policies = scala.collection.mutable.HashMap.empty[String, HostPolicy]
    s => {
      val c = Hashing.canonicalize(s.url)
      val host = Hashing.canonicalHost(c)
      val dis = Synth.isDisallowedCanonical(c,
        policies.getOrElseUpdate(host, Synth.hostPolicy(host, seed)))
      FrontierEntry(Hashing.xx64(c), s.url, host, s.priority, s.seq,
        if (dis) FrontierState.Failed else FrontierState.Pending,
        if (dis) RobotsError else null, batchNo, -1L)
    }
  }

  private val RobotsError = "robots: disallowed"
}

/** Membership in a broadcast SORTED key array (binary search) — the
  * verify filter's predicate. */
private class SortedMember(keys: Broadcast[Array[Long]])
    extends (Long => Boolean) with Serializable {
  override def apply(fp: Long): Boolean =
    java.util.Arrays.binarySearch(keys.value, fp) >= 0
}
