package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** Iceberg-shaped snapshot table: Parquet data files + JSON manifests +
  * an atomically-renamed CURRENT pointer (SURVEY.md §4.2 — environment
  * has no Iceberg jar; interface kept narrow so a real catalog can
  * replace it).
  *
  * Storage model (designed for the 10^10-row frontier):
  *  - `base` files: immutable bulk data;
  *  - `delta` files: key-wise upserts, merge-on-read — a batch commit
  *    rewrites O(batch) rows, never the table (Iceberg-v2-style);
  *  - `compact()` folds deltas into a new base every few commits, so
  *    read amplification is bounded;
  *  - every commit records per-file lineage (rows/bytes/min/max key)
  *    plus a metrics map (north rule: per-partition lineage manifests).
  *
  * Every resolved read (`read`, `readAt`, `readStates`, compaction)
  * applies ONE merge-on-read rule (`resolve`): the latest version of a
  * key wins, and since base keys are disjoint (see the append contract
  * below), a base row survives exactly when no delta holds its key.
  * So the result is base ⋉̸ deltaKeys ∪ the latest delta rows that are
  * wanted — the resolution window runs over the since-compaction
  * deltas only, never over base rows.
  *
  * State-partitioned files (`tagCol`): when set, every data write is
  * split by that column's value and each file's manifest entry records
  * its tag — the Iceberg partition-by-lifecycle-state layout. Two scale
  * properties fall out:
  *  - `readStates(want)` resolves the merge-on-read view for the wanted
  *    states while reading FULL rows only from wanted-tag files; other
  *    DELTA files contribute just their key column (pruned scan) for
  *    shadowing, and other BASE files are skipped entirely. A frontier
  *    claim therefore stops paying a full 10^10-row scan per batch —
  *    the reference's pop reads only the queue head the same way
  *    (utils/csv_utils.py:286-299).
  *  - `frozenTags`: lifecycle states that are terminal (their keys are
  *    never upserted again — the crawl state machine is monotone).
  *    Compaction carries frozen-tag base files over UNTOUCHED and
  *    rewrites only active files, so compaction cost tracks the live
  *    working set, not the table's full history.
  *
  * Contract both optimizations lean on (and the engine guarantees via
  * its dedup gate): `commitAppend` only ever adds NEW keys, so base
  * files hold disjoint key sets. Deltas referencing only base-resident
  * keys is a PER-TABLE property, not a storage invariant: it holds for
  * tables whose appends are dedup-gated (the frontier), but a table
  * that takes insert-via-delta replays (the payload's post-crash
  * upserts) may carry delta keys no base file knows — see `readKeys`.
  *
  * Bucketed files (`bucketBy` = (column, n)): every write additionally
  * splits files by `pmod(hash(column), n)` and records the bucket in
  * the manifest — Iceberg's bucket partition transform. When the
  * bucketing column FUNCTIONALLY DETERMINES the key's co-access group
  * (frontier: fp → url → host, and a key's host never changes), both
  * merge-on-read resolution and any per-group computation are
  * bucket-local, so `bucketedStateScan` can hand each bucket to one
  * task and the consumer needs NO exchange at all (the claim path's
  * politeness rank runs entirely in-task). Min/max key stats are still
  * recorded per file but deliberately unused for pruning: keys are
  * uniform hashes, so ranges never discriminate — bucketing is the
  * pruning dimension that works for hash keys.
  *
  * Commit protocol (single-writer = the driver, same linearization the
  * reference got from its writer thread, utils/csv_utils.py:105-173):
  * stage data files under `.stage-<id>-*` → atomic-move them into
  * `data/` → write manifest json → atomic-rename CURRENT.
  * Crash between steps leaves the previous snapshot current (the
  * recovery suite exploits this).
  *
  * Two writers stage the data files, under that one protocol, with
  * the same file names, (tag, bucket) split, manifest entries and
  * parquet encoding (SnapshotTableSpec reads both back identically):
  *  - `writeData` (`commitAppend`/`commitUpsert`, compaction past the
  *    driver budget): a Spark write job, for rows that are distributed;
  *    its entries' row counts and key ranges come from the written
  *    footers;
  *  - `writeLocal` (`commitLocal`, compaction within the driver
  *    budget): Spark's parquet writer run on the driver over rows the
  *    driver holds, one file per (tag, bucket), no job; its entries'
  *    stats come from the rows. Every batch-bounded engine commit takes
  *    it: at batch sizes the job round trip, not the encoding, is most
  *    of a commit (512 rows: 193 ms as a job, 28 ms on the driver;
  *    CHANGES.md).
  *
  * Replaces: whole-file CSV sync (utils/csv_utils.py:83-101).
  */
final class SnapshotTable(spark: SparkSession, dir: String, keyCol: String,
                          tagCol: Option[String] = None,
                          frozenTags: Set[String] = Set.empty,
                          bucketBy: Option[(String, Int)] = None,
                          writeOptions: Map[String, String] = Map.empty,
                          cacheScans: Boolean = false) {

  import SnapshotTable._

  private val root: Path = Paths.get(dir)
  /** Filesystem root of the table (manifest `path`s are relative to it). */
  def tableRoot: String = dir
  private val dataDir = root.resolve("data")
  private val snapDir = root.resolve("snapshots")
  Files.createDirectories(dataDir)
  Files.createDirectories(snapDir)

  /** Physical-layout identity, persisted as manifest props on every
    * commit and REQUIRED to match on reopen: a table written under one
    * (tagCol, bucket column, bucket modulus) must never accept writes
    * or bucket-closed scans under another — e.g. reopening a bucketed
    * frontier with a different claimBuckets would write files under a
    * different modulus, splitting a key's base and delta files across
    * scan groups and silently breaking merge-on-read resolution.
    * (`frozenTags` is deliberately NOT part of the identity: freezing
    * is a compaction optimization whose correctness rests on the tag
    * being terminal, not on historical opens agreeing.) */
  private val layoutProps: Map[String, String] = Map(
    LayoutKeyProp -> keyCol,
    LayoutTagProp -> tagCol.getOrElse(""),
    LayoutBucketColProp -> bucketBy.map(_._1).getOrElse(""),
    LayoutBucketsProp -> bucketBy.map(_._2.toString).getOrElse("0"))

  private def validateLayout(m: Manifest): Unit =
    layoutProps.foreach { case (k, v) =>
      m.props.get(k).foreach(recorded => require(recorded == v,
        s"table $dir opened with $k='$v' but the manifest records '$recorded' — " +
          "tag/bucket layout is immutable once files are written"))
    }

  // fail fast on construction, not first commit: a mismatched open must
  // not serve even reads under the wrong bucket grouping
  currentManifest.foreach(validateLayout)

  def currentId: Option[Long] = {
    val cur = root.resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toLong) else None
  }

  /** Parsed-manifest memo: manifests are immutable once published, so
    * one entry per id is enough; keyed to the CURRENT id so a long
    * drain holds exactly one live entry (plus whatever time-travel
    * readers touch transiently — they bypass the memo). */
  @volatile private var manifestCache: (Long, Manifest) = null

  /** Resident state, bucket and key scans — only used when `cacheScans`
    * is on (the crawl frontier). */
  private val scans = new ScanCache

  def manifest(id: Long): Manifest = {
    val c = manifestCache
    if (c != null && c._1 == id) c._2
    else {
      val m = Manifest.parse(Files.readString(snapDir.resolve(f"snap-$id%06d.json")))
      manifestCache = (id, m)
      m
    }
  }

  /** The engine consults the manifest many times per batch (read plans,
    * size thresholds, props, commit parents); parsing the JSON each
    * time is O(files) work that grows with the table — memoized above. */
  def currentManifest: Option[Manifest] = currentId.map(manifest)

  /** Resolved view: base ∖ deltaKeys ∪ latest-per-key delta rows. */
  def read(): DataFrame = currentManifest match {
    case None => spark.emptyDataFrame
    case Some(m) => resolveAll(m)
  }

  def readAt(id: Long): DataFrame = resolveAll(manifest(id))

  def isEmpty: Boolean = currentManifest.forall(_.files.isEmpty)

  /** Every resolved row of `m`'s files. */
  private def resolveAll(m: Manifest): DataFrame = {
    val schema = StructType.fromDDL(m.schemaDdl)
    val (bases, deltas) = m.files.partition(_.kind == "base")
    resolve(schema, scanPaths(schema, bases.map(_.path)), deltas, _ => true)
  }

  /** THE merge-on-read rule: the resolved rows of `bases` (a scan of
    * base files) plus those of `deltas` whose latest version lives in a
    * `cand` file. Base keys are disjoint, so a base row survives iff no
    * delta holds its key; the latest version of a delta key wins.
    *  - no candidate delta: `bases` ⋉̸ the delta files' key column — one
    *    anti-join, no resolution window (the claim's steady state);
    *  - otherwise a `row_number` window over the DELTA files only
    *    (candidates with full rows, the rest key-only): `bases` ⋉̸ its
    *    keys ∪ its candidate rows.
    * The key side is broadcast when the deltas' manifest bytes fit
    * `ShadowBroadcastBytes` (full-row bytes, so conservative for a key
    * column): since-compaction deltas are O(few batches), and the base
    * side — the bulk — then never shuffles. */
  private def resolve(schema: StructType, bases: DataFrame, deltas: Seq[FileEntry],
                      cand: FileEntry => Boolean): DataFrame = {
    if (deltas.isEmpty) return bases
    val cols = schema.fieldNames.map(col).toSeq
    def survivors(shadow: DataFrame): DataFrame = {
      val keys = shadow.select(keyCol)
      val sh = if (deltas.map(_.bytes).sum <= ShadowBroadcastBytes) broadcast(keys) else keys
      bases.join(sh, Seq(keyCol), "left_anti").select(cols: _*)
    }
    if (!deltas.exists(cand)) return survivors(scanPaths(schema, deltas.map(_.path)))
    // keys are unique within a commit (upsert contract): no ties
    val w = Window.partitionBy(keyCol).orderBy(col("__delta_seq").desc)
    val latest = layered(schema, deltas, cand, keyOnlyOthers = true)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
    survivors(latest).unionByName(latest.filter(col("__cand")).select(cols: _*))
  }

  /** Union of `files`' rows, one scan per (deltaSeq, candidacy) layer,
    * each row tagged with its layer's `__delta_seq` and `__cand`. With
    * `keyOnlyOthers`, non-candidate files are read as their key column
    * only (a pruned scan), the other columns null. */
  private def layered(schema: StructType, files: Seq[FileEntry],
                      cand: FileEntry => Boolean = _ => true,
                      keyOnlyOthers: Boolean = false): DataFrame = {
    val nulls = schema.fields.filterNot(_.name == keyCol)
      .map(f => lit(null).cast(f.dataType).as(f.name)).toSeq
    files.groupBy(f => (f.deltaSeq, cand(f))).toSeq.sortBy(_._1).map {
      case ((seq, c), fs) =>
        val rows = scanPaths(schema, fs.map(_.path))
        (if (c || !keyOnlyOthers) rows else rows.select(col(keyCol) +: nulls: _*))
          .withColumn("__delta_seq", lit(seq))
          .withColumn("__cand", lit(c))
    }.reduce(_ unionByName _)
  }

  /** Parquet scan of manifest-relative `paths` (typed-empty when none). */
  private def scanPaths(schema: StructType, paths: Seq[String]): DataFrame =
    if (paths.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(paths.map(p => root.resolve(p).toString): _*)

  /** `scan(paths)`, served from the slot's resident entry when
    * `cacheScans` is on. */
  private def slotScan(slot: ScanCache.Slot, tags: Set[String], paths: Seq[String])
                      (scan: Seq[String] => DataFrame): DataFrame =
    if (cacheScans) scans.get(slot, tags, paths)(scan) else scan(paths)

  /** Every file of a `tagCol` table is written tagged (`writeData`), so
    * the wanted files are exactly the wanted-tag files. */
  def statesReadPlan(wantTags: Set[String]): ReadPlan = {
    val files = currentManifest.map(_.files).getOrElse(Seq.empty)
    val (full, other) = files.partition(f => wantTags(f.tag))
    val (shadow, skipped) = other.partition(_.deltaSeq > 0)
    ReadPlan(full, shadow, skipped)
  }

  /** Resolved rows whose CURRENT version carries one of `wantTags` —
    * equal to `read().filter(tagCol isin wantTags)` (property-tested),
    * but executed with the pruned plan above: at design scale a
    * pending-state claim reads the pending files plus the key columns
    * of the few since-last-compaction deltas, never the 10^10 rows of
    * terminal history. */
  def readStates(wantTags: Set[String]): DataFrame = {
    if (tagCol.isEmpty)
      throw new IllegalStateException("readStates requires a tagCol-partitioned table")
    val m = currentManifest.getOrElse(return spark.emptyDataFrame)
    val schema = StructType.fromDDL(m.schemaDdl)
    val plan = statesReadPlan(wantTags)
    if (plan.full.isEmpty) return scanPaths(schema, Nil)
    val (wantedDeltas, wantedBases) = plan.full.partition(_.deltaSeq > 0)
    // the wanted-base scan is CACHE-RESIDENT (cacheScans; the crawl
    // frontier) only while no wanted-tag delta exists — the claim's
    // steady state, whose base set changes only on an append or a
    // compaction. Other wanted sets (terminal history, recovery
    // re-pends) stay plain scans: the frozen bulk must never be resident.
    val baseDf =
      if (wantedDeltas.isEmpty)
        slotScan(ScanCache.States, wantTags, wantedBases.map(_.path))(scanPaths(schema, _))
      else scanPaths(schema, wantedBases.map(_.path))
    // a wanted-tag file's rows all match by construction
    resolve(schema, baseDf, wantedDeltas ++ plan.shadowKeys, f => wantTags(f.tag))
  }

  /** Per-bucket pruned state scan for bucket-local consumers: for each
    * participating bucket, ONE single-partition DataFrame holding the
    * bucket's wanted-tag rows (full columns, `__cand` true) plus its
    * other-tag DELTA rows (they shadow wanted rows by key; `__cand`
    * false), each row carrying `__delta_seq`. Other-tag BASE files are
    * skipped exactly like `readStates`. Because a key's bucket never
    * changes (bucket = hash of a key-determined column), merge-on-read
    * resolution is closed within the bucket, so a downstream
    * `mapPartitions` gets one task per bucket with everything it needs
    * — no exchange.
    *
    * DELTA files are written UNBUCKETED (r6): the per-(tag, bucket)
    * delta split made every state-flip commit write O(B) near-empty
    * files, and the per-batch fixed costs of those files (move, footer
    * stat, manifest row, scan open) dominated the bucketed drain. Each
    * bucket's task instead re-derives its delta slice in-task with the
    * SAME `pmod(hash(bucketCol), B)` expression the writer uses for
    * base files — a narrow filter, still zero exchanges. Deltas are
    * since-compaction-small by the compaction invariant, so the B-fold
    * delta re-read is bounded (and page-cached). */
  def bucketedStateScan(wantTags: Set[String]): Seq[(Int, DataFrame)] = {
    require(tagCol.isDefined && bucketBy.isDefined,
      "bucketedStateScan requires tagCol and bucketBy")
    val m = currentManifest.getOrElse(return Seq.empty)
    val schema = StructType.fromDDL(m.schemaDdl)
    val (bases, deltas) = m.files.partition(_.kind == "base")
    require(bases.forall(_.bucket >= 0),
      s"bucketedStateScan over a table with unbucketed base files")
    val (srcCol, nBuckets) = bucketBy.get
    // ALL since-compaction delta rows as ONE pinned frame, bucket
    // precomputed: each delta file is decoded ONCE per claim; the 16
    // per-bucket branches then apply a narrow in-memory filter. (The
    // naive shape — every bucket re-scanning every delta file — decoded
    // the delta set B times per claim; the pre-r6 per-(tag,bucket)
    // delta files avoided that but wrote O(B) files per commit, whose
    // fixed costs dominated the bucketed drain instead.) Lazy
    // checkpoint: the claim job itself materializes it.
    val deltaUnion: Option[DataFrame] =
      if (deltas.isEmpty) None
      else Some(layered(schema, deltas, f => wantTags(f.tag))
        .withColumn("__b", pmod(hash(col(srcCol)), lit(nBuckets)))
        .localCheckpoint(false))
    val wantedBases = bases.filter(f => wantTags(f.tag)).groupBy(_.bucket)
    // a bucket participates if it has wanted base rows; when a wanted-
    // tag DELTA exists (recovery re-pends — rare), its rows' buckets
    // are unknowable from the manifest, so every bucket participates
    val bucketIds: Seq[Int] =
      if (deltas.exists(f => wantTags(f.tag))) (0 until nBuckets)
      else wantedBases.keys.toSeq.sorted
    // a bucket whose wanted base files all left the manifest (its rows
    // went terminal and compacted away) no longer participates: its
    // resident scan would otherwise outlive its files
    scans.retainBuckets(wantedBases.contains)
    bucketIds.sorted.flatMap { b =>
      // per-bucket base scan, cache-resident (the bucketed twin of the
      // readStates fast-path cache): without it every claim re-decoded
      // the whole pending set
      val baseDf = wantedBases.get(b).map(fs =>
        slotScan(ScanCache.Bucket(b), wantTags, fs.map(_.path))(scanPaths(schema, _))
          .withColumn("__delta_seq", lit(0L))
          .withColumn("__cand", lit(true)))
      val deltaDf = deltaUnion.map(_.filter(col("__b") === b).drop("__b"))
      val parts = baseDf.toSeq ++ deltaDf.toSeq
      if (parts.isEmpty) None
      else Some(b -> parts.reduce(_ unionByName _).coalesce(1))
    }
  }

  /** Every key in the table — base files only, no resolution window,
    * single pruned column; cache-resident when `cacheScans` is on (the
    * frontier's dedup gate verifies against it every batch, and the
    * base-file set only changes on an append or a compaction). VALID
    * ONLY for tables where every key enters through an append (the
    * dedup-gated frontier, its sole consumer):
    * on a table that replays inserts through upserts (e.g. the payload
    * after a crash, whose recovered rows commit as deltas), this scan
    * silently misses the delta-only keys. */
  def readKeys(): DataFrame = currentManifest match {
    case None => spark.emptyDataFrame
    case Some(m) =>
      val schema = StructType.fromDDL(m.schemaDdl)
      val bases = m.files.filter(_.kind == "base").map(_.path)
      if (bases.isEmpty) scanPaths(schema, Nil).select(keyCol)
      else slotScan(ScanCache.Keys, Set.empty, bases)(scanPaths(schema, _).select(keyCol))
  }

  /** UNresolved view: every live file's rows + a `__delta_seq` column
    * (base = 0, delta = its commit id). External engines re-derive the
    * merge-on-read resolution independently: latest __delta_seq per key
    * wins — this is what the Verify dump hands to the DuckDB oracle so
    * the driver checks our resolution logic, not just our projection. */
  def readRaw(): DataFrame = currentManifest match {
    case None => spark.emptyDataFrame
    case Some(m) => readRawOf(m)
  }

  /** Raw view of a HISTORICAL snapshot (time travel): the manifest's
    * own file list, so a resolver over this dump reproduces the table
    * exactly as of snapshot `id`. Valid for any snapshot `expire` has
    * retained — retained manifests pin their data files. */
  def readRawAt(id: Long): DataFrame = readRawOf(manifest(id))

  private def readRawOf(m: Manifest): DataFrame =
    if (m.files.isEmpty) spark.emptyDataFrame
    else layered(StructType.fromDDL(m.schemaDdl), m.files).drop("__cand")

  /** METADATA TABLE (Iceberg `table.files` parity): the current
    * manifest's per-file lineage — kind, commit (deltaSeq), rows,
    * bytes, key range, lifecycle tag, bucket — as a queryable
    * DataFrame. Driver-side construction is correct here for the same
    * reason it is in Iceberg: this is metadata, bounded by file count
    * (compaction + expire keep it O(active set)), not data. The q50
    * oracle re-derives it in DuckDB by independently parsing the
    * manifest JSON files, so the STORAGE FORMAT itself is gated. */
  def filesMetadata(spark2: SparkSession): DataFrame = {
    import spark2.implicits._
    currentManifest match {
      case None => spark2.emptyDataset[(Long, String, String, Long, Long, Long, String, Long)]
        .toDF("snap_id", "path", "kind", "delta_seq", "rows", "bytes", "tag", "bucket")
      case Some(m) =>
        m.files.map(f => (m.id, f.path, f.kind, f.deltaSeq, f.rows, f.bytes,
          f.tag, f.bucket.toLong)).toDF(
          "snap_id", "path", "kind", "delta_seq", "rows", "bytes", "tag", "bucket")
    }
  }

  /** METADATA TABLE (Iceberg `table.history`/`snapshots` parity): one
    * row per RETAINED snapshot — id, parent, file/row/byte totals and
    * the commit's metrics map (flattened to sorted `k=v` pairs so the
    * row is hashable cross-engine). */
  def historyMetadata(spark2: SparkSession): DataFrame = {
    import spark2.implicits._
    val ids = retainedSnapshotIds
    ids.map { id =>
      val m = manifest(id)
      (m.id, m.parent.getOrElse(-1L), m.files.size.toLong,
        m.files.map(_.rows).sum, m.files.map(_.bytes).sum,
        // explicit Locale.ROOT (ADVICE r4): the f interpolator uses the
        // default locale — a comma-decimal locale would change this
        // hashable cross-engine metrics string ("batch=1,0")
        m.metrics.toSeq.sortBy(_._1).map { case (k, v) =>
          String.format(java.util.Locale.ROOT, "%s=%.1f", k, Double.box(v))
        }.mkString(","))
    }.toDF("snap_id", "parent_id", "n_files", "total_rows", "total_bytes", "metrics")
  }

  /** Ids of every snapshot json still on disk (ascending). */
  def retainedSnapshotIds: Seq[Long] =
    Files.list(snapDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("snap-"))
      .map(s => s.stripPrefix("snap-").stripSuffix(".json").toLong).toSeq.sorted

  /** Filesystem paths of the retained snapshot manifests + the CURRENT
    * pointer — what Verify copies next to the dumps so the q50 oracle
    * can parse the storage format independently. */
  def manifestFiles: Seq[Path] =
    retainedSnapshotIds.map(id => snapDir.resolve(f"snap-$id%06d.json")) :+
      root.resolve("CURRENT")

  /** Append new rows (new keys) as base files. */
  def commitAppend(df: DataFrame, metrics: Map[String, Double] = Map.empty,
                   props: Map[String, String] = Map.empty): Long =
    commit(df.schema, kind = "base", metrics, props)(writeData(df, _, _, _))

  /** Upsert rows by key as a merge-on-read delta. */
  def commitUpsert(df: DataFrame, metrics: Map[String, Double] = Map.empty,
                   props: Map[String, String] = Map.empty): Long =
    commit(df.schema, kind = "delta", metrics, props)(writeData(df, _, _, _))

  /** `commitAppend` (or, with `upsert`, `commitUpsert`) of rows held on
    * the driver, written by the driver: no Spark job. Same file names,
    * footers, manifest entries (all but `bytes`) and reads as the Spark
    * writer gives for these rows (SnapshotTableSpec), so it is for
    * writes whose rows are already on the driver and bounded — a
    * few-file commit of a batch is then a few milliseconds of encoding
    * instead of a job round trip. */
  def commitLocal(data: LocalRows, upsert: Boolean = false,
                  metrics: Map[String, Double] = Map.empty,
                  props: Map[String, String] = Map.empty): Long =
    commit(data.schema, kind = if (upsert) "delta" else "base", metrics, props)(
      writeLocal(data, _, _, _))

  /** Fold deltas into a fresh base when read amplification grows.
    * The trigger counts distinct delta COMMITS (deltaSeq values), not
    * delta files: read amplification scales with the number of
    * merge-on-read layers, while tag/bucket splitting multiplies the
    * files per commit (a 16-bucket table writes ~2×16 files per delta
    * commit — a per-file trigger would compact every single batch and
    * rewrite the active set each time). Frozen-tag base files
    * (terminal lifecycle states — never upserted again) carry over
    * UNTOUCHED: compaction cost is O(active set), not O(table), over a
    * long drain.
    *
    * The rewrite takes one of two paths, with the same files, manifest
    * entries (all but `bytes`) and reads (SnapshotTableSpec):
    *  - an active set (active bases, deltas, folded small frozen files)
    *    within the driver budget — at most `LocalCommitMaxRows` rows and
    *    `LocalCommitMaxBytes` on disk by the manifest's own counts — is
    *    read, resolved and written on the driver (`resolveLocal`, then
    *    `writeLocal`): no Spark job (timings at `LocalCommitMaxRows`);
    *  - a bigger one is resolved by `resolveAll` and written by a Spark
    *    write job sized by its bytes, the only path that scales to a
    *    design-size active set. */
  def compactIfNeeded(maxDeltaCommits: Int = 8,
                      metrics: Map[String, Double] = Map.empty): Option[Long] =
    compactIfNeeded(maxDeltaCommits, metrics, LocalCommitMaxRows)

  /** `compactIfNeeded` with the driver path's row bound as a parameter
    * (0 sends every non-empty active set to the Spark path). */
  private[graft] def compactIfNeeded(maxDeltaCommits: Int, metrics: Map[String, Double],
                                     maxLocalRows: Int): Option[Long] =
    currentManifest match {
      case Some(m) if {
        val deltas = m.files.filter(_.kind == "delta")
        val commits = deltas.map(_.deltaSeq).distinct.size
        // commit-count gate AND a rows-proportional gate: compaction
        // rewrites the whole active set, so firing on commit count alone
        // makes per-batch compaction work grow with table fill (the
        // 300k-drain's falling-throughput term — a fixed batch cadence
        // rewriting an O(pending) set). Requiring the delta volume to
        // reach a fraction of the active set makes the rewrite
        // amortized-proportional to the rows actually folded — flat
        // with fill. The 3× commit hard bound still caps merge-on-read
        // layering (claim shadow size, plan width) regardless of volume.
        commits > maxDeltaCommits && {
          val deltaRows = deltas.map(_.rows).sum
          val activeRows = m.files.filterNot(f =>
            f.kind == "base" && f.tag.nonEmpty && frozenTags(f.tag)).map(_.rows).sum
          deltaRows * 5 >= activeRows || commits > maxDeltaCommits * 3
        }
      } =>
        validateLayout(m)
        val (frozen0, active0) = m.files.partition(f =>
          f.kind == "base" && f.tag.nonEmpty && frozenTags(f.tag))
        // LSM-style bin-packing of SMALL frozen files: terminal-state
        // bases are never upserted, but each compaction adds a fresh
        // small terminal file — carried untouched forever, the per-batch
        // key/claim scans reopen O(compactions) files over a long drain.
        // Folding a tag's small files (< target/8) back into the rewrite
        // once it has ≥4 of them keeps file count O(bytes/target) at
        // O(log) amortized rewrites per row; files at target size are
        // never rewritten again, preserving the O(active set) compaction
        // guarantee.
        val foldable = frozen0.filter(_.bytes < TargetFileBytes / 8)
          .groupBy(_.tag).filter(_._2.size >= 4).values.flatten.toSet
        val frozen = frozen0.filterNot(foldable)
        val active = active0 ++ foldable
        val schema = StructType.fromDDL(m.schemaDdl)
        val nextId = m.id + 1
        val activeBytes = active.map(_.bytes).sum
        val rewritten =
          if (active.map(_.rows).sum <= maxLocalRows && activeBytes <= LocalCommitMaxBytes &&
              LocalKeyTypes(schema(keyCol).dataType))
            writeLocal(resolveLocal(schema, active), nextId, "base", 0L)
          else {
            // output files sized by the rewrite's bytes (~128 MB target):
            // the resolution plan ends in O(shuffle partitions) tasks, so
            // an unsized write emits ~32 files per tag per compaction and
            // the claim/readKeys scans then reopen O(compactions × 32)
            // files per batch — the measured growth term of the 300k-seed
            // drain. repartition, NOT coalesce: coalesce(1) collapsed the
            // whole resolve (scan + anti-join + delta window) into one
            // task — measured 2.5-4.5 s lane stalls per compaction at
            // 300k fill; the round-robin exchange moves O(active) small
            // rows and keeps the resolve at full width with only the
            // write narrow.
            val nOut = math.max(1L, math.min(1024L, activeBytes / TargetFileBytes + 1)).toInt
            writeData(resolveAll(m.copy(files = active)).repartition(nOut), nextId, "base", 0L)
          }
        val files = frozen ++ rewritten
        val man = Manifest(nextId, Some(m.id), m.schemaDdl, files,
          metrics + ("compacted" -> 1.0), m.props ++ layoutProps)
        publish(man)
        Some(nextId)
      case _ => None
    }

  /** The commit protocol both writers share: `write(snapId, kind,
    * deltaSeq)` stages and moves the data files, then the manifest is
    * published and CURRENT renamed. */
  private def commit(schema: StructType, kind: String, metrics: Map[String, Double],
                     props: Map[String, String])
                    (write: (Long, String, Long) => Seq[FileEntry]): Long = {
    val parent = currentManifest
    parent.foreach(validateLayout)
    val nextId = parent.map(_.id + 1).getOrElse(0L)
    val schemaDdl = parent.map(_.schemaDdl).getOrElse(schema.toDDL)
    val deltaSeq = if (kind == "delta") nextId else 0L
    val newFiles = write(nextId, kind, deltaSeq)
    val files = parent.map(_.files).getOrElse(Seq.empty) ++ newFiles
    // layoutProps merged LAST (ADVICE r4): a caller-supplied prop
    // colliding with a layout.* key must never shadow the persisted
    // layout identity that validateLayout enforces
    val man = Manifest(nextId, parent.map(_.id), schemaDdl, files, metrics,
      parent.map(_.props).getOrElse(Map.empty) ++ props ++ layoutProps)
    publish(man)
    nextId
  }

  def getProp(key: String): Option[String] = currentManifest.flatMap(_.props.get(key))

  /** Restore CURRENT to an older snapshot (rollback). */
  def restore(id: Long): Unit = {
    require(Files.exists(snapDir.resolve(f"snap-$id%06d.json")), s"no snapshot $id")
    writeCurrent(id)
  }

  /** Drop snapshots older than the newest `keepLast`, deleting data
    * files no retained snapshot references. */
  def expire(keepLast: Int): Unit = {
    val ids = retainedSnapshotIds
    val (drop, keep) = ids.splitAt(math.max(0, ids.length - keepLast))
    if (drop.isEmpty) return
    val referenced = keep.flatMap(id => manifest(id).files.map(_.path)).toSet
    drop.foreach { id =>
      manifest(id).files.map(_.path).filterNot(referenced).foreach { p =>
        Files.deleteIfExists(root.resolve(p))
      }
      Files.deleteIfExists(snapDir.resolve(f"snap-$id%06d.json"))
    }
  }

  // ---- internals -------------------------------------------------------

  private def writeData(df: DataFrame, snapId: Long, kind: String,
                        deltaSeq: Long): Seq[FileEntry] = {
    val tmp = Files.createTempDirectory(root, s".stage-$snapId-")
    try {
      // duplicate partition columns: partitionBy drops them from data
      // files, but readers want the real columns in-row.
      // Only BASE files are bucket-split (r6): bucket-closure of the
      // claim needs the BULK data (pending bases) pre-sliced; deltas
      // are since-compaction-small and re-sliced in-task by
      // bucketedStateScan, so splitting every state-flip commit into
      // O(B) near-empty files bought nothing and its per-file fixed
      // costs (move, footer stat, manifest row, scan open) were the
      // bucketed drain's dominant term.
      val bucketThis = bucketBy.isDefined && kind == "base"
      var out = df
      tagCol.foreach(tc => out = out.withColumn("__tag", col(tc)))
      if (bucketThis) bucketBy.foreach { case (src, n) =>
        out = out.withColumn("__bucket", pmod(hash(col(src)), lit(n)))
      }
      val partCols = tagCol.map(_ => "__tag").toSeq ++
        (if (bucketThis) Seq("__bucket") else Nil)
      // bucketed base writes: ONE file per (tag, bucket) per commit.
      // Without this, partitionBy splits every writer task's rows across
      // all its (tag, bucket) combinations — a B-bucket table writes
      // O(tasks·B) near-empty files per append, and the per-file fixed
      // costs dominate. The extra exchange is O(batch) rows; each group
      // hashes to exactly one partition, so the writer emits exactly one
      // file per group. Tag-only writes stay with the caller's
      // partitioning: the handful of tags present bounds their file
      // count already.
      if (bucketThis)
        out = out.repartition(partCols.map(col): _*)
      val writer = out.write.mode("overwrite").options(writeOptions)
      if (partCols.isEmpty) writer.parquet(tmp.toString)
      else writer.partitionBy(partCols: _*).parquet(tmp.toString)
      val parts: Seq[Staged] =
        Files.walk(tmp).iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            val rel = tmp.relativize(p)
            var tag = ""; var bucket = -1
            (0 until rel.getNameCount - 1).foreach { i =>
              val seg = rel.getName(i).toString
              if (seg.startsWith("__tag="))
                tag = SnapshotTable.unescapePathName(seg.stripPrefix("__tag="))
              else if (seg.startsWith("__bucket="))
                bucket = seg.stripPrefix("__bucket=").toInt
            }
            Staged(tag, bucket, p)
          }.toSeq
      // footer reads are independent metadata IO — serial reads were a
      // measurable slice of the per-batch fixed cost at 32-file commits;
      // the pool is shared (a crawl batch commits 5-6 times — per-commit
      // pool churn would be thousands of short-lived threads per drain)
      place(parts, snapId, kind, deltaSeq).map { case (s, name, dest) =>
        SnapshotTable.footerPool.submit(new java.util.concurrent.Callable[FileEntry] {
          override def call(): FileEntry = entry(s, name, dest, kind, deltaSeq, footerStats(dest))
        })
      }.map(_.get())
    } finally clearStage(tmp)
  }

  private def sessionState =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The merge-on-read rule of `resolve`, applied on the driver to
    * `files` (one manifest's bases and deltas): each file is read by
    * Spark's parquet reader as a scan task reads it, a base row survives
    * iff no delta holds its key (a null key never matches, as in the
    * anti-join), and the highest-`deltaSeq` version of a delta key wins.
    * The rows are laid out by `schema` with every column nullable, as
    * `resolveAll`'s frame holds them. */
  private def resolveLocal(schema: StructType, files: Seq[FileEntry]): LocalRows = {
    val out = StructType(schema.fields.map(_.copy(nullable = true)))
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(spark, out, new StructType(),
      out, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), sessionState.newHadoopConf())
    // the reader reuses its row: each one is copied before it is kept
    def rows(f: FileEntry): Iterator[InternalRow] = {
      val p = root.resolve(f.path)
      val size = Files.size(p)
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p.toString), 0L, size,
        fileSize = size)).map(_.copy())
    }
    val k = out.fieldIndex(keyCol)
    val kt = out(k).dataType
    val (bases, deltas) = files.partition(_.kind == "base")
    val latest = new java.util.HashMap[Any, InternalRow]()
    deltas.sortBy(_.deltaSeq).foreach(rows(_).foreach(r => latest.put(r.get(k, kt), r)))
    val survivors = bases.iterator.flatMap(rows)
      .filter(r => r.isNullAt(k) || !latest.containsKey(r.get(k, kt)))
    LocalRows(out, survivors.toVector ++ latest.values.asScala)
  }

  /** The driver writer behind `commitLocal`: one file per (tag, bucket)
    * group — the groups `writeData` splits by, with the bucket from the
    * same `pmod(hash(col), n)` expression evaluated on the row — encoded
    * by Spark's own parquet writer (`ParquetFileFormat.prepareWrite` with
    * the table's write options, as a `df.write` task sets it up), so
    * types, nullability and footer metadata are what `writeData` writes.
    * Rows, min and max key come from the rows, not from a footer read. */
  private def writeLocal(data: LocalRows, snapId: Long, kind: String,
                         deltaSeq: Long): Seq[FileEntry] = {
    val schema = data.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val keyType = schema(keyIdx).dataType
    require(LocalKeyTypes(keyType), s"commitLocal: key type $keyType has no local key stats")
    currentManifest.foreach { m =>
      def shape(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
      require(shape(StructType.fromDDL(m.schemaDdl)) == shape(schema),
        s"commitLocal rows (${schema.toDDL}) do not match the table (${m.schemaDdl})")
    }
    val tagOf: InternalRow => String = tagCol match {
      case None => _ => ""
      case Some(tc) =>
        val i = schema.fieldIndex(tc)
        require(schema(i).dataType == StringType, s"commitLocal: tag column $tc is not a string")
        // null and "" land in Spark's default partition, as with partitionBy
        r => if (r.isNullAt(i) || r.getUTF8String(i).numBytes == 0) DefaultPartition
             else r.getUTF8String(i).toString
    }
    val bucketOf: InternalRow => Int = bucketBy match {
      case Some((src, n)) if kind == "base" =>
        val i = schema.fieldIndex(src)
        val e = Pmod(new Murmur3Hash(Seq(BoundReference(i, schema(i).dataType, nullable = true))),
          Literal(n))
        r => e.eval(r).asInstanceOf[Int]
      case _ => _ => -1
    }
    val groups = data.rows.groupBy(r => (tagOf(r), bucketOf(r))).toSeq.sortBy(_._1)
    val tmp = Files.createTempDirectory(root, s".stage-$snapId-")
    try {
      val conf = sessionState.newHadoopConfWithOptions(writeOptions)
      val job = org.apache.hadoop.mapreduce.Job.getInstance(conf)
      job.setOutputKeyClass(classOf[Void])
      job.setOutputValueClass(classOf[InternalRow])
      val factory = new ParquetFileFormat().prepareWrite(spark, job, writeOptions, schema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration, LocalAttempt)
      val staged = groups.zipWithIndex.map { case (((tag, bucket), rows), i) =>
        val s = Staged(tag, bucket, tmp.resolve(f"part-$i%05d.parquet"))
        val w = factory.newInstance(s.file.toString, schema, ctx)
        try rows.foreach(w.write)
        catch { case t: Throwable =>
          try w.close() catch { case c: Throwable => t.addSuppressed(c) }
          throw t
        }
        w.close()
        s -> keyStats(rows, keyIdx, keyType)
      }.toMap
      place(staged.keys.toSeq, snapId, kind, deltaSeq).map { case (s, name, dest) =>
        entry(s, name, dest, kind, deltaSeq, staged(s))
      }
    } finally clearStage(tmp)
  }

  /** (rows, min key, max key) of one file's rows, as `footerStats` reads
    * them from a footer: numbers in numeric order, strings as unsigned
    * UTF-8 bytes (the order parquet statistics keep, and `UTF8String`'s),
    * "" when no row has a key. */
  private def keyStats(rows: Seq[InternalRow], i: Int, t: DataType): (Long, String, String) = {
    val keys = rows.iterator.filterNot(_.isNullAt(i))
    if (!keys.hasNext) (rows.size.toLong, "", "")
    else t match {
      case StringType =>
        val ks = keys.map(_.getUTF8String(i)).toSeq
        (rows.size.toLong, ks.min.toString, ks.max.toString)
      case _ =>
        val ks = keys.map(r => if (t == LongType) r.getLong(i) else r.getInt(i).toLong).toSeq
        (rows.size.toLong, ks.min.toString, ks.max.toString)
    }
  }

  /** The tail both writers share: moves each staged file into `data/`
    * under its snapshot name, numbered in (tag, bucket, staged name)
    * order. Returns (staged, name, moved path) in that order. */
  private def place(staged: Seq[Staged], snapId: Long,
                    kind: String, deltaSeq: Long): Seq[(Staged, String, Path)] = {
    val moved = scala.collection.mutable.ArrayBuffer.empty[Path]
    try staged.sortBy(s => (s.tag, s.bucket, s.file.getFileName.toString)).zipWithIndex.map {
      case (s, i) =>
        val tagPart = if (s.tag.isEmpty) "" else "-" + s.tag.filter(_.isLetterOrDigit)
        val bucketPart = if (s.bucket < 0) "" else s"-b${s.bucket}"
        val name = f"snap-$snapId%06d-$kind$tagPart$bucketPart-part-$i%05d.parquet"
        val dest = dataDir.resolve(name)
        Files.move(s.file, dest, StandardCopyOption.ATOMIC_MOVE)
        moved += dest
        (s, name, dest)
    } catch { case t: Throwable =>
      // a failed move takes back the files already moved: no manifest
      // will list them, and `expire` only deletes listed files
      moved.foreach(p => try Files.deleteIfExists(p) catch { case c: Throwable => t.addSuppressed(c) })
      throw t
    }
  }

  private def entry(s: Staged, name: String, dest: Path, kind: String, deltaSeq: Long,
                    stats: (Long, String, String)): FileEntry =
    FileEntry(s"data/$name", kind, deltaSeq, stats._1, Files.size(dest), stats._2, stats._3,
      s.tag, s.bucket)

  /** Deletes a stage dir and whatever a writer left in it (_SUCCESS,
    * crc files, the files of an aborted commit). */
  private def clearStage(tmp: Path): Unit =
    Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))

  /** Per-file lineage from the parquet footer — rowCount always, plus
    * min/max of the key column when its statistics are present. Costs
    * a metadata read, zero Spark jobs (the Iceberg approach). */
  private def footerStats(file: Path): (Long, String, String) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file.toString), SnapshotTable.footerConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val rows = blocks.map(_.getRowCount).sum
      val colStats = blocks.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == keyCol).map(_.getStatistics))
        .filter(s => s != null && !s.isEmpty)
      if (colStats.isEmpty) (rows, "", "")
      else {
        val mins = colStats.map(_.genericGetMin.asInstanceOf[AnyRef])
        val maxs = colStats.map(_.genericGetMax.asInstanceOf[AnyRef])
        def fmt(vs: Seq[AnyRef], max: Boolean): String = vs.headOption match {
          case Some(_: java.lang.Long) | Some(_: java.lang.Integer) =>
            val ls = vs.map(_.toString.toLong)
            (if (max) ls.max else ls.min).toString
          case Some(_: org.apache.parquet.io.api.Binary) =>
            val ss = vs.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            if (max) ss.max else ss.min
          case _ => ""
        }
        (rows, fmt(mins.toSeq, max = false), fmt(maxs.toSeq, max = true))
      }
    } finally reader.close()
  }

  private def publish(m: Manifest): Unit = {
    val tmp = snapDir.resolve(f".snap-${m.id}%06d.json.tmp")
    Files.writeString(tmp, m.toJson)
    Files.move(tmp, snapDir.resolve(f"snap-${m.id}%06d.json"),
      StandardCopyOption.ATOMIC_MOVE)
    writeCurrent(m.id)
    // seed the memo: the very next currentManifest call is usually the
    // same batch reading back what it just committed
    manifestCache = (m.id, m)
  }

  private def writeCurrent(id: Long): Unit = {
    val tmp = root.resolve(".CURRENT.tmp")
    Files.writeString(tmp, id.toString)
    Files.move(tmp, root.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}

object SnapshotTable {

  /** Compaction output target file size: rewrites coalesce to
    * ceil(bytes/target) files so scans open O(bytes/target) files, not
    * O(compactions × shuffle partitions). */
  val TargetFileBytes: Long = 128L << 20

  /** The table layer's driver budget in rows: the most rows a
    * batch-bounded write holds on the driver — `CrawlEngine.enqueue`'s
    * Spark-gate survivors committed by `commitLocal`, and the active set
    * a compaction resolves and writes on the driver (`compactIfNeeded`,
    * which also caps its bytes at `LocalCommitMaxBytes`). The driver
    * holds each enqueue survivor twice while it commits, as the
    * collected `FrontierEntry` and as its encoded row: 477 B per
    * survivor (`SizeEstimator` over 65,536 seed-list rows, 4-core box),
    * so the 64 MB driver budget holds ~140k; rounded down to 2^17 =
    * 131,072 (62.5 MB). A seed-ingest batch (~40k survivors) fits; a
    * first bulk ingest of 10^9 seeds does not. Below it a commit is
    * cheaper on the driver at every measured size: 512 rows 28 ms
    * against 193 ms for the Spark write, 40k rows 94 ms against 274 ms
    * (CHANGES.md). A compaction within the bound holds its active set
    * on the driver once, as resolved rows: 373 B a row (`SizeEstimator`
    * over the resolved rows of a frontier active set: one pending base
    * and two 512-row deltas, ~40-char urls; 4-core box), 48.5 MB at
    * 2^17 rows. It is the faster path at every measured size (median
    * of 7 alternating reps after 2 warm-ups, adaptive execution off as
    * in a drain): 100 ms against 444 ms for the Spark resolve and write
    * at 30,000 active rows (drain-deep's frontier), 237 ms against
    * 592 ms at 2^17. */
  val LocalCommitMaxRows: Int = 1 << 17

  /** The driver budget in on-disk bytes of a compaction's active set:
    * 64 MB, so a payload compaction (~64 KB PNG rows, ~1k rows to the
    * budget) stays a Spark job. */
  val LocalCommitMaxBytes: Long = 64L << 20

  /** Manifest-bytes bound under which a pruned state read broadcasts
    * the since-compaction shadow keys (full-row bytes — conservative
    * for a single-column scan). */
  val ShadowBroadcastBytes: Long = 64L << 20

  /** Max files the incremental scan cache (`ScanCache`) will union onto
    * a cached scan before forcing a full re-cache — a backstop; compaction
    * (which rewrites paths and forces the rebuild anyway) normally
    * fires well inside this bound. */
  val IncrementalScanMaxFiles: Int = 64

  /** Manifest prop keys recording the physical layout (see
    * `layoutProps` above — immutable once written). */
  val LayoutKeyProp = "layout.key"
  val LayoutTagProp = "layout.tagCol"
  val LayoutBucketColProp = "layout.bucketCol"
  val LayoutBucketsProp = "layout.buckets"

  /** Inverse of Spark's partition-path escaping (%XX sequences only).
    * NOT URLDecoder: that would turn a literal '+' in a tag value into
    * a space — Spark never encodes '+', so a tag like "a+b" would be
    * recorded corrupted and readStates would silently skip its files. */
  private[table] def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        val code = try Integer.parseInt(s.substring(i + 1, i + 3), 16)
                   catch { case _: NumberFormatException => -1 }
        if (code >= 0) { sb.append(code.toChar); i += 3 }
        else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Shared daemon pool for manifest footer reads (driver-side
    * metadata IO, bounded at 8 threads process-wide). */
  private[table] lazy val footerPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(8,
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger()
        override def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"snapshot-footer-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })

  /** The Hadoop configuration every footer read opens its file with.
    * Built once (a `Configuration` loads its default resources on first
    * use) and never mutated, so the footer pool's threads only read it. */
  private lazy val footerConf = new org.apache.hadoop.conf.Configuration()

  /** Rows held on the driver, as `commitLocal` takes them: `rows` laid
    * out by `schema`. */
  final case class LocalRows(schema: StructType, rows: Seq[InternalRow])

  object LocalRows {
    /** Encodes driver-held `T` values as `LocalRows`: the rows and schema
      * `spark.createDataset(values)` holds, its columns renamed to
      * `names` when given (as `toDF(names)` does). Build it once per
      * type and reuse it — deriving the encoder and generating its
      * projection cost more than encoding a batch; each thread gets its
      * own projection, whose output row is reused. */
    def encoder[T: Encoder](names: String*): Seq[T] => LocalRows = {
      val enc = org.apache.spark.sql.catalyst.encoders.encoderFor[T]
      val schema =
        if (names.isEmpty) enc.schema
        else StructType(enc.schema.fields.zip(names).map { case (f, n) => f.copy(name = n) })
      val ser = ThreadLocal.withInitial[ExpressionEncoder.Serializer[T]](() => enc.createSerializer())
      values => {
        val s = ser.get()
        LocalRows(schema, values.map(v => s(v).copy()))
      }
    }
  }

  /** Key types whose min/max `writeLocal` derives from the rows, in
    * the form `footerStats` reads them from a footer. */
  private val LocalKeyTypes: Set[DataType] = Set(LongType, IntegerType, StringType)

  /** The partition dir Spark's `partitionBy` writes a null or empty tag
    * value under, i.e. the tag `writeData` records for such rows. */
  private val DefaultPartition =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** The task attempt a driver-written file is encoded under. */
  private val LocalAttempt =
    new TaskAttemptID(new TaskID(new JobID("graft-local", 0), TaskType.MAP, 0), 0)

  /** A data file in a commit's stage dir and its (tag, bucket) group. */
  private final case class Staged(tag: String, bucket: Int, file: Path)

  final case class FileEntry(path: String, kind: String, deltaSeq: Long,
                             rows: Long, bytes: Long, minKey: String,
                             maxKey: String, tag: String, bucket: Int)

  /** The file-pruning plan `readStates` executes — exposed so tests can
    * assert a claim read opens a strict subset of the table's files.
    *  - `full`: files read with all columns (wanted tag);
    *  - `shadowKeys`: delta files of other tags, key column only
    *    (they can shadow a wanted row with a newer version);
    *  - `skipped`: base files of other tags — never opened at all.
    */
  final case class ReadPlan(full: Seq[FileEntry], shadowKeys: Seq[FileEntry],
                            skipped: Seq[FileEntry])

  final case class Manifest(id: Long, parent: Option[Long], schemaDdl: String,
                            files: Seq[FileEntry], metrics: Map[String, Double],
                            props: Map[String, String]) {
    def toJson: String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      val fs = files.map(f =>
        s"""{"path":"${esc(f.path)}","kind":"${f.kind}","deltaSeq":${f.deltaSeq},""" +
        s""""rows":${f.rows},"bytes":${f.bytes},"minKey":"${esc(f.minKey)}",""" +
        s""""maxKey":"${esc(f.maxKey)}","tag":"${esc(f.tag)}","bucket":${f.bucket}}""")
        .mkString("[", ",", "]")
      val ms = metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
      val ps = props.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
      s"""{"id":${id},"parent":${parent.map(_.toString).getOrElse("null")},""" +
      s""""schemaDdl":"${esc(schemaDdl)}","files":$fs,"metrics":$ms,"props":$ps}"""
    }
  }

  object Manifest {
    /** Minimal JSON parser for our own manifest format (no external
      * JSON dep in main scope; format is machine-written above). */
    def parse(json: String): Manifest = {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(json)
      val files = node.get("files").elements().asScala.map { f =>
        FileEntry(f.get("path").asText(), f.get("kind").asText(),
          f.get("deltaSeq").asLong(), f.get("rows").asLong(),
          f.get("bytes").asLong(), f.get("minKey").asText(), f.get("maxKey").asText(),
          f.get("tag").asText(), f.get("bucket").asInt())
      }.toSeq
      val metrics = node.get("metrics").properties().asScala
        .map(e => e.getKey -> e.getValue.asDouble()).toMap
      val props = node.get("props").properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap
      Manifest(node.get("id").asLong(),
        if (node.get("parent").isNull) None else Some(node.get("parent").asLong()),
        node.get("schemaDdl").asText(), files, metrics, props)
    }
  }
}
