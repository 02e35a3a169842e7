package graft

import graft.table.SnapshotTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class SnapshotTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def freshDir() = Files.createTempDirectory("snaptest").toString

  /** The plain scan of `paths` in table `dir` — the plan a resident
    * slot caches, so its `storageLevel` tells (through the session's
    * cache manager) whether that slot's entry is still persisted. */
  private def scanOf(t: SnapshotTable, paths: Seq[String]) =
    spark.read.schema(StructType.fromDDL(t.currentManifest.get.schemaDdl))
      .parquet(paths.map(p => Paths.get(t.tableRoot).resolve(p).toString): _*)

  test("append then read returns the rows; manifest has lineage") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Map("m" -> 1.0))
    assert(t.read().count() === 2)
    val m = t.currentManifest.get
    assert(m.files.map(_.rows).sum === 2)
    assert(m.metrics("m") === 1.0)
  }

  test("metadata tables: files + history views match the manifest") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), Map("batch" -> 1.0))
    t.commitUpsert(Seq((2L, "B")).toDF("k", "v"))
    val m = t.currentManifest.get
    val fm = t.filesMetadata(spark).collect()
    assert(fm.length === m.files.size)
    assert(fm.map(_.getAs[Long]("rows")).sum === m.files.map(_.rows).sum)
    assert(fm.map(_.getAs[Long]("snap_id")).distinct.toSeq === Seq(m.id))
    val hist = t.historyMetadata(spark).orderBy("snap_id").collect()
    assert(hist.length === t.retainedSnapshotIds.size)
    assert(hist.last.getAs[Long]("snap_id") === m.id)
    assert(hist.last.getAs[Long]("total_rows") === m.files.map(_.rows).sum)
    assert(hist.last.getAs[Long]("parent_id") === m.parent.get)
  }

  test("layout is persisted and a mismatched reopen is rejected") {
    import spark.implicits._
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
      bucketBy = Some(("k", 4)))
    t.commitAppend(Seq((1L, "pending"), (2L, "pending")).toDF("k", "state"))
    val props = t.currentManifest.get.props
    assert(props(SnapshotTable.LayoutBucketsProp) === "4")
    assert(props(SnapshotTable.LayoutTagProp) === "state")
    // different bucket modulus: files would be written under a different
    // pmod and bucket-closed merge-on-read would silently break
    val e1 = intercept[IllegalArgumentException] {
      new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
        bucketBy = Some(("k", 8)))
    }
    assert(e1.getMessage.contains("layout"))
    // different tag column
    intercept[IllegalArgumentException] {
      new SnapshotTable(spark, dir, "k", tagCol = Some("other"),
        bucketBy = Some(("k", 4)))
    }
    // identical layout reopens fine (frozenTags is NOT identity)
    val t2 = new SnapshotTable(spark, dir, "k", tagCol = Some("state"),
      frozenTags = Set("done"), bucketBy = Some(("k", 4)))
    assert(t2.read().count() === 2)
  }

  test("upsert overrides by key, append accumulates") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.commitUpsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    val rows = t.read().as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq === Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("later delta wins over earlier delta") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    t.commitUpsert(Seq((1L, "x")).toDF("k", "v"))
    t.commitUpsert(Seq((1L, "y")).toDF("k", "v"))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "y")))
  }

  test("restore rolls back; expire keeps recent snapshots readable") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    val id0 = t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    val id1 = t.commitUpsert(Seq((1L, "z")).toDF("k", "v"))
    t.restore(id0)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    t.restore(id1)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "z")))
  }

  test("expire keeps time-travel boundary snapshot resolvable; expired id fails cleanly") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    (1 to 6).foreach(i => t.commitUpsert(Seq((1L, s"v$i")).toDF("k", "v")))
    val ids = t.retainedSnapshotIds
    t.expire(keepLast = 3)
    val kept = t.retainedSnapshotIds
    assert(kept === ids.takeRight(3))
    // the BOUNDARY (oldest retained) snapshot must still resolve — q46
    // time-travels to currentId - 3, exactly this retention edge
    val boundary = kept.head
    val rows = t.readRawAt(boundary)
    assert(rows.count() > 0)
    // a retained manifest pins its data files: latest-wins over the raw
    // dump reproduces that snapshot's value for the hot key
    val resolved = rows.orderBy(org.apache.spark.sql.functions.col("__delta_seq").desc)
      .select("v").as[String].head()
    assert(resolved === s"v${boundary}")
    // reading an expired id fails cleanly (manifest json is gone)
    val expired = ids.head
    assert(!kept.contains(expired))
    intercept[Exception](t.readRawAt(expired).count())
  }

  test("incremental state-scan cache: append-extended file sets read correctly") {
    import spark.implicits._
    // cacheScans on — the claim fast path; appends must be served
    // by cache ∪ fresh-tail without a stale or duplicated view
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k", tagCol = Some("st"),
      frozenTags = Set("done"), cacheScans = true)
    def rows(i: Long) = Seq((i, s"v$i", "todo")).toDF("k", "v", "st")
    t.commitAppend(rows(1))
    def wanted = t.readStates(Set("todo")).select("k", "v")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    def keys(tbl: SnapshotTable) = tbl.readKeys().as[Long].collect().sorted.toSeq
    assert(wanted === Seq((1L, "v1")))      // builds the state entry
    assert(keys(t) === Seq(1L))             // builds the key entry
    val first = t.currentManifest.get.files.map(_.path)
    t.commitAppend(rows(2))                  // incremental tail 1 file
    t.commitAppend(rows(3))                  // incremental tail 2 files
    assert(wanted === Seq((1L, "v1"), (2L, "v2"), (3L, "v3")))
    // key slot: cached prefix ∪ tail equals the uncached base-key scan
    // (the same table opened without cacheScans)
    val uncached = new SnapshotTable(spark, dir, "k", tagCol = Some("st"))
    assert(keys(t) === Seq(1L, 2L, 3L))
    assert(keys(t) === keys(uncached))
    // a delta flipping a row out of the wanted tag shadows it through
    // the UNCACHED shadow-key side, on top of the cached base
    t.commitUpsert(Seq((2L, "v2", "done")).toDF("k", "v", "st"))
    assert(wanted === Seq((1L, "v1"), (3L, "v3")))
    // equivalence with the unpruned read at every step
    val full = t.read().filter(org.apache.spark.sql.functions.col("st") === "todo")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(full === wanted)
    // a compaction rewrites every path: the next reads rebuild both
    // slots, and neither superseded entry stays persisted
    assert(scanOf(t, first).storageLevel !== StorageLevel.NONE)
    assert(scanOf(t, first).select("k").storageLevel !== StorageLevel.NONE)
    assert(t.compactIfNeeded(maxDeltaCommits = 0).isDefined)
    assert(wanted === Seq((1L, "v1"), (3L, "v3")))
    assert(keys(t) === Seq(1L, 2L, 3L))
    assert(scanOf(t, first).storageLevel === StorageLevel.NONE)
    assert(scanOf(t, first).select("k").storageLevel === StorageLevel.NONE)
    val bases = t.currentManifest.get.files.filter(_.kind == "base")
    assert(scanOf(t, bases.filter(_.tag == "todo").map(_.path)).storageLevel
      !== StorageLevel.NONE)
    assert(scanOf(t, bases.map(_.path)).select("k").storageLevel !== StorageLevel.NONE)
  }

  test("incremental state-scan cache: a bucket whose wanted rows all compact away is unpersisted") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k", tagCol = Some("st"),
      frozenTags = Set("done"), bucketBy = Some(("k", 2)), cacheScans = true)
    t.commitAppend((1L to 16L).map(i => (i, s"v$i", "todo")).toDF("k", "v", "st"))
    val before = t.currentManifest.get.files.groupBy(_.bucket)
      .map { case (b, fs) => b -> fs.map(_.path) }
    assert(before.size === 2)
    def todoKeys = t.bucketedStateScan(Set("todo"))
      .map(_._2.select("k").as[Long].collect().toSet).reduce(_ ++ _)
    assert(todoKeys === (1L to 16L).toSet)   // builds both bucket entries
    before.values.foreach(ps => assert(scanOf(t, ps).storageLevel !== StorageLevel.NONE))
    // every pending row of the gone bucket flips terminal, and the
    // compaction folds them into a frozen base: the bucket has no
    // wanted base file left
    val gone = before.keys.min
    val goneKeys = scanOf(t, before(gone)).select("k").as[Long].collect().toSet
    t.commitUpsert(goneKeys.toSeq.map(i => (i, s"v$i", "done")).toDF("k", "v", "st"))
    assert(t.compactIfNeeded(maxDeltaCommits = 0).isDefined)
    assert(!t.currentManifest.get.files.exists(f => f.bucket == gone && f.tag == "todo"))
    assert(todoKeys === (1L to 16L).toSet -- goneKeys)
    before.values.foreach(ps => assert(scanOf(t, ps).storageLevel === StorageLevel.NONE))
  }

  test("compaction preserves the resolved view and drops deltas") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
    (1L to 10L).foreach(i => t.commitUpsert(Seq((i, s"u$i")).toDF("k", "v")))
    val before = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    val compacted = t.compactIfNeeded(maxDeltaCommits = 4)
    assert(compacted.isDefined)
    val after = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(after === before)
    assert(t.currentManifest.get.files.forall(_.kind == "base"))
  }

  test("crash between manifest write and CURRENT rename leaves the old snapshot live") {
    import spark.implicits._
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k")
    t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    // simulate the crash window: a fully-written next manifest exists,
    // but CURRENT was never flipped (the protocol's only unsafe gap is
    // handled by atomic rename — reads must keep serving snapshot 0)
    val snapDir = java.nio.file.Paths.get(dir, "snapshots")
    val m0 = Files.readString(snapDir.resolve("snap-000000.json"))
    Files.writeString(snapDir.resolve("snap-000001.json"),
      m0.replace("\"id\":0", "\"id\":1"))
    assert(t.currentId === Some(0L))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    // a later writer (restart) continues from CURRENT
    t.commitUpsert(Seq((1L, "b")).toDF("k", "v"))
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "b")))
  }

  test("readRaw + latest-wins re-derivation equals read() (the oracle contract)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.commitUpsert(Seq((3L, "x"), (11L, "n")).toDF("k", "v"))
    t.commitUpsert(Seq((3L, "y"), (5L, "z")).toDF("k", "v"))
    val w = Window.partitionBy("k").orderBy(col("__delta_seq").desc)
    val rederived = t.readRaw()
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    val direct = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rederived === direct)
  }

  test("readStates with a wanted-tag delta resolves without a window over base rows") {
    import spark.implicits._
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val t = new SnapshotTable(spark, freshDir(), "k", tagCol = Some("st"))
    t.commitAppend((1L to 8L).map(i => (i, s"v$i", "todo")).toDF("k", "v", "st"))
    t.commitUpsert((1L to 4L).map(i => (i, s"v$i", "done")).toDF("k", "v", "st"))
    assert(t.compactIfNeeded(maxDeltaCommits = 0).isDefined)   // a "done" base
    t.commitUpsert(Seq((5L, "w5", "done")).toDF("k", "v", "st")) // a newer "done" delta
    t.commitUpsert(Seq((1L, "w1", "todo")).toDF("k", "v", "st")) // shadows a "done" base row
    val df = t.readStates(Set("done"))
    val got = df.select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    val full = t.read().filter(org.apache.spark.sql.functions.col("st") === "done")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got === full)
    assert(got === Seq((2L, "v2"), (3L, "v3"), (4L, "v4"), (5L, "w5")))
    // the terminal base is read, but never sort-shuffled by the window
    object Plans extends AdaptiveSparkPlanHelper
    def baseScans(p: org.apache.spark.sql.execution.SparkPlan) = Plans.collect(p) {
      case s: FileSourceScanExec if s.relation.location.inputFiles.exists(_.contains("-base-")) => s
    }
    val plan = df.queryExecution.executedPlan
    assert(baseScans(plan).nonEmpty)
    Plans.collect(plan) { case w: WindowExec => w }.foreach { w =>
      assert(baseScans(w).isEmpty, s"a window resolves base rows:\n$plan")
    }
  }

  test("fuzz: 40 random commit/compact/expire interleavings match a model map (3 seeds)") {
    import spark.implicits._
    // each trial runs with both compaction paths: the driver's within
    // the default bound, Spark's with a bound of 0 rows
    for (maxLocal <- Seq(SnapshotTable.LocalCommitMaxRows, 0); trial <- 0 until 3) {
      val r = new scala.util.Random(trial * 7 + 1)
      val t = new SnapshotTable(spark, freshDir(), "k")
      val model = scala.collection.mutable.HashMap.empty[Long, String]
      var appended = false
      (0 until 40).foreach { step =>
        val op = r.nextInt(10)
        if (!appended || op < 2) {
          // append NEW keys only (the engine's contract: appends are
          // gated to unseen keys)
          val base = model.keys.foldLeft(0L)(math.max) + 1
          val rows = (0 until 1 + r.nextInt(5)).map(i => (base + i, s"a$step-$i"))
          rows.foreach { case (k, v) => model(k) = v }
          t.commitAppend(rows.toDF("k", "v"))
          appended = true
        } else if (op < 7 && model.nonEmpty) {
          val keys = model.keys.toSeq.sorted
          val rows = (0 until 1 + r.nextInt(3))
            .map(_ => keys(r.nextInt(keys.size)))
            .distinct.map(k => (k, s"u$step-$k"))
          rows.foreach { case (k, v) => model(k) = v }
          t.commitUpsert(rows.toDF("k", "v"))
        } else if (op < 9) {
          t.compactIfNeeded(3, Map.empty, maxLocal)
        } else {
          t.expire(keepLast = 4)
        }
      }
      val got = t.read().as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got === model.toSeq.sortBy(_._1), s"trial $trial (bound $maxLocal) diverged")
      // the raw dump re-derivation must agree too (oracle contract)
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("k").orderBy(col("__delta_seq").desc)
      val raw = t.readRaw().withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select("k", "v")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(raw === got, s"trial $trial (bound $maxLocal) raw re-derivation diverged")
    }
  }

  test("empty-table read after schema-bearing commit works") {
    import spark.implicits._
    val t = new SnapshotTable(spark, freshDir(), "k")
    t.commitAppend(Seq.empty[(Long, String)].toDF("k", "v"))
    assert(t.read().count() === 0)
  }

  /** Rows of `df` as sorted strings — an order-free, null-safe
    * comparison of two reads. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  /** The parquet schema and key-value metadata of one data file. */
  private def footerOf(t: SnapshotTable, path: String) = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(t.tableRoot).resolve(path).toString),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val meta = r.getFooter.getFileMetaData
      (meta.getSchema.toString, meta.getKeyValueMetaData.toString, meta.getCreatedBy)
    } finally r.close()
  }

  test("driver-written and Spark-written commits of the same rows read back identically") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    import SnapshotTable.LocalRows
    def twins(mk: () => SnapshotTable, ddl: String, appended: Seq[Row], upserted: Seq[Row],
              states: Seq[Set[String]]): Unit = {
      val schema = StructType.fromDDL(ddl)
      val toInternal = ExpressionEncoder(schema).createSerializer()
      def local(rows: Seq[Row]) = LocalRows(schema, rows.map(r => toInternal(r).copy()))
      def df(rows: Seq[Row]) =
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      val (sparkT, localT) = (mk(), mk())
      sparkT.commitAppend(df(appended), Map("m" -> 1.0), Map("p" -> "a"))
      localT.commitLocal(local(appended), metrics = Map("m" -> 1.0), props = Map("p" -> "a"))
      sparkT.commitUpsert(df(upserted), Map("m" -> 2.0))
      localT.commitLocal(local(upserted), upsert = true, metrics = Map("m" -> 2.0))
      val (ms, ml) = (sparkT.currentManifest.get, localT.currentManifest.get)
      assert(ml.copy(files = Nil) === ms.copy(files = Nil), s"$ddl: manifests differ")
      assert(ml.files.map(_.copy(bytes = 0L)) === ms.files.map(_.copy(bytes = 0L)),
        s"$ddl: file entries differ")
      ms.files.zip(ml.files).foreach { case (a, b) =>
        assert(footerOf(localT, b.path) === footerOf(sparkT, a.path), s"$ddl: footer of ${b.path}")
      }
      assert(rowsOf(localT.read()) === rowsOf(sparkT.read()), s"$ddl: read")
      assert(rowsOf(localT.readRaw()) === rowsOf(sparkT.readRaw()), s"$ddl: readRaw")
      states.foreach { want =>
        assert(rowsOf(localT.readStates(want)) === rowsOf(sparkT.readStates(want)),
          s"$ddl: readStates($want)")
      }
    }
    val tagged = "k BIGINT NOT NULL, st STRING, v STRING"
    twins(() => new SnapshotTable(spark, freshDir(), "k", tagCol = Some("st")), tagged,
      // null and "" tags land in Spark's default partition
      (1L to 9L).map(i => Row(i, if (i % 3 == 0) "done" else "todo", s"v$i")) ++
        Seq(Row(10L, null, "v10"), Row(11L, "", null)),
      Seq(Row(1L, "done", "w1"), Row(4L, "gone", "w4"), Row(3L, "todo", "w3")),
      Seq(Set("todo"), Set("done"), Set("gone", "todo")))
    twins(() => new SnapshotTable(spark, freshDir(), "k", tagCol = Some("st"),
        bucketBy = Some(("h", 4))),
      "k BIGINT NOT NULL, h STRING, st STRING",
      (1L to 24L).map(i => Row(i, s"host${i % 7}", if (i % 5 == 0) "done" else "todo")),
      Seq(Row(2L, "host2", "done"), Row(7L, "host0", "done")),
      Seq(Set("todo"), Set("done")))
    // string keys compare as unsigned UTF-8 bytes in parquet statistics:
    // U+FF21 sorts below U+1F600 there, above it as UTF-16
    twins(() => new SnapshotTable(spark, freshDir(), "id"), "id STRING, n BIGINT, note STRING",
      Seq(Row("b", 1L, null), Row("\u00e9t\u00e9", 2L, "x"), Row("\uFF21", 3L, null),
        Row("\uD83D\uDE00", 4L, "y"), Row("a", null, "z")),
      Seq(Row("\u00e9t\u00e9", 5L, null), Row("\u4e2d", 6L, "new")),
      Nil)
  }

  test("an aborted driver-written commit leaves no trace") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import SnapshotTable.LocalRows
    val dir = freshDir()
    val t = new SnapshotTable(spark, dir, "k", tagCol = Some("st"))
    val schema = StructType.fromDDL("k BIGINT NOT NULL, st STRING, v STRING")
    def row(k: Long, st: String, v: Any) =
      new GenericInternalRow(Array[Any](k, UTF8String.fromString(st), v))
    t.commitLocal(LocalRows(schema, (1L to 4L).map(k => row(k, "a", UTF8String.fromString(s"v$k")))))
    val before = rowsOf(t.read())
    val id = t.currentId
    // the "b" file is written after the complete "a" file, and its
    // second row holds a long where a string belongs
    val bad = Seq(row(5L, "a", UTF8String.fromString("v5")), row(6L, "b", UTF8String.fromString("v6")),
      row(7L, "b", 7L), row(8L, "b", UTF8String.fromString("v8")))
    intercept[ClassCastException](t.commitLocal(LocalRows(schema, bad)))
    assert(t.currentId === id)
    val root = Paths.get(dir)
    val stages = Files.list(root).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".stage-")).toSeq
    assert(stages.isEmpty, s"stage dirs left: $stages")
    val listed = t.retainedSnapshotIds.flatMap(i => t.manifest(i).files.map(_.path)).toSet
    val onDisk = Files.list(root.resolve("data")).iterator().asScala
      .map(p => s"data/${p.getFileName}").toSet
    assert(onDisk.diff(listed).isEmpty, s"orphan data files: ${onDisk.diff(listed)}")
    assert(rowsOf(t.read()) === before)

    // a driver compaction that fails mid-write: its "b" file cannot move
    // into place (a directory holds its name) after the "a" file has
    t.commitLocal(LocalRows(schema, Seq(row(2L, "b", UTF8String.fromString("w2")),
      row(3L, "a", UTF8String.fromString("w3")))), upsert = true)
    val upserted = rowsOf(t.read())
    val compactId = t.currentId.get + 1
    val blocker = root.resolve("data").resolve(f"snap-$compactId%06d-base-b-part-00001.parquet")
    Files.createDirectory(blocker)
    intercept[java.nio.file.FileSystemException](t.compactIfNeeded(maxDeltaCommits = 0))
    assert(t.currentId === Some(compactId - 1))
    assert(Files.list(root).iterator().asScala.forall(!_.getFileName.toString.startsWith(".stage-")),
      "a stage dir was left")
    val afterFail = Files.list(root.resolve("data")).iterator().asScala
      .filterNot(_ == blocker).map(p => s"data/${p.getFileName}").toSet
    assert(afterFail === onDisk ++ t.currentManifest.get.files.map(_.path),
      s"new data files: ${afterFail.diff(onDisk)}")
    assert(rowsOf(t.read()) === upserted)
    // the same compaction commits once the name is free
    Files.delete(blocker)
    assert(t.compactIfNeeded(maxDeltaCommits = 0) === Some(compactId))
    assert(t.currentManifest.get.files.forall(_.kind == "base"))
    assert(rowsOf(t.read()) === upserted)
  }

  test("driver and Spark compaction of the same manifest give the same table") {
    import spark.implicits._
    val dir = freshDir()
    def open(d: String) = new SnapshotTable(spark, d, "k", tagCol = Some("st"),
      frozenTags = Set("done"), bucketBy = Some(("h", 4)))
    val t = open(dir)
    def rows(vs: (Long, String, String)*) =
      vs.map { case (k, st, v) => (k, s"host${k % 5}", st, v) }.toDF("k", "h", "st", "v")
    t.commitAppend(rows((1L to 30L).map(k => (k, "todo", s"a$k")): _*))
    // four appends of terminal rows: ≥ 4 small frozen files of one tag,
    // which the compaction folds into its rewrite
    (0 until 4).foreach { i =>
      t.commitAppend(rows((31L + 4 * i to 34L + 4 * i).map(k => (k, "done", s"a$k")): _*))
    }
    t.commitUpsert(rows((1L, "done", "u1"), (2L, "todo", "u2"), (3L, "gone", "u3")))
    // deltas override bases and each other; key 99 exists only in deltas
    t.commitUpsert(rows((1L, "todo", "w1"), (2L, "done", "w2"), (99L, "todo", "x99")))
    t.commitUpsert(rows((3L, "done", "z3"), (99L, "done", "y99")))
    val m = t.currentManifest.get
    assert(m.files.count(f => f.kind == "base" && f.tag == "done") >= 4)
    // the same manifest twice: the table copied file by file
    val copy = freshDir()
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq.foreach { p =>
      val to = Paths.get(copy).resolve(Paths.get(dir).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    }
    val (local, viaSpark) = (open(dir), open(copy))
    assert(local.compactIfNeeded(0, Map("m" -> 1.0), SnapshotTable.LocalCommitMaxRows).isDefined)
    assert(viaSpark.compactIfNeeded(0, Map("m" -> 1.0), 0).isDefined)
    val (ml, ms) = (local.currentManifest.get, viaSpark.currentManifest.get)
    assert(ml.copy(files = Nil) === ms.copy(files = Nil))
    assert(ml.files.map(_.copy(bytes = 0L)) === ms.files.map(_.copy(bytes = 0L)))
    // every file rewritten: the small frozen files folded, no delta left
    assert(ml.files.forall(_.kind == "base"))
    assert(ml.files.map(_.path).intersect(m.files.map(_.path)).isEmpty)
    assert(rowsOf(local.read()) === rowsOf(viaSpark.read()))
    assert(rowsOf(local.readRaw()) === rowsOf(viaSpark.readRaw()))
    Seq(Set("todo"), Set("done"), Set("gone")).foreach { want =>
      assert(rowsOf(local.readStates(want)) === rowsOf(viaSpark.readStates(want)), s"readStates($want)")
    }
    def byBucket(tbl: SnapshotTable) =
      tbl.bucketedStateScan(Set("todo")).map { case (b, df) => b -> rowsOf(df) }
    assert(byBucket(local) === byBucket(viaSpark))
    val resolved = local.read().select("k", "st", "v").as[(Long, String, String)].collect()
      .map { case (k, st, v) => k -> (st, v) }.toMap
    assert(resolved(1L) === (("todo", "w1")) && resolved(2L) === (("done", "w2")) &&
      resolved(3L) === (("done", "z3")) && resolved(99L) === (("done", "y99")) &&
      resolved(4L) === (("todo", "a4")) && resolved(31L) === (("done", "a31")))
    assert(resolved.size === 47)
  }
}
