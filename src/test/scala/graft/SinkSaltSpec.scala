package graft

import graft.export.ExportQuery
import graft.frontier.Frontier
import graft.table.SnapshotTable
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SinkSaltSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("writeAll emits CSV splits with header + vocabulary text (S11)") {
    import spark.implicits._
    val media = (0 until 100).map { i =>
      (s"v$i", s"слово текст документ ${"я " * (i % 3 + 1)}$i")
    }.toDF("image_id", "caption")
    val out = Files.createTempDirectory("export").toString
    ExportQuery.writeAll(spark, media, out)
    val csv = spark.read.option("header", "true").csv(s"$out/splits_csv")
    assert(csv.count() > 0)
    assert(csv.columns.toSet === Set("image_id", "caption_clean", "split"))
    val vocab = spark.read.text(s"$out/vocabulary")
    assert(vocab.count() === 100) // faithful: all captions, no dedup
    // csv splits partition dirs exist
    val splits = new java.io.File(s"$out/splits_csv").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(splits.contains("split=train"))
  }

  test("expire drops old snapshots and their unshared files, keeps current") {
    import spark.implicits._
    val dir = Files.createTempDirectory("expire").toString
    val t = new SnapshotTable(spark, dir, "k")
    t.commitAppend(Seq((1L, "a")).toDF("k", "v"))
    (0 until 5).foreach(i => t.commitUpsert(Seq((1L, s"u$i")).toDF("k", "v")))
    val before = Files.list(java.nio.file.Paths.get(dir, "snapshots")).count()
    t.expire(keepLast = 2)
    val after = Files.list(java.nio.file.Paths.get(dir, "snapshots")).count()
    assert(before === 6 && after === 2)
    // current still resolves to the latest value
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "u4")))
  }

  test("skew salting spreads hot hosts, leaves cold hosts unsalted") {
    import spark.implicits._
    val rows = (0 until 300).map(i => (i.toLong, s"u$i", "hot.example.com")) ++
      (0 until 5).map(i => (1000L + i, s"c$i", "cold.example.com"))
    val df = rows.toDF("fp", "url", "host")
    val salted = Frontier.salted(df, targetPerTask = 64)
      .select("host", "salt").as[(String, Int)].collect()
    val hotSalts = salted.filter(_._1 == "hot.example.com").map(_._2).distinct
    val coldSalts = salted.filter(_._1 == "cold.example.com").map(_._2).distinct
    assert(hotSalts.length > 1, s"hot host not spread: ${hotSalts.toSeq}")
    assert(coldSalts.toSeq === Seq(0))
  }
}
