package graft

import graft.util.Rank
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite

/** Rank.withGlobalRank must be output-identical to the global window
  * row_number it replaces, under any input partitioning — seeded
  * property trials. */
class RankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("withGlobalRank == row_number over global order (seeded trials × partitionings)") {
    import spark.implicits._
    (0 until 3).foreach { trial =>
      val r = new scala.util.Random(trial)
      val n = 500 + trial * 137
      // duplicate sort keys on purpose; id breaks ties (total order)
      val rows = (0 until n).map(i => (i.toLong, r.nextInt(50), r.nextString(3)))
      Seq(1, 7, 32).foreach { parts =>
        val df = rows.toDF("id", "key", "pay").repartition(parts)
        val (ranked, total) = Rank.withGlobalRank(df,
          Seq(col("key"), col("id")), "rn")
        assert(total === n)
        val got = ranked.select("id", "rn").as[(Long, Long)].collect().toMap
        val want = rows.toDF("id", "key", "pay")
          .withColumn("rn", row_number().over(Window.orderBy("key", "id")))
          .select("id", "rn").as[(Long, Int)].collect()
          .map { case (i, v) => i -> v.toLong }.toMap
        assert(got === want, s"trial $trial parts $parts")
        // numbered from `first`: the same order, shifted
        val (from, _) = Rank.withGlobalRank(df, Seq(col("key"), col("id")), "rn",
          first = 1000L)
        assert(from.select("id", "rn").as[(Long, Long)].collect().toMap ===
          want.map { case (i, v) => i -> (v + 999L) }, s"first, trial $trial parts $parts")
      }
    }
  }

  test("withGlobalRank on empty input returns (empty, 0)") {
    import spark.implicits._
    val df = Seq.empty[(Long, Int)].toDF("id", "key")
    val (ranked, total) = Rank.withGlobalRank(df, Seq(col("key"), col("id")), "rn")
    assert(total === 0L)
    assert(ranked.count() === 0L)
  }

  test("zipInOrder numbers rows in partition order") {
    import spark.implicits._
    val rdd = spark.sparkContext.parallelize(Seq("a", "b", "c", "d", "e"), 3)
    val (zipped, total) = Rank.zipInOrder(rdd.toDF("v"), "idx")
    assert(total === 5)
    val got = zipped.select("v", "idx").as[(String, Long)].collect().sortBy(_._2)
    assert(got.map(_._1).toSeq === Seq("a", "b", "c", "d", "e"))
    assert(got.map(_._2).toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    // numbering from `first`, as initFromTextFile numbers a file's lines
    // from the frontier's next seq
    val (from, n) = Rank.zipInOrder(rdd.toDF("v"), "idx", first = 41L)
    assert(n === 5)
    val got41 = from.select("v", "idx").as[(String, Long)].collect().sortBy(_._2)
    assert(got41.toSeq === Seq("a", "b", "c", "d", "e").zip(41L to 45L))
  }
}
