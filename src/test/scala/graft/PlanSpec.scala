package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that matter at 100 TB must
  * be visible in the plan, not assumed — filter pushdown to the
  * parquet scan, column pruning of the heavy bytes column, broadcast
  * of small dimensions, no shuffle in scan-shaped jobs. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q02 filter is pushed down to the parquet scan") {
    val plan = formatted(SparkEntry.queries("q02_filter_project")(spark, sf))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.matches("(?s).*PushedFilters: \\[.*l_quantity.*\\].*"),
      s"quantity predicate not pushed:\n$plan")
  }

  test("q02 prunes to the referenced columns only (ReadSchema)") {
    val plan = formatted(SparkEntry.queries("q02_filter_project")(spark, sf))
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_shipdate"), s"unused column read:\n$read")
  }

  test("q03 broadcasts the nation dimension") {
    val plan = formatted(SparkEntry.queries("q03_join_agg")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q01 aggregation has a partial (map-side) phase") {
    val plan = SparkEntry.queries("q01_group_agg")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial"), s"no partial agg:\n$plan")
  }

  test("media-view projection without bytes never reads the bytes column") {
    val dir = java.nio.file.Files.createTempDirectory("planspec").toString
    val eng = new graft.crawl.CrawlEngine(spark, dir,
      graft.crawl.CrawlConfig(batchSize = 64, universe = 50))
    eng.init(30)
    eng.drain(maxBatches = 3)
    val q = eng.media.select("image_id", "phash")
    val plan = formatted(q)
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("bytes"), s"bytes not pruned:\n$read")
  }

  test("q27 plans a broadcast join for the query side") {
    val plan = formatted(SparkEntry.queries("q27_cosine_topk")(spark, sf))
    assert(plan.contains("Broadcast"), plan)
  }

  test("NO query plans an unpartitioned window (the single-task scale-killer)") {
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.sparkPlan
      val bad = plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(bad.isEmpty,
        s"$name funnels data through one task:\n${bad.mkString("\n")}")
    }
  }

  test("LSH pair joins never degrade to cartesian/nested-loop products") {
    Seq("q21_ngram_jaccard", "q23_minhash_lsh", "q35_phash_neardup",
        "q40_embed_neardup").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.toString
      assert(!plan.contains("CartesianProduct") &&
             !plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an all-pairs join:\n$plan")
    }
  }

  test("the claim path is UDF-free (synth crawl delay is a column expression)") {
    import spark.implicits._
    val pending = Seq(
      (1L, "http://host1.example.com/v/a", "host1.example.com", 0, 1L,
        "pending", null.asInstanceOf[String], 0L, -1L)
    ).toDF("fp", "url", "host", "priority", "seq", "state", "error",
      "discoveredAt", "processedAt")
    val claim = graft.frontier.Frontier.claimBySynthPolicy(pending, 42L, 64, 600000L)
    val plan = claim.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"),
      s"claim plan carries a per-row UDF:\n$plan")
    // and the column twin really is the scalar policy, over a host sample
    (0 until 50).foreach { i =>
      val h = s"host$i.example.com"
      val colVal = Seq(h).toDF("host")
        .select(graft.synth.Synth.crawlDelayMsCol(col("host"), 42L).as("d"))
        .head.getLong(0)
      assert(colVal === graft.synth.Synth.hostPolicy(h, 42L).crawlDelayMs)
    }
  }

  test("the gate's verify query over a cached key set plans no exchange") {
    import spark.implicits._
    // the key side as the engine holds it: a cached scan, large enough
    // that a join would plan a shuffle or broadcast it
    val keys = spark.range(0L, 200000L).toDF("fp").cache()
    val positives = spark.sparkContext.broadcast(Array(3L, 7L, 5000000L))
    try {
      val q = graft.frontier.Frontier.verifyHits(keys, positives)
      assert(q.as[Long].collect().sorted.toSeq === Seq(3L, 7L))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("InMemoryTableScan"), s"verify does not read the cache:\n$plan")
      // neither a shuffle nor a BroadcastExchange of the key table
      assert(!plan.contains("Exchange"), s"verify plan moves the key table:\n$plan")
    } finally {
      positives.destroy()
      keys.unpersist()
    }
  }

  test("hamming64 keeps whole-stage codegen in the near-dup filter") {
    import graft.functions.Hamming64.hamming64
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(hamming64(col("l_orderkey"), col("l_partkey")) <= 6)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
  }
}
