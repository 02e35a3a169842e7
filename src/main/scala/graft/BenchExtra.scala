package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** The dev main (NOT part of the driver contract — Bench.scala is
  * frozen), two modes.
  *
  * Timing: times a selectable subset of the query suite with the
  * SAME methodology as Bench's suite section (same session config,
  * flagship engine pre-built, one cold pass, then warm passes timed by
  * `.count()`), but with per-query repeat lists so optimization work can
  * isolate noise. Guide §1.4: pass SPARK_GRAFT_NOOP=1 to time each query
  * through the noop sink (computes every column) instead of count().
  *
  * Usage: sbt "runMain graft.BenchExtra q45 q21 q43"   (prefix match; no
  * args = all queries). Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_EXTRA_REPS (warm passes, default 3).
  *
  * Plan audit: writes PLANS.md with the formatted physical plans of the
  * headline queries plus the properties each plan must exhibit at
  * 100 TB (pushdown, pruning, broadcast, partial aggregation, no
  * unpartitioned windows, no cartesian products). PlanSpec asserts the
  * same properties; this artifact makes them reviewable. Regenerate
  * over the sf0.001 dataset with: sbt "runMain graft.BenchExtra plans
  * <sfDir>" (or SPARK_GRAFT_SF_DIR in place of the argument).
  */
object BenchExtra {

  private val Headline = Seq(
    "q01_group_agg"      -> "partial (map-side) aggregation before the exchange",
    "q02_filter_project" -> "PushedFilters into the parquet scan; ReadSchema pruned",
    "q03_join_agg"       -> "BroadcastHashJoin for the nation dimension",
    "q12_seeded_split"   -> "NO Window operator — global rank is partition-offset based over a pinned checkpoint scan (InternalRow, no Row round-trip; downstream codegen intact)",
    "q14_skew_salt"      -> "count via key-partitioned Window, no unbounded broadcast",
    "q21_ngram_jaccard"  -> "hot-shingle df cap FIRST, then group-and-explode: each (source,sh) group (≤ cap docs) emits its pairs map-side carrying both shingle counts — no self-join, no size joins (r4 shape; the r3 checkpoint+self-join shape measured ~1.9× slower: the cap bounds agg buffers at 50 structs, so the hot-shingle concern that justified the join is gone)",
    "q23_minhash_lsh"    -> "band-signature equi-join, no cartesian product",
    "q27_cosine_topk"    -> "query side broadcast; corpus scanned once",
    "q35_phash_neardup"  -> "16-bit band equi-join + codegen'd hamming64 verify",
    "q40_embed_neardup"  -> "LSH-bucket equi-join + exact cosine verify, no all-pairs",
    "q41_session_window" -> "lag window partitioned by user_id (never global)",
    "q43_ivf_probe"      -> "centroids/queries broadcast; candidates bounded by probed cells",
    "q44_media_invariants" -> "pure map over the media payload (decode invariants); one scan, bytes column read exactly once, no shuffle",
    "q45_dedup_clusters"   -> "iterative CC: this is the FINAL-round plan (labels ⋈ sizes over pinned checkpoints); each TWO-HOP propagation round is one key join + one groupBy over edges ∪ label pointers (pointer jumping folded in, rounds O(log diameter)), lineage truncated per round — the plan never grows with iteration count. sf0.1 decomposition: pairs ~2.6 s + 4 CC rounds ~2.2 s (round cost is per-job fixed overhead at this data size, not rounds; fusing 2 rounds/job measured SLOWER — tripled subtree not collapsed by ReuseExchange)",
    "q48_normalize_audit"  -> "pure map over the payload (decode + re-encode audit); one scan, no shuffle",
    "q49_luma_binning"     -> "pure flatMap over the payload (16 sampled pixels/image through the shipped luma/bin path); one scan, no shuffle",
    "q46_time_travel"      -> "historical snapshot resolution: scans ONLY the as-of manifest's files; latest-wins window partitioned by key (never global)",
    "q47_stratified_sample" -> "deterministic hash-threshold sample: a filter fused into the scan — no shuffle, no RNG state, stable under repartitioning",
  )

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("plans"))
      plans(args.lift(1).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
        .getOrElse(sys.error("usage: BenchExtra plans <sfDir>")))
    else timing(args)

  private def plans(sfDir: String): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline queries\n\n")
    sb.append(s"Generated by `graft.BenchExtra plans` over `$sfDir`. The bullet under each\n")
    sb.append("query names the scale property the plan must show; `PlanSpec` asserts\n")
    sb.append("these same properties in CI (plus: NO query plans an unpartitioned\n")
    sb.append("window, and the LSH pair joins never plan cartesian products).\n")
    Headline.foreach { case (name, property) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n**Must hold at 100 TB:** $property\n\n")
      sb.append("```\n").append(plan.trim).append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${Headline.size} queries)")
    spark.stop()
  }

  private def timing(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "3").toInt
    val useNoop = sys.env.contains("SPARK_GRAFT_NOOP")
    val localDir = s"${graft.crawl.Flagship.workRoot}/spark_local_extra"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(localDir))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")

    val all = SparkEntry.queries.toSeq.sortBy(_._1)
    val sel =
      if (args.isEmpty) all
      else all.filter { case (n, _) => args.exists(a => n.startsWith(a)) }
    require(sel.nonEmpty, s"no queries match ${args.mkString(",")}")

    val needsEngine = sel.exists { case (n, _) => graft.queries.Engine.all.contains(n) }
    if (needsEngine) {
      val e0 = System.nanoTime()
      graft.crawl.Flagship.engine(s, sfDir)
      println(f"[extra] engine_build ${(System.nanoTime() - e0) / 1e9}%.2f s")
    }

    def runOne(name: String, fn: (SparkSession, String) => Unit): Double = {
      s.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      fn(s, sfDir)
      val dt = (System.nanoTime() - t0) / 1e9
      s.sparkContext.setJobDescription(null)
      dt
    }
    def action(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
              (sp: SparkSession, d: String): Unit =
      if (useNoop) fn(sp, d).write.format("noop").mode("overwrite").save()
      else { fn(sp, d).count(); () }

    // cold pass
    val cold = sel.map { case (n, fn) => n -> runOne(n, action(fn)) }
    // warm passes
    val warm = (1 to reps).map { _ =>
      sel.map { case (n, fn) => n -> runOne(n, action(fn)) }
    }
    println(f"[extra] sf=$sfDir cpus=$cpus reps=$reps noop=$useNoop")
    sel.map(_._1).zipWithIndex.foreach { case (n, i) =>
      val ws = warm.map(_(i)._2)
      println(f"[extra] $n cold=${cold(i)._2}%.3f warm=${ws.map(w => f"$w%.3f").mkString(",")} min=${ws.min}%.3f")
    }
    val totals = warm.map(_.map(_._2).sum)
    println(f"[extra] total cold=${cold.map(_._2).sum}%.3f warm=${totals.map(t => f"$t%.3f").mkString(",")}")
    graft.crawl.Flagship.cleanup()
    s.stop()
  }
}
