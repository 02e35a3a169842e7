package perfbench

/** Every metric the benchmark emits, with its unit. BENCHMARK.json lists
  * the same names; MetricsSpec keeps the two in step. */
object Metrics {

  /** Emitted by untraced runs. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "urls_per_s" -> "urls/s",
    "setup_s" -> "s",
    "cache_resident_mb" -> "MB")

  /** CrawlEngine.phaseTotals keys, in the engine's spelling. */
  val Phases: Seq[String] = Seq("claim", "process", "enqueue-gate", "enqueue-probe",
    "seen-commit", "append-commit", "processing-commit", "payload-commit",
    "terminal-commit", "hygiene", "discover-rank", "tail-wait", "spec-wait")

  /** Layers whose span self time (outside child spans and Spark jobs) the
    * traced run reports. */
  val SpanLayers: Seq[String] =
    Seq("crawl", "frontier", "table", "filter", "util", "synth", "pipeline", "image")

  /** Emitted by traced runs. */
  val PerLayer: Seq[(String, String)] =
    Phases.map(p => s"crawl.${p.replace('-', '_')}_s" -> "s") ++ Seq(
      "crawl.batches" -> "count",
      "crawl.urls_per_batch" -> "count",
      "spark.jobs" -> "count",
      "spark.jobs_per_batch" -> "count",
      "spark.tasks" -> "count",
      "spark.task_cpu_s" -> "s",
      "spark.busy_frac" -> "ratio",
      "spark.shuffle_write_mb" -> "MB",
      "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB") ++
    JobListener.Layers.map(l => s"spark.jobs.$l" -> "count") ++
    JobListener.Layers.map(l => s"spark.task_cpu_s.$l" -> "s") ++ Seq(
      "frontier.claim_s" -> "s",
      "frontier.claim_rows" -> "count",
      "frontier.gate_s" -> "s",
      "frontier.gate_accept_ratio" -> "ratio",
      "frontier.to_entries_s" -> "s",
      "filter.insert_ns" -> "ns",
      "filter.probe_ns" -> "ns",
      "filter.load" -> "ratio",
      "filter.fp_rate" -> "ratio",
      "filter.shard_mb" -> "MB",
      "util.xx64_ns" -> "ns",
      "table.commit_file_ms" -> "ms",
      "table.read_pending_s" -> "s",
      "table.read_keys_s" -> "s",
      "table.files_base" -> "count",
      "table.files_delta" -> "count",
      "table.delta_commits" -> "count",
      "synth.fetch_us" -> "us",
      "pipeline.process_us" -> "us",
      "pipeline.cue_parse_us" -> "us",
      "pipeline.segment_us" -> "us",
      "pipeline.text_clean_us" -> "us",
      "image.decode_us" -> "us",
      "image.encode_png_us" -> "us",
      "image.phash_us" -> "us",
      "trace.overhead_s" -> "s",
      "trace.overhead_frac" -> "ratio",
      "trace.spans" -> "count") ++
    SpanLayers.map(l => s"trace.self_s.$l" -> "s") ++ Seq(
      "failed_ops" -> "ratio",
      "setup.session_s" -> "s",
      "setup.warmup_s" -> "s")

  /** The result line: the last line the benchmark prints on stdout. */
  def resultLine(correct: Boolean, attempted: Int, failed: Int,
                 values: Map[String, Double], wanted: Seq[(String, String)]): String = {
    val ms = wanted.map { case (n, u) =>
      val v = values.getOrElse(n, 0.0)
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values become 0 (JSON has no NaN). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
