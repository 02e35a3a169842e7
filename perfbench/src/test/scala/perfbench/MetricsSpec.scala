package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The emitted metric names: every per-layer name the benchmark's design
  * lists, and exactly the names and units BENCHMARK.json declares. */
class MetricsSpec extends AnyFunSuite {

  private val layerNames: Seq[String] =
    Seq("claim", "process", "enqueue_gate", "enqueue_probe", "seen_commit",
      "append_commit", "processing_commit", "payload_commit", "terminal_commit",
      "hygiene", "discover_rank", "tail_wait", "spec_wait").map(p => s"crawl.${p}_s") ++
    Seq("crawl.batches", "crawl.urls_per_batch",
      "spark.jobs", "spark.jobs_per_batch", "spark.tasks", "spark.task_cpu_s",
      "spark.busy_frac", "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
      "frontier.claim_s", "frontier.claim_rows", "frontier.gate_s",
      "frontier.gate_accept_ratio", "frontier.to_entries_s",
      "filter.insert_ns", "filter.probe_ns", "filter.load", "filter.fp_rate",
      "filter.shard_mb", "util.xx64_ns",
      "table.commit_file_ms", "table.read_pending_s", "table.read_keys_s",
      "table.files_base", "table.files_delta", "table.delta_commits",
      "synth.fetch_us", "pipeline.process_us", "pipeline.cue_parse_us",
      "pipeline.segment_us", "pipeline.text_clean_us", "image.decode_us",
      "image.encode_png_us", "image.phash_us",
      "trace.overhead_s", "failed_ops") ++
    Seq("crawl", "frontier", "table").flatMap(l => Seq(s"spark.jobs.$l", s"spark.task_cpu_s.$l"))

  test("every listed per-layer metric is emitted") {
    val emitted = Metrics.PerLayer.map(_._1).toSet
    assert(layerNames.filterNot(emitted).isEmpty)
  }

  test("end-to-end metrics include the throughput, set-up time and cache residency") {
    assert(Metrics.EndToEnd.map(_._1) == Seq("urls_per_s", "setup_s", "cache_resident_mb"))
  }

  test("metric names are unique and within the benchmark's naming rules") {
    val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    assert(all.distinct.size == all.size)
    all.foreach(n => assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n))
  }

  test("BENCHMARK.json declares exactly the emitted names and units") {
    implicit val formats: Formats = DefaultFormats
    val src = scala.io.Source.fromFile("../BENCHMARK.json")
    val json = try parse(src.mkString) finally src.close()
    def pairs(key: String) = (json \ key).extract[List[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)
    assert(pairs("end_to_end") == Metrics.EndToEnd.toList)
    assert(pairs("per_layer") == Metrics.PerLayer.toList)
    assert((json \ "workloads").extract[List[Map[String, String]]].map(_("name")) ==
      Workloads.names.toList)
  }

  test("the result line carries exactly the four keys and every wanted metric") {
    val line = Metrics.resultLine(correct = true, 3, 0, Map("setup_s" -> 1.5), Metrics.EndToEnd)
    val json = parse(line)
    assert(json.asInstanceOf[JObject].obj.map(_._1).toSet ==
      Set("correct", "attempted", "failed", "metrics"))
    val metrics = (json \ "metrics").asInstanceOf[JObject].obj.map(_._1)
    assert(metrics == Metrics.EndToEnd.map(_._1).toList)
    assert((json \ "metrics" \ "setup_s" \ "value") == JDouble(1.5))
  }
}
