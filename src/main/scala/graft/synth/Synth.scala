package graft.synth

import graft.image.ImageCodec
import graft.model._
import graft.util.Hashing

/** Deterministic synthetic inputs (FIXTURES.md) — zero network, zero
  * wall-clock, zero unseeded RNG. Every value derives from xx64(key)
  * so any partitioning / rerun produces identical bytes. Shared by the
  * engine, the parity oracle, tests, and the bench.
  *
  * Reference analogs: seed txt files (one id/line); the fetch stage
  * (utils/youtube_downloader.py:15-113) with ~missing-subs failures and
  * a too-large cap; per-host politeness (parse_youtube.py:53).
  */
object Synth {

  val DefaultSeed = 42L

  /** Unit double in [0,1) from a string key (stable across JVMs). */
  def unit(key: String): Double = unitOf(Hashing.xx64(key))

  private def unitOf(h: Long): Double = ((h >>> 11).toDouble) / (1L << 53).toDouble

  /** Non-negative long from a key. */
  def nn(key: String): Long = Hashing.xx64(key) & Long.MaxValue

  // ---- seed list -----------------------------------------------------

  /** Zipfian host index in [0, nHosts): hostRank ~ u^(1/(1-s)) shape.
    * s≈1.2 gives realistic hot-host skew (FIXTURES.md §2). */
  def zipfHost(u: Double, nHosts: Int, s: Double = 1.2): Int = {
    // inverse-CDF approximation for zipf over ranks 1..nHosts
    val x = math.pow(u, 1.0 / (1.0 - s)) // in [1, inf)
    val r = x.toInt
    math.min(nHosts - 1, math.max(0, r - 1))
  }

  /** Seed url for line i (pure — callable from executors): host
    * `zipfHost(unit("seed:<seed>:host:<i>"))`, id
    * `nn("seed:<seed>:id:<i>")` in base 36. The ASCII keys and the url
    * are written into one byte buffer and the keys hashed in place: a url
    * allocates the buffer, its String and its SeedUrl (~210 B), where two
    * key strings, their UTF-8 copies and a growing builder took ~625 B. */
  def seedUrl(i: Long, nHosts: Int = 100, seed: Long = DefaultSeed): SeedUrl = {
    val b = new Array[Byte](64) // the longest key, "seed:" + 2 longs + ":host:", is 51
    val pre = putDigits(b, putAscii(b, 0, "seed:"), seed, 10)
    val hostKey = putDigits(b, putAscii(b, pre, ":host:"), i, 10)
    val h = zipfHost(unitOf(Hashing.xx64(b, hostKey)), nHosts)
    val idKey = putDigits(b, putAscii(b, pre, ":id:"), i, 10)
    val id = Hashing.xx64(b, idKey) & Long.MaxValue
    var end = putAscii(b, 0, "http://host")
    end = putDigits(b, end, h, 10)
    end = putAscii(b, end, ".example.com/v/")
    end = putDigits(b, end, id, 36)
    SeedUrl(new String(b, 0, end, java.nio.charset.StandardCharsets.ISO_8859_1), 0, i)
  }

  /** Writes ASCII `s` at `at`; returns the end. */
  private def putAscii(b: Array[Byte], at: Int, s: String): Int = {
    var k = 0
    while (k < s.length) { b(at + k) = s.charAt(k).toByte; k += 1 }
    at + s.length
  }

  /** Writes `v` at `at` as `java.lang.Long.toString(v, radix)` spells it;
    * returns the end. Digits come from the negated magnitude, which also
    * holds Long.MinValue. */
  private def putDigits(b: Array[Byte], at: Int, v: Long, radix: Int): Int = {
    val start = if (v < 0) { b(at) = '-'; at + 1 } else at
    var n = 0
    var x = if (v > 0) -v else v
    do { n += 1; x /= radix } while (x != 0)
    x = if (v > 0) -v else v
    var p = start + n
    do { p -= 1; b(p) = Character.forDigit(-(x % radix).toInt, radix).toByte; x /= radix } while (x != 0)
    start + n
  }

  /** The seed list: n urls over ~nHosts hosts, zipf-skewed; seq = line
    * number (FIFO parity key); priority 0. */
  def seedUrls(n: Int, nHosts: Int = 100, seed: Long = DefaultSeed): Seq[SeedUrl] =
    (0L until n.toLong).map(seedUrl(_, nHosts, seed))

  // ---- host policies (robots + crawl delay) --------------------------

  /** The crawl-delay menu (ms) — single source for the scalar policy
    * and its column twin below. */
  val Delays: Array[Long] = Array(100L, 200L, 500L, 1000L, 5000L)

  /** Per-host policy: crawl delay in {100,200,500,1000,5000} ms by hash;
    * ~5% of hosts disallow /v/ entirely (robots gate). Every enqueue
    * path derives its robots verdict from this one function
    * (`Frontier.toEntries`/`toEntriesLocal`, the parity oracle). */
  def hostPolicy(host: String, seed: Long = DefaultSeed): HostPolicy = {
    val d = Delays((nn(s"policy:$seed:delay:$host") % Delays.length).toInt)
    val dis =
      if (unit(s"policy:$seed:robots:$host") < 0.05) Seq("/v/")
      else Seq.empty
    HostPolicy(host, d, dis)
  }

  /** Column twin of `hostPolicy(host, seed).crawlDelayMs` — pure
    * builtins (codegen'd), bit-identical to the scalar by construction:
    * Spark's `xxhash64` over the concatenated key string IS
    * `Hashing.xx64`, and `& Long.MaxValue` + `pmod` reproduce `nn` + `%`
    * on the non-negative result. Keeps the claim path UDF-free. */
  def crawlDelayMsCol(host: org.apache.spark.sql.Column,
                      seed: Long = DefaultSeed): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val nnCol = xxhash64(concat(lit(s"policy:$seed:delay:"), host))
      .bitwiseAND(lit(Long.MaxValue))
    element_at(typedLit(Delays.toSeq),
      (pmod(nnCol, lit(Delays.length.toLong)) + 1L).cast("int"))
  }

  def isDisallowed(url: String, policy: HostPolicy): Boolean =
    isDisallowedCanonical(Hashing.canonicalize(url), policy)

  /** `isDisallowed` of an already canonical url `c`. */
  def isDisallowedCanonical(c: String, policy: HostPolicy): Boolean = {
    val i = c.indexOf("://")
    val path = if (i < 0) c else {
      val j = c.indexOf('/', i + 3)
      if (j < 0) "/" else c.substring(j)
    }
    policy.disallowPrefixes.exists(path.startsWith)
  }

  // ---- fetch oracle ---------------------------------------------------

  val UnavailableRate = 0.10 // reference: missing subs raise → failed
  val TooLargeRate    = 0.02 // reference: 500 MB cap → failed

  private val vocab: Array[String] =
    ("съешь ещё этих мягких французских булок да выпей же чаю " +
      "speech data model корпус разметка слова кадр поток").split(" ")

  /** splitmix64-style combiner — allocation-free numeric keys for the
    * per-word value streams (string keys churned ~200 allocs/url). */
  private def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def nnm(a: Long, b: Long, c: Long): Long =
    mix(mix(a, b), c) & Long.MaxValue

  /** Deterministic timed words for a url: 20–80 words, ~300–600 ms each
    * with small gaps; a silence gap every ~12 words (drives segmentation). */
  def words(urlFp: Long, seed: Long): Seq[TimedWord] = {
    val n = 20 + (nnm(urlFp, seed, -1L) % 61).toInt
    var t = 0L
    (0 until n).map { i =>
      val dur = 300 + (nnm(urlFp, seed ^ 0x1111L, i.toLong) % 301)
      val gap =
        if (i > 0 && i % 12 == 0) 800 + (nnm(urlFp, seed ^ 0x2222L, i.toLong) % 400)
        else 50 + (nnm(urlFp, seed ^ 0x3333L, i.toLong) % 50)
      val start = t + gap
      val end = start + dur
      t = end
      val w = vocab((nnm(urlFp, seed ^ 0x4444L, i.toLong) % vocab.length).toInt)
      TimedWord(start, end, w)
    }
  }

  /** ms → `h:mm:ss.mmm` (the inline-timecode wire format). */
  def fmtTimecode(ms: Long): String = {
    val h = ms / 3600000L; val m = (ms / 60000L) % 60
    val s = (ms / 1000L) % 60; val r = ms % 1000
    f"$h%d:$m%02d:$s%02d.$r%03d"
  }

  /** Serialize the word track as an autosub-style cue stream (S7/F5/X5
    * input): words grouped into cues at the silence-gap boundaries
    * (every 12 words — the same rule words() uses for gap injection),
    * each cue in YouTube's rolling two-row format — row 1 repeats the
    * previous cue's text, row 2 carries this cue's words with inline
    * `<h:mm:ss.mmm>` timecodes before every word but the first.
    * Deterministically injected malformed cues exercise the fixup
    * rules: single-row annotation cues with no timecodes (dropped by
    * the <2-rows rule) and multi-word rows with no timecodes (dropped
    * by the >1-word rule) — both are shapes real autosubs produce
    * (utils/youtube_downloader.py:102-107). */
  def cues(urlFp: Long, seed: Long, ws: Seq[TimedWord]): Seq[RawCue] = {
    if (ws.isEmpty) return Seq.empty
    val out = Seq.newBuilder[RawCue]
    var prevRow = "" // rolling first row; empty only before the first cue
    ws.grouped(12).zipWithIndex.foreach { case (g, gi) =>
      val sb = new StringBuilder
      sb.append(g.head.word)
      g.tail.foreach { w =>
        sb.append('<').append(fmtTimecode(w.startMs)).append("><c> ")
          .append(w.word).append("</c>")
      }
      val row2 = sb.toString
      val text = if (prevRow.isEmpty) " \n" + row2 else prevRow + "\n" + row2
      out += RawCue(g.head.startMs, g.last.endMs, text)
      prevRow = g.map(_.word).mkString(" ")
      // fixup-rule fodder between real cues (~15% each, seeded)
      if (unit(s"cue1:$seed:$urlFp:$gi") < 0.15)
        out += RawCue(g.last.endMs, g.last.endMs + 100, "[музыка]")
      if (unit(s"cue2:$seed:$urlFp:$gi") < 0.15)
        out += RawCue(g.last.endMs, g.last.endMs + 100, prevRow + "\nшум в зале")
    }
    out.result()
  }

  /** 10 ms speech/silence frames covering the word track (speech where
    * any word overlaps the frame) — segmentation input (§2.10). */
  def frames(ws: Seq[TimedWord]): Array[Boolean] = {
    if (ws.isEmpty) return Array.emptyBooleanArray
    val endMs = ws.last.endMs + 500
    val n = (endMs / 10).toInt + 1
    val speech = new Array[Boolean](n)
    ws.foreach { w =>
      var f = (w.startMs / 10).toInt
      val fEnd = (w.endMs / 10).toInt
      while (f <= fEnd && f < n) { speech(f) = true; f += 1 }
    }
    speech
  }

  /** The synthetic fetch: pure function url → payload | unavailable |
    * too-large. Images are smooth cosine fields (PSNR-friendly, see
    * ImageCodec.synthPixels); fmt ~50/50 png|jpg by hash. */
  def fetch(url: String, seed: Long = DefaultSeed): FetchPayload = {
    val f = Hashing.fp(url)
    if (unit(s"avail:$seed:$f") < UnavailableRate)
      FetchPayload(ok = false, error = "unavailable: no captions", Array.emptyByteArray, 0, 0, null, Array.emptyBooleanArray, Seq.empty)
    else if (unit(s"size:$seed:$f") < TooLargeRate)
      FetchPayload(ok = false, error = "too large: exceeds cap", Array.emptyByteArray, 0, 0, null, Array.emptyBooleanArray, Seq.empty)
    else {
      val dims = Array(32, 64, 128)
      val w = dims((nn(s"w:$seed:$f") % 3).toInt)
      val h = dims((nn(s"h:$seed:$f") % 3).toInt)
      val fmt = if (unit(s"fmt:$seed:$f") < 0.5) "png" else "jpg"
      // reused per-thread buffer: consumed by encode() before this
      // thread can synth the next image — single-consumer, safe
      val px = ImageCodec.synthPixelsReused(w, h, Hashing.xx64(s"px:$seed:$f"))
      val bytes = ImageCodec.encode(ImageCodec.toImage(w, h, px), fmt)
      val ws = words(f, seed)
      val cs = cues(f, seed, ws)
      // frames derive from the PARSED words — the track the pipeline
      // will actually align against (cue serialization merges intra-cue
      // gaps into word ends; the big inter-cue silences survive and
      // drive segmentation)
      val parsed = graft.pipeline.CueParser.parse(cs)
      FetchPayload(ok = true, error = null, bytes = bytes, w = w, h = h,
        fmt = fmt, frames = frames(parsed), cues = cs)
    }
  }

  /** Deterministic outlink expansion: each fetched url discovers 0–3
    * urls from a bounded universe (so the dedup gate has real work).
    * Reference analog: playlist/search seed expansion (S4). */
  def outlinks(url: String, universe: Int, nHosts: Int = 100,
               seed: Long = DefaultSeed): Seq[String] = {
    val f = Hashing.fp(url)
    val n = (nn(s"out:$seed:$f:n") % 4).toInt
    (0 until n).map { i =>
      val target = nn(s"out:$seed:$f:t:$i") % universe
      val h = zipfHost(unit(s"seed:$seed:host:$target"), nHosts)
      val id = java.lang.Long.toString(nn(s"seed:$seed:id:$target"), 36)
      s"http://host$h.example.com/v/$id"
    }
  }

  /** Paginated keyword-search expansion (reference: the keyword queue
    * utils/queue_utils.py:42-57 + the 50-per-page recursive scan
    * yt_playlist_videos_parser.py:40-71, MAX_PAGES guard :36).
    * Returns (urls-on-page, nextPageToken?) — bounded, deterministic. */
  val SearchPageSize = 20
  val SearchMaxPages = 3

  def searchPage(query: String, page: Int, universe: Int,
                 nHosts: Int = 100, seed: Long = DefaultSeed): (Seq[String], Option[Int]) = {
    val urls = (0 until SearchPageSize).map { i =>
      val target = nn(s"search:$seed:$query:$page:$i") % universe
      val h = zipfHost(unit(s"seed:$seed:host:$target"), nHosts)
      val id = java.lang.Long.toString(nn(s"seed:$seed:id:$target"), 36)
      s"http://host$h.example.com/v/$id"
    }
    val next = if (page + 1 < SearchMaxPages &&
      unit(s"searchnext:$seed:$query:$page") < 0.8) Some(page + 1) else None
    (urls, next)
  }

  /** Image id for a url — "v" + base36(fp) (FIXTURES.md §1). */
  def imageId(url: String): String = {
    val f = Hashing.fp(url)
    "v" + java.lang.Long.toString(f & Long.MaxValue, 36)
  }
}
