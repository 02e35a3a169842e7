package graft

import graft.image.ImageCodec
import graft.synth.Synth
import graft.util.Hashing
import org.scalatest.funsuite.AnyFunSuite

class CodecHashSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("jpg roundtrip clears PSNR >= 40 dB; png exact (input_hint invariant)") {
    (0 until 20).foreach { i =>
      val pay = Synth.fetch(s"http://host$i.example.com/v/item$i")
      if (pay.ok) {
        val decoded = ImageCodec.pixels(ImageCodec.decode(pay.bytes))
        val orig = ImageCodec.synthPixels(pay.w, pay.h,
          Hashing.xx64(s"px:${Synth.DefaultSeed}:${Hashing.fp(s"http://host$i.example.com/v/item$i")}"))
        val p = ImageCodec.psnr(orig, decoded)
        if (pay.fmt == "png") assert(p.isPosInfinity, s"png not exact: $p")
        else assert(p >= 40.0, s"jpg PSNR $p < 40 for ${pay.w}x${pay.h}")
      }
    }
  }

  test("normalize: canonical PNG, pixel-preserving, idempotent, path-stable") {
    var sawJpg = false
    (0 until 20).foreach { i =>
      val url = s"http://host$i.example.com/v/item$i"
      val pay = Synth.fetch(url)
      if (pay.ok) {
        val norm = ImageCodec.normalizePng(pay.bytes)
        // PNG magic
        assert((norm(0) & 0xff) == 0x89 && norm(1) == 'P' && norm(2) == 'N' && norm(3) == 'G')
        // lossless: decoded pixels identical to the fetched container's
        assert(ImageCodec.pixels(ImageCodec.decode(norm)).toSeq ===
               ImageCodec.pixels(ImageCodec.decode(pay.bytes)).toSeq)
        // idempotent byte-for-byte (what q48 hash-gates via DuckDB)
        assert(java.util.Arrays.equals(ImageCodec.normalizePng(norm), norm))
        // the pipeline's reused-decode path emits the SAME bytes as the
        // audit's fresh-decode path — q48's renorm_md5 relies on this
        val viaReused = ImageCodec.encode(ImageCodec.decodeReused(pay.bytes), "png")
        assert(java.util.Arrays.equals(viaReused, norm))
        if (pay.fmt == "jpg") sawJpg = true
      }
    }
    assert(sawJpg, "fixture should cover lossy sources")
  }

  test("JVM xx64 matches Spark xxhash64 column bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val urls = Seq("http://HostA.example.com/v/abc#frag", "  http://h.com  ",
      "http://host1.example.com/v/xyz", "https://h.com:80/p", "http://h.com")
    val sparkSide = urls.toDF("u").select(xxhash64(col("u"))).as[Long].collect()
    val jvmSide = urls.map(Hashing.xx64)
    assert(sparkSide.toSeq === jvmSide)
  }

  test("canonicalize lowercases scheme and host whatever the JVM locale") {
    // a tr-locale toLowerCase maps 'I' to dotless 'ı': the same seed list
    // would fingerprint differently on such a machine
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
      assert(Hashing.canonicalize("HTTP://WIKI.EXAMPLE.COM/v/X") === "http://wiki.example.com/v/X")
      assert(Hashing.fp("HTTP://WIKI.EXAMPLE.COM/v/x") === Hashing.fp("http://wiki.example.com/v/x"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("seedUrl hashes its keys in place exactly as the string keys hash") {
    def byStrings(i: Long, nHosts: Int, seed: Long) = {
      val h = Synth.zipfHost(Synth.unit(s"seed:$seed:host:$i"), nHosts)
      val id = java.lang.Long.toString(Synth.nn(s"seed:$seed:id:$i"), 36)
      s"http://host$h.example.com/v/$id"
    }
    val edges = Seq(0L, 1L, 9L, 10L, -1L, -10L, 123456789L, Long.MaxValue, Long.MinValue)
    for {
      seed <- edges :+ Synth.DefaultSeed
      i <- edges ++ (0L until 300L)
      nHosts <- Seq(1, 100, 100000)
    } {
      val s = Synth.seedUrl(i, nHosts, seed)
      assert(s.url === byStrings(i, nHosts, seed), s"i=$i nHosts=$nHosts seed=$seed")
      assert(s.seq === i && s.priority === 0)
    }
  }

  test("phash is stable and distinguishes images") {
    val a = ImageCodec.synthPixels(64, 64, 1L)
    val b = ImageCodec.synthPixels(64, 64, 2L)
    val ha = ImageCodec.phash64(64, 64, a)
    assert(ha === ImageCodec.phash64(64, 64, a))
    assert(ImageCodec.hamming(ha, ImageCodec.phash64(64, 64, b)) > 0)
  }

  test("builtin md5(hex(bytes)) column matches Hashing.md5OfHex") {
    // the payload commit stores bytes_md5 via the codegen'd builtin
    // chain; the JVM twin is what the parity oracle and q31's audit
    // story assume — they must stay bit-identical (uppercase hex in,
    // lowercase digest out)
    import org.apache.spark.sql.functions.{col, hex, md5}
    import spark.implicits._
    val payloads = Seq(
      Array[Byte](), Array[Byte](0, 1, 2, -1, 127, -128),
      Synth.fetch("http://host1.example.com/v/md5pin").bytes)
    val fromCol = payloads.toDF("b").select(md5(hex(col("b")))).as[String].collect()
    payloads.zip(fromCol).foreach { case (b, c) =>
      assert(c === Hashing.md5OfHex(b))
    }
  }

  test("synthetic fetch is a pure function (same url → same bytes)") {
    val u = "http://host3.example.com/v/stable"
    val p1 = Synth.fetch(u); val p2 = Synth.fetch(u)
    assert(p1.ok === p2.ok)
    if (p1.ok) {
      assert(p1.bytes.toSeq === p2.bytes.toSeq)
      assert(p1.cues === p2.cues)
    }
  }
}
