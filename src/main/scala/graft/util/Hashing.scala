package graft.util

import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** URL canonicalization + 64-bit fingerprints (SURVEY.md §2.8 X12).
  * `xx64` is XXH64 over the UTF-8 bytes with seed 42 — the catalyst
  * kernel behind Spark's `xxhash64(col)`, so the two agree bit for bit
  * (CodecHashSpec); the column form is used only where a plan must stay
  * UDF-free (`Synth.crawlDelayMsCol`).
  */
object Hashing {

  val XxSeed = 42L

  /** Deterministic canonical form: trim (every char ≤ U+0020), lowercase
    * scheme+host (locale-independent), strip fragment, strip default
    * :80, empty path → "/". */
  // default-port strip, ANCHORED to the authority — ":80/" later in the
  // path must never match or distinct urls collapse to one fingerprint
  private val DefaultPort = java.util.regex.Pattern
    .compile("^([a-z][a-z0-9+.-]*://[^/:]*):80(/|$)")

  def canonicalize(raw: String): String = {
    val t = raw.trim
    val noFrag = { val i = t.indexOf('#'); if (i >= 0) t.substring(0, i) else t }
    // lowercase scheme://host part only; path is case-sensitive
    val schemeEnd = noFrag.indexOf("://")
    val s =
      if (schemeEnd < 0) noFrag
      else {
        val hostEnd0 = noFrag.indexOf('/', schemeEnd + 3)
        val hostEnd = if (hostEnd0 < 0) noFrag.length else hostEnd0
        noFrag.substring(0, hostEnd).toLowerCase(java.util.Locale.ROOT) + noFrag.substring(hostEnd)
      }
    val noPort = DefaultPort.matcher(s).replaceFirst("$1$2")
    if (noPort.contains("://") && noPort.indexOf('/', noPort.indexOf("://") + 3) < 0)
      noPort + "/"
    else noPort
  }

  /** JVM xxhash64 of a UTF-8 string, seed 42 — bit-identical to the
    * `xxhash64` Spark SQL function on a StringType column. */
  def xx64(s: String): Long = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    xx64(b, b.length)
  }

  /** `xx64` of the first `len` bytes of `b` (a key already encoded). */
  def xx64(b: Array[Byte], len: Int): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, len, XxSeed)

  /** URL fingerprint (JVM). */
  def fp(url: String): Long = xx64(canonicalize(url))

  /** Host of a canonical URL (JVM). */
  def host(url: String): String = canonicalHost(canonicalize(url))

  /** `host` of an already canonical url `c`. */
  def canonicalHost(c: String): String = {
    val i = c.indexOf("://")
    if (i < 0) return ""
    val j = c.indexOf('/', i + 3)
    if (j < 0) c.substring(i + 3) else c.substring(i + 3, j)
  }

  private val HexUpper = "0123456789ABCDEF".toCharArray

  /** md5 (lowercase hex) of the UPPERCASE-hex rendering of `bytes` —
    * the cross-engine payload checksum (S12): Spark twin
    * `md5(hex(col))`, DuckDB twin `md5(hex(bytes))` (both engines'
    * hex-of-binary is uppercase; DuckDB's md5 only takes VARCHAR). */
  def md5OfHex(bytes: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      sb.append(HexUpper((b >> 4) & 0xf)); sb.append(HexUpper(b & 0xf))
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val out = new java.lang.StringBuilder(32)
    d.foreach(b => out.append(f"${b & 0xff}%02x"))
    out.toString
  }
}
