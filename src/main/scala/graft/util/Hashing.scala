package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.catalyst.expressions.XXH64

/** URL canonicalization + 64-bit fingerprints (SURVEY.md §2.8 X12).
  *
  * Two implementations kept bit-identical by `HashingSpec`:
  *  - JVM-side (`fp`) for the single-threaded parity oracle;
  *  - column-side (`fpCol`) using Spark's native `xxhash64` so the
  *    hot path stays inside whole-stage codegen.
  * Spark's `xxhash64(col)` = XXH64 over the UTF-8 bytes with seed 42,
  * which `fp` reproduces via the same catalyst XXH64 kernel.
  */
object Hashing {

  val XxSeed = 42L

  /** Deterministic canonical form: trim, lowercase scheme+host, strip
    * fragment, strip default :80, empty path → "/". Pure string ops so
    * the column twin is exactly expressible with builtins. */
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
        noFrag.substring(0, hostEnd).toLowerCase + noFrag.substring(hostEnd)
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
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, XxSeed)
  }

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

  /** Column twin of `canonicalize` — builtins only (codegen'd). */
  def canonicalizeCol(c: Column): Column = {
    val t = trim(c)
    // (?s): a '#' fragment may contain newlines; JVM twin cuts at the
    // first '#' unconditionally
    val noFrag = regexp_replace(t, "(?s)#.*", "")
    // lower(scheme://host) + unchanged path: split at first '/' after the
    // FIRST '://' — non-greedy .*? mirrors the JVM twin's indexOf("://")
    // (an anchored [^:]+ would skip urls whose pre-scheme text contains
    // ':' or '/', silently diverging fp from fpCol)
    val prefix = regexp_extract(noFrag, "(?s)^(.*?://[^/]*)", 1)
    val path = regexp_replace(noFrag, "(?s)^.*?://[^/]*", "")
    val recombined = concat(lower(prefix), path)
    val base = when(prefix === "", noFrag).otherwise(recombined)
    // authority-anchored default-port strip — same pattern as the JVM twin
    val noPort = regexp_replace(base, "^([a-z][a-z0-9+.-]*://[^/:]*):80(/|$)", "$1$2")
    when(noPort.rlike("://") && !noPort.rlike("://[^/]*/"), concat(noPort, lit("/")))
      .otherwise(noPort)
  }

  /** Column twin of `fp`. */
  def fpCol(c: Column): Column = xxhash64(canonicalizeCol(c))

  /** Column twin of `host`. */
  def hostCol(c: Column): Column =
    regexp_extract(canonicalizeCol(c), "(?s)^.*?://([^/]*)", 1)
}
