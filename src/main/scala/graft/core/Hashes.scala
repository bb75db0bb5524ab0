package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Normative hashing (SURVEY.md §8.1; reference unrecoverable, SURVEY.md §0.1).
  *
  *  - `url_hash64` = xxHash64(utf8(canonical_url), seed=42) — EXACTLY the value the
  *    Spark SQL builtin `xxhash64(col)` produces (same class, same default seed), so
  *    a hash computed driver-side in pure Scala and a hash computed in a codegen'd
  *    column expression agree bit-for-bit. Used for bloom keys and crawl ordering.
  *  - exact URL-seen key = murmur3_128 (Guava, in /opt/spark/jars) as two longs
  *    (hi, lo). 128 bits so the exact seen-set can ignore collisions at 10^10 URLs
  *    (p ≈ 2.7e-19 at 1e10 keys).
  */
object Hashes {
  final val XxSeed = 42L

  /** Matches Spark SQL `xxhash64(string)` (seed 42). */
  def xxh64(s: String, seed: Long = XxSeed): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  /** Deterministic long mixer for the synthetic web (xxh64 of a long). */
  def mix(seed: Long, i: Long): Long = XXH64.hashLong(i, seed)

  /** 128-bit exact key: murmur3_128(utf8(s)) as (hi, lo) — little-endian longs of
    * the 16-byte digest, matching Guava's HashCode byte order. */
  def murmur128(s: String): (Long, Long) = {
    val bytes =
      com.google.common.hash.Hashing.murmur3_128().hashString(s, UTF_8).asBytes()
    (leLong(bytes, 0), leLong(bytes, 8))
  }

  private def leLong(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
    val hex = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      hex(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      hex(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(hex)
  }
}
