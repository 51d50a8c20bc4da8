package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** The tokenize step and the md5-prefix hash shared by the text-hash
  * natives ([[ShingleHashes]], [[MinhashSignature]], [[SimhashText]]).
  *
  * Tokens are exactly [[graft.text.TextOps.tokens]]' — Spark
  * `filter(split(trim(text), "\\s+"), length > 0)` — computed on the UTF-8
  * bytes: a token is a maximal run of bytes outside Java's `\s` class
  * (space, \t, \n, \u000B, \f, \r). Trim (Spark's, 0x20 only) and the
  * dropped empties only remove what such a split leaves at the ends, and
  * the six whitespace bytes never occur inside a multi-byte UTF-8
  * sequence, so the token set is the same for any valid UTF-8 text.
  *
  * Hashes are prefixes of md5 over the UTF-8 bytes, the portable family of
  * [[graft.text.TextOps.tokenHash60]]: the first `bits`/4 hex digits as a
  * non-negative long.
  */
private[functions] object TextHash {

  /** Token `i` is `bytes[start(i), end(i))`, for `i < n`. */
  final class Tokens(val bytes: Array[Byte], val start: Array[Int],
                     val end: Array[Int], val n: Int)

  private def isSpace(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  def tokens(text: UTF8String): Tokens = {
    val bytes = text.getBytes
    val start = new Array[Int](bytes.length / 2 + 1)
    val end = new Array[Int](bytes.length / 2 + 1)
    var n = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isSpace(bytes(i))) i += 1
      if (i < bytes.length) {
        start(n) = i
        while (i < bytes.length && !isSpace(bytes(i))) i += 1
        end(n) = i
        n += 1
      }
    }
    new Tokens(bytes, start, end, n)
  }

  /** One MessageDigest per thread — getInstance per row would dominate the
    * loop for short docs. */
  private val mdPool: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val digestBuf: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](16))

  /** The first `bits` (≤ 63) bits of md5 of tokens `from until from + n`
    * joined with "|" — for `bits` = 60, `tokenHash60` of the n-gram
    * string `concat_ws("|", …)`. */
  def md5Prefix(t: Tokens, from: Int, n: Int, bits: Int): Long = {
    val md = mdPool.get()
    val dig = digestBuf.get()
    var j = from
    while (j < from + n) {
      if (j > from) md.update('|'.toByte)
      md.update(t.bytes, t.start(j), t.end(j) - t.start(j))
      j += 1
    }
    md.digest(dig, 0, 16)
    var h = 0L
    var b = 0
    while (b < 8) { h = (h << 8) | (dig(b) & 0xffL); b += 1 }
    h >>> (64 - bits)
  }

  /** The sorted, distinct 60-bit hashes of the "|"-joined word n-grams of
    * `text`; empty below n tokens. */
  def shingleHashes(text: UTF8String, n: Int): Array[Long] = {
    val t = tokens(text)
    if (t.n < n) return new Array[Long](0)
    val hs = new Array[Long](t.n - n + 1)
    var i = 0
    while (i < hs.length) { hs(i) = md5Prefix(t, i, n, 60); i += 1 }
    java.util.Arrays.sort(hs)
    var m = 0
    i = 0
    while (i < hs.length) {
      if (m == 0 || hs(i) != hs(m - 1)) { hs(m) = hs(i); m += 1 }
      i += 1
    }
    if (m == hs.length) hs else java.util.Arrays.copyOf(hs, m)
  }
}
