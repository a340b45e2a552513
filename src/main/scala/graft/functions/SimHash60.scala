package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.unsafe.types.UTF8String

/** `simhash60(text)` — 60-bit SimHash of a document as ONE native kernel: text → long
  * fingerprint, bit-identical to the declarative
  * tokenize→md5-60→sign-sum→pack pipeline it replaces (and to the DuckDB
  * oracle SQL): tokens are maximal runs between Java-regex `\s`
  * whitespace, each token OCCURRENCE contributes ±1 per bit of its
  * engine-portable 60-bit md5 digest (the first 15 hex chars —
  * `conv(substr(md5(tok),1,15),16,10)`, read here as the first 8 digest
  * bytes big-endian >>> 4), and bit i of the result is set iff its
  * sign-sum is positive.
  *
  * Why native: the declarative shape pays a vocabulary `distinct` + a
  * join back onto the occurrence stream (to amortize md5 over distinct
  * tokens) + a 60-column groupBy — two full shuffles of the token stream
  * and, at web scale, a vocabulary whose size is the operator's memory
  * cliff. Fused into one generated-code call the fingerprint is computed
  * entirely inside the row: ZERO shuffles, no vocabulary state at any
  * corpus size, embarrassingly parallel. md5 per occurrence costs more
  * arithmetic than per vocab entry, but at scale the removed exchanges
  * dominate by orders of magnitude — and the hot loop stays inside
  * whole-stage codegen.
  */
object SimHash60 {

  final val Bits = 60

  private val digests = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Java-regex `\s` (NOT `Character.isWhitespace` — the two disagree on
    * e.g. U+00A0), so tokenization matches `split(text, "\\s+")` exactly.
    */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** The kernel. One pass over the
    * UTF-16 string; per token one md5 over its UTF-8 bytes. Zero tokens
    * (empty/all-whitespace text) hashes to 0L — callers that must match
    * the declarative pipeline's dropped-empty-doc semantics filter those
    * rows out before the expression.
    */
  def compute(s: UTF8String): Long = {
    val str = s.toString
    val len = str.length
    val sums = new Array[Int](Bits)
    val md = digests.get()
    var i = 0
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) {
        md.reset()
        val d = md.digest(str.substring(start, i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 15 hex chars = first 8 bytes big-endian, dropping the low nibble
        var h = 0L
        var b = 0
        while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
        h = h >>> 4
        var bit = 0
        while (bit < Bits) {
          if (((h >>> bit) & 1L) == 1L) sums(bit) += 1 else sums(bit) -= 1
          bit += 1
        }
      }
    }
    var out = 0L
    var bit = 0
    while (bit < Bits) {
      if (sums(bit) > 0) out |= 1L << bit
      bit += 1
    }
    out
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def simhash60(c: Column): Column = call_function("simhash60", c)
}
