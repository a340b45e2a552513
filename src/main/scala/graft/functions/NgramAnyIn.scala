package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** `ngram_any_in(text, n, hashes)` — true iff ANY word n-gram of `text`
  * xxhash64-seed-42-hashes into the given (bounded) hash set. The
  * streaming-decontamination probe as ONE native kernel: the batch
  * decontaminate's `xxhash64(shingle) IN eval_set` predicate evaluated
  * row-locally inside whole-stage codegen, replacing the Row-lambda
  * filter that crossed the codegen/JVM-object boundary per row and paid
  * a boxed `Set[Long]` lookup per n-gram.
  *
  * Semantics are pinned to the SQL side bit-for-bit: tokens are
  * [[graft.operators.TextAnalysis.whitespaceTokens]]'s (SQL `trim` strips
  * ASCII spaces ONLY — never \t/\n/\r — and SQL `split` keeps leading and
  * trailing empty tokens), n-grams join n consecutive tokens with a single
  * space, and the hash is the `xxhash64` builtin's seed-42 XXH64 over the
  * n-gram's UTF-8 bytes. The hash set arrives as a foldable array<bigint> literal
  * (eval suites are bounded by construction — they don't grow with the
  * corpus), is sorted once per call, and each probe is a primitive
  * binary search: no broadcast machinery, no boxing, serializable plans.
  */
object NgramAnyIn {

  /** Tokenize EXACTLY as [[graft.operators.TextAnalysis.whitespaceTokens]]
    * does in SQL: SQL `trim` strips ASCII spaces only (never \t/\n/\r —
    * unlike JVM `String.trim`) and SQL `split` keeps leading AND trailing
    * empty tokens (Java needs limit -1 for the trailing ones). Any divergence here silently breaks
    * the stream/batch decontamination agreement StreamingSpec asserts.
    */
  def sqlWhitespaceTokens(s: String): Array[String] = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    s.substring(b, e).split("\\s+", -1)
  }

  /** The kernel. `sorted` MUST be sorted ascending (its [[Natives]] row
    * sorts the literal once per call); each window's
    * joined n-gram is hashed with the `xxhash64` builtin's seed (42) and
    * binary-searched — short-circuits on the first hit.
    */
  def anyIn(s: UTF8String, n: Int, sorted: Array[Long]): Boolean = {
    if (sorted.length == 0) return false
    val toks = sqlWhitespaceTokens(s.toString)
    if (toks.length < n) return false
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      if (java.util.Arrays.binarySearch(sorted, ngramHash(toks, i, n, sb)) >= 0) return true
      i += 1
    }
    false
  }

  /** The `xxhash64` builtin's value (seed 42) of the `n` tokens from `i`
    * joined by single spaces, built in `sb`.
    */
  private[functions] def ngramHash(toks: Array[String], i: Int, n: Int,
      sb: java.lang.StringBuilder): Long = {
    sb.setLength(0)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(toks(i + j))
      j += 1
    }
    val g = UTF8String.fromString(sb.toString)
    XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def ngramAnyIn(c: Column, n: Int, hashes: Array[Long]): Column =
    call_function("ngram_any_in", c, lit(n), lit(hashes))
}
