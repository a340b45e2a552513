package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hashes(text, n)` — ALL word-n-gram xxhash64 values of a
  * document in ONE native kernel: the hot first stage of every
  * dedup/novelty/decontamination path
  * ([[graft.operators.Dedup.rawShingles]] + `xxhash64(shingle)`),
  * producing `size(tokens) − n + 1` longs per doc (empty array when the
  * doc has fewer than n tokens — `explode` then drops it, exactly like
  * the SQL spelling's `size(w) >= n` filter).
  *
  * Why native: the declarative spelling runs
  * `transform(sequence(...), i -> concat_ws(' ', slice(w, i+1, n)))` —
  * a higher-order function, which evaluates INTERPRETED (one lambda
  * frame per shingle) and allocates a sliced array plus a concatenated
  * UTF8String per shingle, only for `xxhash64` to consume the bytes and
  * throw the string away. This kernel tokenizes once, reuses one
  * StringBuilder, and emits only the 8-byte hashes — the strings the
  * downstream shuffles were already designed never to carry now don't
  * exist in the scan either.
  *
  * Value identity is inherited, not re-derived: tokenization is
  * [[NgramAnyIn.sqlWhitespaceTokens]] (SQL `trim` = ASCII-space-only,
  * SQL `split` keeps leading/trailing empty tokens) and the per-window
  * join+hash loop is the same code path the `ngram_any_in` probe uses —
  * the pair whose agreement with the SQL spelling is already
  * spec-pinned; ShingleHashesSpec additionally pins THIS kernel
  * against the full SQL pipeline on real and adversarial docs.
  */
object ShingleHashes {

  /** The kernel: tokenize once, hash every n-window with the
    * [[NgramAnyIn.anyIn]] probe's own n-gram hash, collecting instead of
    * probing.
    */
  def hashes(s: UTF8String, n: Int): GenericArrayData = {
    val toks = NgramAnyIn.sqlWhitespaceTokens(s.toString)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      out(i) = NgramAnyIn.ngramHash(toks, i, n, sb)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def shingleHashes(c: Column, n: Int): Column =
    call_function("shingle_hashes", c, lit(n))
}
