package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `shingle_hashes(text, n)` — ALL word-n-gram xxhash64 values of a
  * document in ONE native expression: the hot first stage of every
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
  * spec-pinned; ShingleHashesSpec additionally pins THIS expression
  * against the full SQL pipeline on real and adversarial docs.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"shingle_hashes requires a string argument, got ${child.dataType}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"shingle_hashes requires n >= 1, got n=$n")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.hashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.hashes($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {

  /** Shared by interpreted eval and generated code: tokenize once, hash
    * every n-window. Same join+hash operations as [[NgramAnyIn.anyIn]],
    * collecting instead of probing.
    */
  def hashes(s: UTF8String, n: Int): GenericArrayData = {
    val toks = NgramAnyIn.sqlWhitespaceTokens(s.toString)
    if (toks.length < n) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](toks.length - n + 1)
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i <= toks.length - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val g = UTF8String.fromString(sb.toString)
      out(i) = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def shingleHashes(c: Column, n: Int): Column =
    call_function("shingle_hashes", c, lit(n))
}
