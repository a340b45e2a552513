package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** `maxsim_micro(qv, emb, tokens, subDim)` — the ColBERT-style MaxSim
  * late-interaction score of two flat multi-token vectors as ONE native
  * codegen expression:
  *
  *   Σ_{i<tokens} max_{j<tokens} floor(dot(qv[i·S..], emb[j·S..]) · 1e6)
  *
  * with S = subDim and each sub-dot a left-to-right double accumulation
  * over cast-to-double elements — operation for operation the SQL
  * higher-order spelling it replaces
  * ([[graft.operators.Retrieval.maxSimTopK]]'s
  * `aggregate(sequence(...), ..., array_max(transform(...)))`), so the
  * value is bit-identical and the `maxsim_topk` oracle hash cannot move.
  *
  * Why native: the HOF spelling evaluates INTERPRETED (higher-order
  * functions are CodegenFallback) with one lambda frame per element —
  * tokens²·subDim = 256 boxed lambda invocations per (corpus row ×
  * query) pair, on the hot side of the broadcast join. This is the same
  * hazard [[VecDot]] closed for the plain-dot operators; here the loop
  * nest is fused into one static JVM method the JIT compiles once.
  *
  * Odd-input discipline (never occurs in the embeddings fixture, which
  * FixtureSchemaSpec pins as non-null 64-d float arrays): a NULL array
  * is null (BinaryExpression null-intolerance, same as the HOF spelling
  * whose aggregate over a null array is null); an array shorter than
  * tokens·subDim is a LOUD error — the SQL spelling's `element_at`
  * (failOnError) throws there too, and silently zero-padding a
  * truncated embedding at 100 TB is how wrong scores ship quietly.
  */
case class MaxSimMicro(left: Expression, right: Expression, tokens: Int,
    subDim: Int) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _))
        if tokens >= 1 && subDim >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"maxsim_micro requires array<float|double> arguments and tokens/subDim >= 1, " +
          s"got $l, $r, tokens=$tokens, subDim=$subDim")
  }

  private def isFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    MaxSimMicro.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      tokens, subDim, isFloat(left.dataType), isFloat(right.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, e) =>
      s"${ev.value} = graft.functions.MaxSimMicro.compute($q, $e, $tokens, " +
        s"$subDim, ${isFloat(left.dataType)}, ${isFloat(right.dataType)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxSimMicro =
    copy(left = newLeft, right = newRight)
}

object MaxSimMicro {

  /** Shared by interpreted eval and generated code: the fused
    * tokens × tokens × subDim loop nest. Inner sub-dot accumulates
    * left-to-right in double (elements widened exactly as the SQL
    * CAST), quantizes floor(s·1e6) to long, maxes over the corpus
    * token j, sums over the query token i — the identical operation
    * order as the HOF spelling, so every intermediate double and the
    * final long are bit-equal. Overflow matches too: `.toLong` saturates
    * a token's floor like SQL's `CAST(... AS BIGINT)`, and the sum over
    * tokens raises on overflow like the HOF's ANSI BIGINT `acc + …`.
    */
  def compute(qv: ArrayData, emb: ArrayData, tokens: Int, subDim: Int,
      qFloat: Boolean, eFloat: Boolean): Long = {
    val need = tokens * subDim
    if (qv.numElements() < need || emb.numElements() < need) {
      throw new IllegalArgumentException(
        s"maxsim_micro: arrays must carry tokens*subDim = $need elements, " +
          s"got ${qv.numElements()} and ${emb.numElements()}")
    }
    var acc = 0L
    var i = 0
    while (i < tokens) {
      var best = Long.MinValue
      var j = 0
      while (j < tokens) {
        var s = 0.0
        var kk = 0
        while (kk < subDim) {
          val x = if (qFloat) qv.getFloat(i * subDim + kk).toDouble
                  else qv.getDouble(i * subDim + kk)
          val y = if (eFloat) emb.getFloat(j * subDim + kk).toDouble
                  else emb.getDouble(j * subDim + kk)
          s += x * y
          kk += 1
        }
        val d = math.floor(s * 1e6).toLong
        if (d > best) best = d
        j += 1
      }
      acc = Math.addExact(acc, best)
      i += 1
    }
    acc
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def maxSim(qv: Column, emb: Column, tokens: Int, subDim: Int): Column =
    call_function("maxsim_micro", qv, emb, lit(tokens), lit(subDim))
}
