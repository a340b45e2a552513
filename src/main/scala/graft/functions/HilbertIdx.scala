package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index (classic xy2d) of a `bits`-bit (x, y) cell as a
  * native codegen expression — the hot kernel of `hilbert_layout`.
  *
  * The rotation fold is a trivial `bits`-iteration integer loop; spelled
  * as a SQL higher-order `aggregate` it runs interpreted with a
  * per-level struct allocation per row (measured ~9× the Morton
  * projection on the same scan), while this expression compiles into
  * the scan's whole-stage-generated code like any arithmetic op. The
  * interpreted twin in the companion object is the single source of
  * truth for the recurrence — `nullSafeEval`, the generated code, the
  * ScalaTest reference and the DuckDB oracle unroll all state the same
  * arithmetic.
  *
  * `bits` arrives as a foldable int literal (the WinnowFps pattern) and
  * MUST equal the quantization width: running the fold for more levels
  * than the data has bits would add orientation-only swap rounds and
  * yield a different (still Hilbert, differently rotated) index than
  * the oracle's unroll.
  */
case class HilbertIdx(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = {
    if (left.dataType == LongType && right.dataType == LongType &&
        bits >= 1 && bits <= 31)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hilbert_xy2d requires (bigint, bigint) and bits in [1, 31], " +
        s"got (${left.dataType}, ${right.dataType}), bits=$bits")
  }

  override def nullSafeEval(x: Any, y: Any): Any =
    HilbertIdx.xy2d(bits, x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (xc, yc) => {
      val x = ctx.freshName("hx")
      val y = ctx.freshName("hy")
      val d = ctx.freshName("hd")
      val s = ctx.freshName("hs")
      val rx = ctx.freshName("hrx")
      val ry = ctx.freshName("hry")
      val t = ctx.freshName("ht")
      s"""
         |long $x = $xc;
         |long $y = $yc;
         |long $d = 0L;
         |for (long $s = 1L << ${bits - 1}; $s > 0; $s >>= 1) {
         |  long $rx = (($x & $s) > 0) ? 1L : 0L;
         |  long $ry = (($y & $s) > 0) ? 1L : 0L;
         |  $d += $s * $s * (($rx == 1L) ? (3L - $ry) : $ry);
         |  if ($ry == 0L) {
         |    if ($rx == 1L) { $x = $s - 1L - $x; $y = $s - 1L - $y; }
         |    long $t = $x; $x = $y; $y = $t;
         |  }
         |}
         |${ev.value} = $d;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIdx =
    copy(left = newLeft, right = newRight)
}

object HilbertIdx {

  /** Interpreted twin of the generated loop — the recurrence's single
    * source of truth (shared with tests; the DuckDB oracle unrolls the
    * same arithmetic).
    */
  def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var x = x0
    var y = y0
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * (if (rx == 1L) 3L - ry else ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def hilbertXy2d(x: Column, y: Column, bits: Int): Column =
    call_function("hilbert_xy2d", x, y, lit(bits))
}
