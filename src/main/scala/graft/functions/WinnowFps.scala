package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowing fingerprints (the MOSS scheme) as ONE native expression:
  * text → array of distinct selected gram-hash minima.
  *
  * Semantics are bit-identical to the declarative three-`transform`
  * formulation it replaces (and to the DuckDB oracle SQL): code points of
  * the text, degree-(k-1) polynomial gram hash base 257 mod 1e9+7 with
  * the power constants pre-reduced mod 1e9+7, min over each window of w
  * consecutive gram hashes, per-document distinct. Fusing it into one
  * generated-code call does in a single O(n) primitive-array pass what
  * the declarative shape paid three boxed `ArrayData` materializations
  * plus a `dropDuplicates` SHUFFLE for (distinctness is established
  * inside the row, so nothing downstream needs a dedup exchange) —
  * measured 4.0 s → sub-second on the sf0.1 bench.
  *
  * k and w arrive as foldable int literals (checked at bind time), so
  * plans stay serializable and the registry signature stays SQL-callable:
  * `winnow_fps(text, 5, 4)`.
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"winnow_fps requires a string argument, got ${child.dataType}")
    else if (k < 1 || w < 1)
      TypeCheckResult.TypeCheckFailure(s"winnow_fps requires k >= 1 and w >= 1, got k=$k w=$w")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(input: Any): Any =
    WinnowFps.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFps.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

object WinnowFps {

  private final val Mod = 1000000007L
  private final val Base = 257L

  /** Shared by interpreted eval and generated code. One primitive pass:
    * decode code points, roll the polynomial per gram, take window minima,
    * sort + unique in place. No boxing, no intermediate ArrayData.
    */
  def compute(s: UTF8String, k: Int, w: Int): ArrayData = {
    val str = s.toString
    val len = str.length
    // code points (DuckDB `ord(substr(text,i,1))` semantics; equals the
    // UTF-16 unit only outside the astral planes, so decode properly)
    var n = 0
    var i = 0
    while (i < len) { i += Character.charCount(str.codePointAt(i)); n += 1 }
    val ng = n - k + 1
    val nw = ng - w + 1
    if (nw <= 0) return new GenericArrayData(Array.emptyLongArray)
    val cs = new Array[Int](n)
    i = 0
    var ci = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      cs(ci) = cp
      ci += 1
      i += Character.charCount(cp)
    }
    // pre-reduced powers of 257 mod 1e9+7, highest power first
    val pows = new Array[Long](k)
    pows(k - 1) = 1L
    var p = k - 2
    while (p >= 0) { pows(p) = pows(p + 1) * Base % Mod; p -= 1 }
    val grams = new Array[Long](ng)
    var j = 0
    while (j < ng) {
      var h = 0L
      var o = 0
      while (o < k) { h += cs(j + o) * pows(o); o += 1 }
      grams(j) = h % Mod
      j += 1
    }
    val fps = new Array[Long](nw)
    var x = 0
    while (x < nw) {
      var m = grams(x)
      var o = 1
      while (o < w) { if (grams(x + o) < m) m = grams(x + o); o += 1 }
      fps(x) = m
      x += 1
    }
    java.util.Arrays.sort(fps)
    var uniq = 1
    x = 1
    while (x < nw) {
      if (fps(x) != fps(x - 1)) { fps(uniq) = fps(x); uniq += 1 }
      x += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(fps, uniq))
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def winnowFps(c: Column, k: Int, w: Int): Column =
    call_function("winnow_fps", c, lit(k), lit(w))
}
