package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Dot product of two numeric arrays as a native Catalyst expression with
  * whole-stage codegen — the hot kernel of every similarity operator
  * ([[graft.operators.Similarity]]).
  *
  * Accumulation is a left-to-right double sum over per-element products
  * (each element widened to double first), bit-identical to DuckDB's
  * `list_sum(list_transform(...))` evaluation order — which is what keeps
  * the ANN oracle compare exact. Replaces the
  * `aggregate(zip_with(...))` higher-order-function formulation: HOFs
  * evaluate interpreted, one lambda frame per element; this is a tight
  * fused loop inside the generated code (~30× on the all-pairs near-dup
  * join at sf0.1).
  *
  * Both sides may independently be array<float> or array<double>. Null
  * elements contribute 0; lengths may differ (the shorter bounds the loop)
  * — neither occurs in the embeddings table, but the expression must not
  * crash on odd inputs.
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) =>
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires array<float|double> arguments, got $l, $r")
  }

  private def elemIsFloat(dt: DataType): Boolean =
    dt.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val af = elemIsFloat(left.dataType)
    val bf = elemIsFloat(right.dataType)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left.dataType)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right.dataType)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += ((double) $a.$aGet($i)) * ((double) $b.$bGet($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecDot {
  /** Column-level entry point (resolves by name through [[Natives]]). */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}
