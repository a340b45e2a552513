package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Intersection CARDINALITY of two ascending-sorted long arrays as a
  * native Catalyst expression with whole-stage codegen — the verify
  * kernel of the exact near-dup joins ([[graft.operators.Dedup]]).
  *
  * Replaces `size(array_intersect(ha, hb))` on the per-candidate-pair
  * hot path. Spark's `ArrayIntersect` is allocation-bound per ROW: it
  * builds a boxed `OpenHashSet` over one side, a seen-set over the
  * other, and materializes the intersection array — only for `size` to
  * throw everything away. At stress scale (44 M candidate pairs ×
  * multi-hundred-element shingle signatures) that per-row garbage is
  * the dominant GC load of the whole dedup family. This expression is a
  * fused two-pointer merge over the unsafe array words: zero
  * allocation, no boxing, primitive `getLong` reads.
  *
  * Contract: both inputs must be ascending-sorted SETS (distinct
  * elements), which is exactly what `array_sort(collect_set(...))`
  * produces — the only call shape in this repo. On multiset inputs the
  * merge counts matched element runs pairwise (equal values advance
  * both cursors), which is `size(array_intersect)` semantics only for
  * sets; sortedness is the caller's obligation (unsorted inputs
  * undercount, exactly like a merge join fed unsorted runs). Null
  * elements terminate the scan: `array_sort` ascending places nulls
  * LAST, so for array_sort-shaped inputs the scan has already consumed
  * every non-null element when it stops (collect_set never emits null,
  * so the guard is defensive, not load-bearing).
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_intersect_count requires array<bigint> arguments, got $l, $r")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb && !a.isNullAt(i) && !b.isNullAt(j)) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb && !$a.isNullAt($i) && !$b.isNullAt($j)) {
         |  long $x = $a.getLong($i);
         |  long $y = $b.getLong($j);
         |  if ($x < $y) { $i++; }
         |  else if ($x > $y) { $j++; }
         |  else { $c++; $i++; $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectCount {
  /** Column-level entry point (resolves by name through [[Natives]]). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** JVM-side twin of the expression for callers outside Catalyst (the
    * grid-cogroup verify in [[graft.operators.Dedup]] holds plain
    * `Array[Long]` signatures, not `ArrayData`). Same two-pointer merge,
    * same sorted-set contract as the expression's scaladoc; collect_set
    * never emits nulls so the primitive arrays need no null guard.
    */
  def merge(a: Array[Long], b: Array[Long]): Int = {
    var i = 0
    var j = 0
    var c = 0
    while (i < a.length && j < b.length) {
      val x = a(i)
      val y = b(j)
      if (x < y) i += 1
      else if (x > y) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }
}
