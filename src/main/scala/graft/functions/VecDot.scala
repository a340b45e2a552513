package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function

/** `vec_dot(a, b)` — dot product of two numeric arrays as a native
  * kernel with whole-stage codegen: the hot kernel of every similarity
  * operator ([[graft.operators.Similarity]]).
  *
  * Accumulation is a left-to-right double sum over per-element products
  * (each element widened to double first), bit-identical to DuckDB's
  * `list_sum(list_transform(...))` evaluation order — which is what keeps
  * the ANN oracle compare exact. Replaces the
  * `aggregate(zip_with(...))` higher-order-function formulation: HOFs
  * evaluate interpreted, one lambda frame per element; this is a tight
  * loop called from the generated code (~30× on the all-pairs near-dup
  * join at sf0.1).
  *
  * Both sides may independently be array<float> or array<double>. Null
  * elements contribute 0; lengths may differ (the shorter bounds the loop)
  * — neither occurs in the embeddings table, but the kernel must not
  * crash on odd inputs.
  */
object VecDot {

  /** The kernel; `aFloat`/`bFloat` say which sides hold floats. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
      }
      i += 1
    }
    s
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def vecDot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
}
