package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** `pq_argmin(vec, offset, subDim, centroids)` — nearest-centroid argmin
  * over a plan-literal codebook for the `[offset, offset+subDim)` slice
  * of a vector: the quantization kernel of PQ encoding, IVF cell
  * assignment and k-means, as ONE native expression.
  *
  * Replaces the `least(struct(d, c_id), …)` formulation: that tree is
  * k struct allocations + a k-deep comparator chain per evaluation, and
  * at m·k = 64 codebook entries the collapsed generated method left
  * whole-stage codegen JIT-hostile — the 10×-sf0.1 encode measured
  * ~90 µs/row (1.8 s / 20 k rows) against ~1 µs of actual arithmetic.
  * Here the codebook and its precomputed norms ride as reference
  * objects and the evaluation is two tight primitive loops.
  *
  * Bit-parity with the struct path (which the `pq_codes` /
  * `kmeans_fixed_assign` gates proved against DuckDB) is by
  * construction: c² is the same left-to-right Scala sum computed at
  * plan build; the dot accumulates left-to-right in double over the
  * same slice with null elements contributing 0 (the `vec_dot`
  * contract); the score is the same `c² − 2·dot`; ties keep the
  * smallest centroid id (strict `<`), exactly the struct comparator's
  * lexicographic (d, c_id) order.
  */
case class PqArgmin(child: Expression, centroids: Array[Array[Double]],
    offset: Int, subDim: Int) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_argmin requires array<float|double>, got $t")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** c² per centroid — the SAME left-to-right Scala sum the struct
    * formulation inlined as `lit(c.map(x => x*x).sum)`.
    */
  @transient private lazy val norms: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def nullSafeEval(input: Any): Any =
    PqArgmin.argmin(input.asInstanceOf[ArrayData], elemIsFloat,
      centroids, norms, offset, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqArgmin.argmin(" +
        s"$a, $elemIsFloat, $cRef, $nRef, $offset, $subDim);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgmin =
    copy(child = newChild)
}

object PqArgmin {

  /** Shared by interpreted eval and generated code. */
  def argmin(a: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      norms: Array[Double], offset: Int, subDim: Int): Int = {
    val lim = math.min(subDim, math.max(0, a.numElements() - offset))
    var best = 0
    var bestD = Double.PositiveInfinity
    var p = 0
    while (p < cents.length) {
      val c = cents(p)
      var dot = 0.0
      var j = 0
      while (j < lim) {
        val idx = offset + j
        if (!a.isNullAt(idx)) {
          val x = if (isFloat) a.getFloat(idx).toDouble else a.getDouble(idx)
          dot += x * c(j)
        }
        j += 1
      }
      val d = norms(p) - 2.0 * dot
      if (d < bestD) { bestD = d; best = p }
      p += 1
    }
    best
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def pqArgmin(v: Column, cents: Seq[Array[Double]], offset: Int,
      subDim: Int): Column =
    call_function("pq_argmin", v, lit(offset), lit(subDim),
      array(cents.map(c => lit(c)): _*))

  /** Column-level entry point for [[PqArgminDist]]. */
  def pqArgminDist(v: Column, cents: Seq[Array[Double]], offset: Int,
      subDim: Int): Column =
    call_function("pq_argmin_dist", v, lit(offset), lit(subDim),
      array(cents.map(c => lit(c)): _*))
}

/** `pq_argmin_dist(vec, offset, subDim, centroids)` — [[PqArgmin]]'s
  * struct-returning sibling: `(d, c_id)` where `d = c² − 2·v·c` of the
  * winning centroid, the exact shape `least(struct(d, c_id), …)`
  * produced — so consumers that need the distance as well as the id
  * (k-means assignment/means, SemDeDup's within-cluster pruning) get
  * the same drop-in kernel. One GenericInternalRow per row instead of
  * k struct allocations and a k-deep comparator chain.
  */
case class PqArgminDist(child: Expression, centroids: Array[Array[Double]],
    offset: Int, subDim: Int) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("d", DoubleType, nullable = false),
    StructField("c_id", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_argmin_dist requires array<float|double>, got $t")
  }

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  @transient private lazy val norms: Array[Double] =
    centroids.map(c => c.map(x => x * x).sum)

  override def nullSafeEval(input: Any): Any =
    PqArgminDist.argminRow(input.asInstanceOf[ArrayData], elemIsFloat,
      centroids, norms, offset, subDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("pqCents", centroids, "double[][]")
    val nRef = ctx.addReferenceObj("pqNorms", norms, "double[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.PqArgminDist.argminRow(" +
        s"$a, $elemIsFloat, $cRef, $nRef, $offset, $subDim);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqArgminDist =
    copy(child = newChild)
}

object PqArgminDist {

  /** Shared by interpreted eval and generated code — same loop as
    * [[PqArgmin.argmin]], carrying the winning distance out.
    */
  def argminRow(a: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      norms: Array[Double], offset: Int, subDim: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val lim = math.min(subDim, math.max(0, a.numElements() - offset))
    var best = 0
    var bestD = Double.PositiveInfinity
    var p = 0
    while (p < cents.length) {
      val c = cents(p)
      var dot = 0.0
      var j = 0
      while (j < lim) {
        val idx = offset + j
        if (!a.isNullAt(idx)) {
          val x = if (isFloat) a.getFloat(idx).toDouble else a.getDouble(idx)
          dot += x * c(j)
        }
        j += 1
      }
      val d = norms(p) - 2.0 * dot
      if (d < bestD) { bestD = d; best = p }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, best))
  }
}
