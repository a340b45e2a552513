package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, call_function, lit}

/** `pq_argmin(vec, offset, subDim, centroids)` — nearest-centroid argmin
  * over a plan-literal codebook for the `[offset, offset+subDim)` slice
  * of a vector: the quantization kernel of PQ encoding, IVF cell
  * assignment and k-means, as ONE native kernel.
  *
  * Replaces the `least(struct(d, c_id), …)` formulation: that tree is
  * k struct allocations + a k-deep comparator chain per evaluation, and
  * at m·k = 64 codebook entries the collapsed generated method left
  * whole-stage codegen JIT-hostile — the 10×-sf0.1 encode measured
  * ~90 µs/row (1.8 s / 20 k rows) against ~1 µs of actual arithmetic.
  * Here the codebook and its norms, computed once per call from the
  * literal, ride as reference objects and the evaluation is two tight
  * primitive loops.
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
object PqArgmin {

  /** The kernel: the id of the centroid with the smallest
    * `c² − 2·v·c` (`norms` holds each c²).
    */
  def argmin(a: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      norms: Array[Double], offset: Int, subDim: Int): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var p = 0
    while (p < cents.length) {
      val d = norms(p) - 2.0 * dot(a, isFloat, cents(p), offset, subDim)
      if (d < bestD) { bestD = d; best = p }
      p += 1
    }
    best
  }

  /** `v·c` over the `[offset, offset+subDim)` slice; null elements add 0. */
  private[functions] def dot(a: ArrayData, isFloat: Boolean, c: Array[Double],
      offset: Int, subDim: Int): Double = {
    val lim = math.min(subDim, math.max(0, a.numElements() - offset))
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
    dot
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
object PqArgminDist {

  /** The kernel: [[PqArgmin.argmin]]'s winner and its distance, the same
    * loop's arithmetic recomputed for that one centroid.
    */
  def argminRow(a: ArrayData, isFloat: Boolean, cents: Array[Array[Double]],
      norms: Array[Double], offset: Int, subDim: Int): InternalRow = {
    val best = PqArgmin.argmin(a, isFloat, cents, norms, offset, subDim)
    val d = norms(best) - 2.0 * PqArgmin.dot(a, isFloat, cents(best), offset, subDim)
    new GenericInternalRow(Array[Any](d, best))
  }
}
