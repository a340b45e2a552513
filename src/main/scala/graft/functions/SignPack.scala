package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}

/** `sign_pack(vec, offset, means_micro)` — 32 sign bits of a float
  * vector's slice packed into one long: bit d is set iff
  * `floor(vec[offset+d]·1e6) − means_micro[d] ≥ 0`. With an all-zero
  * means array this is exactly the raw sign test (`floor(t) ≥ 0 ⟺
  * t ≥ 0` for every real, and `x·1e6 ≥ 0 ⟺ x ≥ 0`); with per-dimension
  * integer-micro corpus means it is the mean-centered variant. Elements
  * past the vector's end contribute no bit (the declarative
  * `element_at → NULL → CASE` behavior).
  *
  * Why native: the declarative spelling is an `aggregate()` higher-order
  * fold, and Catalyst's `ArrayAggregate` is CodegenFallback — every row
  * of the signature build pays an interpreted 32-step lambda loop with
  * boxed longs. Here the loop is a branch-light primitive sweep inside
  * whole-stage codegen (the means literal is read once per call into one
  * long[] shipped per task as a codegen reference object), so the 1-bit
  * index build stays in the
  * same generated stage as the scan — the [[LshBandHashes]] argument,
  * one tier down.
  */
object SignPack {

  /** The kernel: one primitive pass.
    * NULL elements contribute no bit — the declarative
    * `element_at → NULL → CASE` behavior (getFloat on a null slot would
    * silently read 0.0f and set the bit for non-positive means).
    */
  def compute(v: ArrayData, offset: Int, means: Array[Long]): Long = {
    val n = v.numElements()
    var out = 0L
    var d = 0
    while (d < 32) {
      val idx = offset + d
      if (idx < n && !v.isNullAt(idx) &&
          math.floor(v.getFloat(idx).toDouble * 1e6).toLong - means(d) >= 0) {
        out |= 1L << d
      }
      d += 1
    }
    out
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def signPack(vec: Column, offset: Int, meansMicro: Array[Long]): Column =
    call_function("sign_pack", vec, lit(offset), lit(meansMicro))
}
