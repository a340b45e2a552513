package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{call_function, lit}

/** `hilbert_xy2d(x, y, bits)` — Hilbert-curve index (classic xy2d) of a
  * `bits`-bit (x, y) cell as a native codegen kernel: the hot kernel of
  * `hilbert_layout`.
  *
  * The rotation fold is a trivial `bits`-iteration integer loop; spelled
  * as a SQL higher-order `aggregate` it runs interpreted with a
  * per-level struct allocation per row (measured ~9× the Morton
  * projection on the same scan), while this kernel is called from the
  * scan's whole-stage-generated code like any arithmetic op. [[xy2d]] is
  * the single source of truth for the recurrence — eval, the generated
  * code and the ScalaTest reference all call or restate it, and the
  * DuckDB oracle unrolls the same arithmetic.
  *
  * `bits` arrives as a foldable int literal and MUST equal the
  * quantization width: running the fold for more levels than the data
  * has bits would add orientation-only swap rounds and yield a different
  * (still Hilbert, differently rotated) index than the oracle's unroll.
  */
object HilbertIdx {

  /** The kernel: the xy2d recurrence over `bits` levels. */
  def xy2d(x0: Long, y0: Long, bits: Int): Long = {
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
