package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite with SparkTestSession {

  /** Sequential reference for the Morton interleave. */
  private def mortonRef(x: Long, y: Long): Long =
    (0 until Layout.Bits).map(i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).sum

  test("zorderAssign matches the bit-interleave reference") {
    import spark.implicits._
    val df = (for (x <- 0L until 50L; y <- 0L until 40L)
      yield (x, y)).toDF("x", "y")
    val mx = 50L
    val my = 40L
    val got = Layout.zorderAssign(df, "x", "y").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val scale = 1L << Layout.Bits
    val cellW = (1L << (2 * Layout.Bits)) / Layout.Files
    for (x <- 0L until 50L; y <- 0L until 40L) {
      val z = mortonRef(x * scale / mx, y * scale / my)
      assert(got((x, y)) === ((z, z / cellW)),
        s"mismatch at ($x, $y)")
    }
  }

  test("z-order files have tight envelopes on BOTH dims; linear sort does not") {
    val li = graft.Engine.Tables(spark, "/root/testdata/sf0.001").lineitem
    val stats = Layout.zorderStats(li, "l_orderkey", "l_partkey").collect()
    val (maxX, maxY) = (
      stats.map(_.getLong(3)).max.toDouble, stats.map(_.getLong(5)).max.toDouble)
    // mean per-file envelope width as a fraction of the domain, each dim
    def width(minI: Int, maxI: Int, dom: Double): Double =
      stats.map(r => (r.getLong(maxI) - r.getLong(minI)) / dom).sum / stats.length
    val wx = width(2, 3, maxX)
    val wy = width(4, 5, maxY)
    // both dims prunable: every file's envelope is a strict sub-range of
    // the domain in x AND y (a linear sort on x gives wy ≈ 1.0)
    assert(wx < 0.5, s"x envelopes too wide: $wx")
    assert(wy < 0.5, s"y envelopes too wide: $wy")
    // and the files tile all rows exactly once
    assert(stats.map(_.getLong(1)).sum === li.count())
  }

  /** In-memory xy2d reference (the classic rotation form). */
  private def xy2d(bits: Int, x0: Long, y0: Long): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * (if (rx == 1) 3 - ry else ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  test("hilbertIndex matches the classic xy2d reference on a dense grid") {
    import spark.implicits._
    // the full 32×32 sub-grid scaled up into the 10-bit domain exercises
    // every rotation state of the top 5 levels
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x * 32, y * 32)
    val got = pts.toDF("x", "y")
      .withColumn("d", Layout.hilbertIndex("x", "y"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === xy2d(Layout.Bits, x, y), s"($x, $y)")
    }
  }

  test("Hilbert locality: consecutive indices are always grid neighbors") {
    import spark.implicits._
    // THE property Morton lacks (its index makes diagonal jumps across
    // power-of-two boundaries): walk a full 32×32 curve via the scaled
    // embedding and check every step moves exactly one cell
    val step = 1L << (Layout.Bits - 5) // 32×32 grid in the 10-bit domain
    val pts = for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)
    val byD = pts.map { case (x, y) =>
      xy2d(5, x, y) -> ((x, y))
    }.sortBy(_._1)
    byD.sliding(2).foreach {
      case Seq((d1, (x1, y1)), (d2, (x2, y2))) =>
        assert(d2 === d1 + 1)
        assert(math.abs(x2 - x1) + math.abs(y2 - y1) === 1,
          s"jump between d=$d1 ($x1,$y1) and d=$d2 ($x2,$y2)")
      case _ =>
    }
    // the scaled 10-bit spelling Spark runs agrees with the 5-bit walk's
    // ORDER (scaling by 2^5 multiplies every index by 2^10)
    val sparkD = pts.map { case (x, y) => (x * step, y * step) }
      .toDF("x", "y").withColumn("d", Layout.hilbertIndex("x", "y"))
      .collect().map(r => ((r.getLong(0) / step, r.getLong(1) / step), r.getLong(2)))
      .sortBy(_._2).map(_._1)
    assert(sparkD.toSeq === byD.map(_._2).toSeq)
  }

  test("hilbert files tile rows exactly once with tight two-dim envelopes") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.Engine.Tables(spark, dir).lineitem
    val stats = Layout.hilbertStats(li, "l_orderkey", "l_partkey").collect()
    assert(stats.map(_.getLong(1)).sum === li.count())
    val (xLo, xHi) = (stats.map(_.getLong(2)).min, stats.map(_.getLong(3)).max)
    val wx = stats.map(r => (r.getLong(3) - r.getLong(2)).toDouble).sum /
      stats.length / math.max(1.0, (xHi - xLo).toDouble)
    assert(wx < 0.5, s"x envelopes too wide under hilbert: $wx")
  }

  test("skipAudit: linear prunes only x; curves prune both dimensions") {
    val dir = "/root/testdata/sf0.001"
    val li = graft.Engine.Tables(spark, dir).lineitem
    val n = li.count()
    val audit = Layout.skipAudit(li, "l_orderkey", "l_partkey").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(audit.keySet === Set("linear_x", "zorder", "hilbert"))
    val (linF, _, _, linFy, linRy) = audit("linear_x")
    val (zF, zFx, _, zFy, _) = audit("zorder")
    val (hF, hFx, _, hFy, _) = audit("hilbert")
    // the linear-by-x baseline cannot prune y at all: the y-probe hits
    // every file (and therefore every row)
    assert(linFy === linF && linRy === n,
      s"linear layout should scan everything on y: $audit")
    // both curves prune the y probe to a strict subset of the files
    assert(zFy < linFy && hFy < linFy, s"curves must beat linear on y: $audit")
    // the x probe stays prunable under the curves too (≤ half the files
    // for a quarter-range probe — envelopes are tight in BOTH dims)
    assert(zFx <= zF / 2 && hFx <= hF / 2, s"curve x-pruning too weak: $audit")
    // hilbert is never worse than morton on this fixture's y probe
    assert(hFy <= zFy, s"hilbert should be at least as tight as zorder: $audit")
  }
}
