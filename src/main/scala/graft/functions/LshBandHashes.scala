package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** `lsh_bands(embedding, bits, bands)` — ALL the random-hyperplane LSH
  * band hashes of a float vector in ONE native expression: band b packs
  * the sign bits of planes [b·rows, (b+1)·rows) into a long, rows =
  * bits/bands.
  *
  * Why native: the declarative spelling is `bits` separate `vec_dot`
  * calls per row (192 at the near-dup default) wrapped in `when`/`+`
  * trees — a projection so large that whole-stage codegen's method-size
  * splitter shreds it into hundreds of tiny calls, each re-reading the
  * array header; measured ~10× slower than this single fused pass at
  * sf0.1. Here the plane matrix lives in one flat double[] (a codegen
  * reference object, ~100 KB at 192×64 — shipped once per task, not per
  * row) and the hot loop is a dense bits×dim FMA sweep the JIT
  * vectorizes.
  *
  * Sign semantics are bit-identical to `vec_dot(v, w_p) > 0`: the dot
  * accumulates cast-to-double floats left-to-right, and the plane
  * weights are the same floorMod(xxhash64(p·dim+d), 10⁶)/10⁶ − 0.5
  * lattice `Similarity.planeWeights` builds (seed-42 XXH64 of the
  * decimal index string — the SQL builtin's exact value).
  */
case class LshBandHashes(child: Expression, bits: Int, bands: Int,
    dim: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if bits % bands == 0 && bits / bands <= 63 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) =>
      TypeCheckResult.TypeCheckFailure(
        s"lsh_bands requires bands | bits and bits/bands <= 63, got bits=$bits bands=$bands")
    case other =>
      TypeCheckResult.TypeCheckFailure(s"lsh_bands requires array<float>, got $other")
  }

  @transient private lazy val planes: Array[Double] =
    LshBandHashes.planesFor(bits, dim)

  override def nullSafeEval(input: Any): Any =
    LshBandHashes.compute(input.asInstanceOf[ArrayData], bits, bands, dim, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshPlanes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.LshBandHashes.compute($c, $bits, $bands, $dim, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshBandHashes =
    copy(child = newChild)
}

object LshBandHashes {

  /** Flat [bits·dim] plane matrix; the same lattice as
    * `Similarity.planeWeights` (kept in sync by SimilaritySpec parity).
    * Cached per (bits, dim) — construction hashes bits·dim strings.
    */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  def planesFor(bits: Int, dim: Int): Array[Double] =
    cache.computeIfAbsent((bits, dim), { case (b, dm) =>
      val w = new Array[Double](b * dm)
      var i = 0
      while (i < b * dm) {
        val s = UTF8String.fromString(i.toString)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        w(i) = Math.floorMod(h, 1000000L).toDouble / 1000000.0 - 0.5
        i += 1
      }
      w
    })

  /** Shared by interpreted eval and generated code: one dense pass.
    * Vectors shorter than `dim` are treated as zero-padded (a plane's
    * tail contributes nothing), matching vec_dot's min-length loop.
    */
  def compute(v: ArrayData, bits: Int, bands: Int, dim: Int,
      planes: Array[Double]): ArrayData = {
    val rows = bits / bands
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](bands)
    var p = 0
    while (p < bits) {
      var dot = 0.0
      val base = p * dim
      var d = 0
      while (d < n) {
        dot += v.getFloat(d).toDouble * planes(base + d)
        d += 1
      }
      if (dot > 0) out(p / rows) |= 1L << (p % rows)
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point (resolves by name through [[Natives]]). */
  def lshBands(vec: Column, bits: Int, bands: Int): Column =
    call_function("lsh_bands", vec, lit(bits), lit(bands))
}
