package graft.functions

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** The one registrar of the native SQL functions: one row per SQL name,
  * injected by [[register]] through the public extensions API (Spark 4
  * has no public Column↔Expression bridge, so the kernels' Column entry
  * points — `vecDot(a, b)`, `normText(c)`, … — resolve by name through
  * the session's function registry).
  *
  * [[graft.Engine.session]] installs it; any externally built session
  * gets the same functions by passing `graft.functions.Natives.register`
  * to its builder's `withExtensions`. Extensions carry over to
  * `newSession()` children.
  *
  * Argument checking lives here and only here: the builder wrapper
  * rejects a wrong argument count, and [[Args]] reads the plan-literal
  * arguments (ints, long arrays, centroid matrices), both failing at
  * analysis with an `IllegalArgumentException` that names the function
  * (and the argument).
  */
object Natives {

  /** The arguments of one call of `fn`, with the literal readers that
    * name `fn` and the argument in their errors.
    */
  private final class Args(fn: String, val children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    private def literal(i: Int, arg: String, want: String)(ok: PartialFunction[DataType, Unit]): Any = {
      val e = children(i)
      if (!e.foldable || !ok.isDefinedAt(e.dataType))
        throw new IllegalArgumentException(s"$fn: $arg must be $want literal, got $e")
      e.eval()
    }

    def int(i: Int, arg: String): Int =
      literal(i, arg, "an int") { case IntegerType => }.asInstanceOf[Int]

    def longs(i: Int, arg: String): Array[Long] =
      literal(i, arg, "an array<bigint>") { case ArrayType(LongType, _) => }
        .asInstanceOf[ArrayData].toLongArray()

    def doubleRows(i: Int, arg: String): Array[Array[Double]] = {
      val outer = literal(i, arg, "an array<array<double>>") {
        case ArrayType(ArrayType(DoubleType, _), _) =>
      }.asInstanceOf[ArrayData]
      Array.tabulate(outer.numElements())(r => outer.getArray(r).toDoubleArray())
    }
  }

  /** One SQL function: its name, the expression class `DESCRIBE
    * FUNCTION` reports, the argument counts it accepts, and its builder
    * (called only with an accepted count).
    */
  private final case class Native(name: String, cls: Class[_ <: Expression], arity: Range,
      build: Args => Expression)

  private val all: Seq[Native] = Seq(
    Native("bloom_agg", classOf[BloomFilterAggregate], 1 to 3, _.children match {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    }),
    Native("bloom_might_contain", classOf[BloomFilterMightContain], 2 to 2,
      a => BloomFilterMightContain(a(0), a(1))),
    Native("hilbert_xy2d", classOf[HilbertIdx], 3 to 3,
      a => HilbertIdx(a(0), a(1), a.int(2, "bits"))),
    Native("lsh_bands", classOf[LshBandHashes], 3 to 3,
      a => LshBandHashes(a(0), a.int(1, "bits"), a.int(2, "bands"), dim = 64)),
    Native("maxsim_micro", classOf[MaxSimMicro], 4 to 4,
      a => MaxSimMicro(a(0), a(1), a.int(2, "tokens"), a.int(3, "subDim"))),
    // the probe binary-searches its hash set: sorted once, at bind time
    Native("ngram_any_in", classOf[NgramAnyIn], 3 to 3,
      a => NgramAnyIn(a(0), a.int(1, "n"), a.longs(2, "hashes").sorted)),
    Native("norm_text", classOf[NormText], 1 to 1, a => NormText(a(0))),
    Native("pq_argmin", classOf[PqArgmin], 4 to 4,
      a => PqArgmin(a(0), a.doubleRows(3, "centroids"), a.int(1, "offset"),
        a.int(2, "subDim"))),
    Native("pq_argmin_dist", classOf[PqArgminDist], 4 to 4,
      a => PqArgminDist(a(0), a.doubleRows(3, "centroids"), a.int(1, "offset"),
        a.int(2, "subDim"))),
    Native("shingle_hashes", classOf[ShingleHashes], 2 to 2,
      a => ShingleHashes(a(0), a.int(1, "n"))),
    Native("sign_pack", classOf[SignPack], 3 to 3,
      a => SignPack(a(0), a.int(1, "offset"), ArraySeq.unsafeWrapArray(a.longs(2, "means")))),
    Native("simhash60", classOf[SimHash60], 1 to 1, a => SimHash60(a(0))),
    Native("sorted_intersect_count", classOf[SortedIntersectCount], 2 to 2,
      a => SortedIntersectCount(a(0), a(1))),
    // k stays an expression: TopKStructs checks it at analysis itself
    Native("topk_structs", classOf[TopKStructs], 2 to 2, a => TopKStructs(a(0), a(1))),
    Native("vec_dot", classOf[VecDot], 2 to 2, a => VecDot(a(0), a(1))),
    Native("winnow_fps", classOf[WinnowFps], 3 to 3,
      a => WinnowFps(a(0), a.int(1, "k"), a.int(2, "w"))))

  def register(ext: SparkSessionExtensions): Unit = all.foreach { f =>
    val arity =
      if (f.arity.size == 1) s"exactly ${f.arity.start}" else s"${f.arity.start}-${f.arity.last}"
    ext.injectFunction((FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls.getName, f.name),
      (children: Seq[Expression]) => {
        if (!f.arity.contains(children.length)) throw new IllegalArgumentException(
          s"${f.name} takes $arity argument(s), got ${children.length}")
        f.build(new Args(f.name, children))
      }))
  }
}
