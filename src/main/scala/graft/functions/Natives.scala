package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType, IntegerType, LongType, NullType, ObjectType, StringType, StructField, StructType}

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
  * A new scalar kernel is one plain function in its object and one
  * [[Kernel]] row in [[kernels]]: the SQL name, the object and function,
  * how many leading arguments are per-row inputs, the result type, the
  * accepted input types (with the analysis-time message for the rest),
  * and the values bound after the inputs — literal arguments read through
  * [[Args]] and constants derived from them once per call. Every row
  * builds the one expression [[KernelCall]], so eval and generated code
  * call that same function and the call keeps whole-stage codegen.
  *
  * Argument checking lives here and only here: the builder wrapper
  * rejects a wrong argument count, and [[Args]] reads the plan-literal
  * arguments (ints, long arrays, centroid matrices), both failing at
  * analysis with an `IllegalArgumentException` that names the function
  * (and the argument); a kernel's `rejects` fails wrong input types at
  * analysis, its message after the function's name.
  */
object Natives {

  /** The arguments of one call of `fn`, with the literal readers that
    * name `fn` and the argument in their errors.
    */
  private[functions] final class Args(fn: String, val children: Seq[Expression]) {
    def apply(i: Int): Expression = children(i)

    /** The element type of argument `i`, `NullType` when it is no array. */
    def elem(i: Int): DataType = children(i).dataType match {
      case ArrayType(t, _) => t
      case _               => NullType
    }

    def floatOrDoubleArray(i: Int): Boolean = elem(i) == FloatType || elem(i) == DoubleType

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

  /** One scalar kernel: SQL `name`, computed by the function `fn` of
    * `owner` (the object `DESCRIBE FUNCTION` reports). The first `inputs`
    * of its `arity` arguments are per-row inputs, the rest literals.
    * `rejects` says what is wrong with a call's types or literals, after
    * the name ("requires …"; None when they are accepted); `bind` gives
    * the values `fn` takes after the inputs: ints, booleans, or arrays
    * shipped as reference objects.
    */
  private[functions] final case class Kernel(name: String, owner: AnyRef, fn: String,
      arity: Int, inputs: Int, result: DataType,
      rejects: Args => Option[String], bind: Args => Seq[Any]) {

    def cls: String = owner.getClass.getName.stripSuffix("$")

    def check(children: Seq[Expression]): TypeCheckResult =
      rejects(new Args(name, children)).fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
        why => TypeCheckResult.TypeCheckFailure(s"$name $why"))

    def call(children: Seq[Expression]): Expression = {
      val bound = bind(new Args(name, children)).map {
        case i: Int     => Literal(i)
        case b: Boolean => Literal(b)
        case o: AnyRef  => Literal(o, ObjectType(o.getClass))
      }
      StaticInvoke(owner.getClass, result, fn, children.take(inputs) ++ bound,
        returnNullable = false)
    }
  }

  private val kernels: Seq[Kernel] = Seq(
    Kernel("hilbert_xy2d", HilbertIdx, "xy2d", arity = 3, inputs = 2, LongType,
      a => {
        val bits = a.int(2, "bits")
        Option.unless(a(0).dataType == LongType && a(1).dataType == LongType &&
            bits >= 1 && bits <= 31)(
          s"requires (bigint, bigint) and bits in [1, 31], " +
            s"got (${a(0).dataType}, ${a(1).dataType}), bits=$bits")
      },
      a => Seq(a.int(2, "bits"))),
    Kernel("lsh_bands", LshBandHashes, "compute", arity = 3, inputs = 1,
      ArrayType(LongType, containsNull = false),
      a => {
        val (bits, bands) = (a.int(1, "bits"), a.int(2, "bands"))
        if (a.elem(0) != FloatType) Some(s"requires array<float>, got ${a(0).dataType}")
        else Option.unless(bits % bands == 0 && bits / bands <= 63)(
          s"requires bands | bits and bits/bands <= 63, got bits=$bits bands=$bands")
      },
      a => {
        val bits = a.int(1, "bits")
        Seq(bits, a.int(2, "bands"), LshBandHashes.Dim,
          LshBandHashes.planesFor(bits, LshBandHashes.Dim))
      }),
    Kernel("maxsim_micro", MaxSimMicro, "compute", arity = 4, inputs = 2, LongType,
      a => {
        val (tokens, subDim) = (a.int(2, "tokens"), a.int(3, "subDim"))
        Option.unless(a.floatOrDoubleArray(0) && a.floatOrDoubleArray(1) &&
            tokens >= 1 && subDim >= 1)(
          s"requires array<float|double> arguments and tokens/subDim >= 1, " +
            s"got ${a(0).dataType}, ${a(1).dataType}, tokens=$tokens, subDim=$subDim")
      },
      a => Seq(a.int(2, "tokens"), a.int(3, "subDim"), a.elem(0) == FloatType,
        a.elem(1) == FloatType)),
    // the probe binary-searches its hash set: sorted once per call
    Kernel("ngram_any_in", NgramAnyIn, "anyIn", arity = 3, inputs = 1, BooleanType,
      a => stringAnd(a, "n" -> a.int(1, "n")),
      a => Seq(a.int(1, "n"), a.longs(2, "hashes").sorted)),
    Kernel("norm_text", NormText, "normalizeUTF8", arity = 1, inputs = 1, StringType,
      stringAnd(_), _ => Nil),
    Kernel("pq_argmin", PqArgmin, "argmin", arity = 4, inputs = 1, IntegerType,
      pqRejects, pqBind),
    Kernel("pq_argmin_dist", PqArgminDist, "argminRow", arity = 4, inputs = 1,
      StructType(Seq(StructField("d", DoubleType, nullable = false),
        StructField("c_id", IntegerType, nullable = false))),
      pqRejects, pqBind),
    Kernel("shingle_hashes", ShingleHashes, "hashes", arity = 2, inputs = 1,
      ArrayType(LongType, containsNull = false),
      a => stringAnd(a, "n" -> a.int(1, "n")),
      a => Seq(a.int(1, "n"))),
    Kernel("sign_pack", SignPack, "compute", arity = 3, inputs = 1, LongType,
      a => {
        val (offset, means) = (a.int(1, "offset"), a.longs(2, "means").length)
        if (a.elem(0) != FloatType) Some(s"requires array<float>, got ${a(0).dataType}")
        else Option.unless(offset >= 0 && means == 32)(
          s"requires offset >= 0 and exactly 32 means, got offset=$offset, $means means")
      },
      a => Seq(a.int(1, "offset"), a.longs(2, "means"))),
    Kernel("simhash60", SimHash60, "compute", arity = 1, inputs = 1, LongType,
      stringAnd(_), _ => Nil),
    Kernel("vec_dot", VecDot, "dot", arity = 2, inputs = 2, DoubleType,
      a => Option.unless(a.floatOrDoubleArray(0) && a.floatOrDoubleArray(1))(
        s"requires array<float|double> arguments, got ${a(0).dataType}, ${a(1).dataType}"),
      a => Seq(a.elem(0) == FloatType, a.elem(1) == FloatType)),
    Kernel("winnow_fps", WinnowFps, "compute", arity = 3, inputs = 1,
      ArrayType(LongType, containsNull = false),
      a => {
        val (k, w) = (a.int(1, "k"), a.int(2, "w"))
        if (a(0).dataType != StringType) Some(s"requires a string argument, got ${a(0).dataType}")
        else Option.unless(k >= 1 && w >= 1)(s"requires k >= 1 and w >= 1, got k=$k w=$w")
      },
      a => Seq(a.int(1, "k"), a.int(2, "w"))))

  /** A string input, and each positive int literal of `positive`. */
  private def stringAnd(a: Args, positive: (String, Int)*): Option[String] =
    if (a(0).dataType != StringType) Some(s"requires a string argument, got ${a(0).dataType}")
    else positive.collectFirst { case (arg, v) if v < 1 => s"requires $arg >= 1, got $arg=$v" }

  private def pqRejects(a: Args): Option[String] =
    Option.unless(a.floatOrDoubleArray(0))(s"requires array<float|double>, got ${a(0).dataType}")

  /** `pq_argmin(vec, offset, subDim, centroids)`: the codebook and its c²
    * norms — the same left-to-right Scala sum the `least(struct(d, c_id),
    * …)` formulation inlined as `lit(c.map(x => x*x).sum)`.
    */
  private def pqBind(a: Args): Seq[Any] = {
    val cents = a.doubleRows(3, "centroids")
    Seq(a.elem(0) == FloatType, cents, cents.map(c => c.map(x => x * x).sum),
      a.int(1, "offset"), a.int(2, "subDim"))
  }

  private[functions] def kernel(name: String): Kernel =
    kernels.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"no native kernel $name"))

  /** One SQL function: its name, the class `DESCRIBE FUNCTION` reports,
    * the argument counts it accepts, and its builder (called only with
    * an accepted count).
    */
  private final case class Native(name: String, cls: String, arity: Range,
      build: Args => Expression)

  private val all: Seq[Native] = Seq(
    Native("bloom_agg", classOf[BloomFilterAggregate].getName, 1 to 3, _.children match {
      case Seq(c)       => new BloomFilterAggregate(c)
      case Seq(c, n)    => new BloomFilterAggregate(c, n)
      case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
    }),
    Native("bloom_might_contain", classOf[BloomFilterMightContain].getName, 2 to 2,
      a => BloomFilterMightContain(a(0), a(1))),
    // k stays an expression: TopKStructs checks it at analysis itself
    Native("topk_structs", classOf[TopKStructs].getName, 2 to 2,
      a => TopKStructs(a(0), a(1)))) ++
    // reading the bound values at build time fails a bad literal at analysis
    kernels.map(k => Native(k.name, k.cls,
      k.arity to k.arity, a => { k.bind(a); KernelCall(k.name, a.children) }))

  def register(ext: SparkSessionExtensions): Unit = all.foreach { f =>
    val arity =
      if (f.arity.size == 1) s"exactly ${f.arity.start}" else s"${f.arity.start}-${f.arity.last}"
    ext.injectFunction((FunctionIdentifier(f.name),
      new ExpressionInfo(f.cls, f.name),
      (children: Seq[Expression]) => {
        if (!f.arity.contains(children.length)) throw new IllegalArgumentException(
          s"${f.name} takes $arity argument(s), got ${children.length}")
        f.build(new Args(f.name, children))
      }))
  }
}
