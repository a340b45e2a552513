package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.scalatest.funsuite.AnyFunSuite

/** The native-function registrar: which SQL names a session gets, in the
  * root session and in its children, and that bad arguments fail at
  * analysis naming the function.
  */
class NativesSpec extends AnyFunSuite with SparkTestSession {

  /** SQL name → (class `DESCRIBE FUNCTION` reports, accepted arg counts). */
  private val pinned: Map[String, (String, Range)] = Map(
    "bloom_agg" ->
      ("org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate", 1 to 3),
    "bloom_might_contain" ->
      ("org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain", 2 to 2),
    "fnv1a64" -> ("graft.functions.Fnv1a64", 1 to 1),
    "hilbert_xy2d" -> ("graft.functions.HilbertIdx", 3 to 3),
    "lsh_bands" -> ("graft.functions.LshBandHashes", 3 to 3),
    "maxsim_micro" -> ("graft.functions.MaxSimMicro", 4 to 4),
    "ngram_any_in" -> ("graft.functions.NgramAnyIn", 3 to 3),
    "norm_text" -> ("graft.functions.NormText", 1 to 1),
    "pq_argmin" -> ("graft.functions.PqArgmin", 4 to 4),
    "pq_argmin_dist" -> ("graft.functions.PqArgminDist", 4 to 4),
    "shingle_hashes" -> ("graft.functions.ShingleHashes", 2 to 2),
    "sign_pack" -> ("graft.functions.SignPack", 3 to 3),
    "simhash60" -> ("graft.functions.SimHash60", 1 to 1),
    "sorted_intersect_count" -> ("graft.functions.SortedIntersectCount", 2 to 2),
    "topk_structs" -> ("graft.functions.TopKStructs", 2 to 2),
    "vec_dot" -> ("graft.functions.VecDot", 2 to 2),
    "winnow_fps" -> ("graft.functions.WinnowFps", 3 to 3))

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def describedClass(s: SparkSession, name: String): String =
    s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      .collectFirst { case l if l.startsWith("Class:") => l.stripPrefix("Class:").trim }
      .getOrElse(fail(s"DESCRIBE FUNCTION $name has no Class line"))

  test("the registrar injects exactly the 17 pinned names") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new SparkSessionExtensions {
      override def injectFunction(
          fd: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)): Unit = {
        injected += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    Natives.register(ext)
    assert(injected.sorted.toSeq === pinned.keys.toSeq.sorted)
    assert(injected.length === 17)
  }

  test("every name resolves in Engine.session and a newSession() child, same class") {
    val child = spark.newSession()
    for ((name, (cls, _)) <- pinned) {
      assert(spark.catalog.functionExists(name), name)
      assert(child.catalog.functionExists(name), s"$name in the child session")
      assert(describedClass(spark, name) === cls, name)
      assert(describedClass(child, name) === cls, s"$name in the child session")
    }
  }

  test("a wrong argument count fails at analysis, naming the function") {
    for ((name, (_, arity)) <- pinned; n <- Seq(arity.start - 1, arity.last + 1) if n >= 0) {
      val call = s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})"
      val e = intercept[Throwable](spark.sql(call)) // spark.sql analyzes eagerly
      assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.startsWith(s"$name takes")), s"$call: $e")
    }
  }

  test("a column where an int literal belongs fails, naming function and argument") {
    // (function, argument, call with `$` at that argument, a valid literal)
    val calls = Seq(
      ("hilbert_xy2d", "bits", "hilbert_xy2d(x, x, $)", "8"),
      ("lsh_bands", "bits", "lsh_bands(v, $, 4)", "8"),
      ("lsh_bands", "bands", "lsh_bands(v, 8, $)", "4"),
      ("maxsim_micro", "tokens", "maxsim_micro(v, v, $, 1)", "1"),
      ("maxsim_micro", "subDim", "maxsim_micro(v, v, 1, $)", "1"),
      ("ngram_any_in", "n", "ngram_any_in(s, $, array(1L))", "2"),
      ("pq_argmin", "offset", "pq_argmin(v, $, 1, array(array(1D)))", "0"),
      ("pq_argmin", "subDim", "pq_argmin(v, 0, $, array(array(1D)))", "1"),
      ("pq_argmin_dist", "offset", "pq_argmin_dist(v, $, 1, array(array(1D)))", "0"),
      ("pq_argmin_dist", "subDim", "pq_argmin_dist(v, 0, $, array(array(1D)))", "1"),
      ("shingle_hashes", "n", "shingle_hashes(s, $)", "2"),
      ("sign_pack", "offset", "sign_pack(v, $, array_repeat(0L, 32))", "0"),
      ("topk_structs", "k", "topk_structs(x, $)", "3"),
      ("winnow_fps", "k", "winnow_fps(s, $, 4)", "5"),
      ("winnow_fps", "w", "winnow_fps(s, 5, $)", "4"))
    val t = spark.range(1).selectExpr("id AS x", "CAST(id AS INT) AS c",
      "array(CAST(1.0 AS FLOAT)) AS v", "'a b c' AS s")
    for ((name, arg, call, ok) <- calls) {
      t.selectExpr(call.replace("$", ok)) // analyzes with the literal
      val e = intercept[Throwable](t.selectExpr(call.replace("$", "c")))
      assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains(s"$name: $arg must")), s"$name/$arg: $e")
    }
  }
}
