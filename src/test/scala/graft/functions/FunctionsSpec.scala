package graft.functions

import graft.SparkTestSession
import graft.functions.VecDot.vecDot
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native kernels: the codegen path (through a DataFrame select) must
  * agree with the kernel function called directly and with known external
  * vectors.
  */
class VecDotSpec extends AnyFunSuite with SparkTestSession {

  test("float arrays: known dot product") {
    import spark.implicits._
    val got = Seq((Array(1f, 2f, 3f), Array(4f, 5f, 6f)))
      .toDF("a", "b").select(vecDot(col("a"), col("b"))).as[Double].head()
    assert(got === 32.0)
  }

  test("double literal x float column (LSH hyperplane shape)") {
    import spark.implicits._
    val got = Seq(Tuple1(Array(2f, -1f)))
      .toDF("a").select(vecDot(col("a"), lit(Array(0.5, 2.0)))).as[Double].head()
    assert(got === (2 * 0.5 + -1 * 2.0))
  }

  test("empty, length-mismatched, and null-element inputs") {
    val r1 = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT)), CAST(array() AS ARRAY<FLOAT>))").collect()
    assert(r1.head.getDouble(0) === 0.0)
    val r2 = spark.sql(
      """SELECT vec_dot(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)),
                        array(CAST(10.0 AS FLOAT)))""").collect()
    assert(r2.head.getDouble(0) === 20.0) // shorter side bounds the loop
    val r3 = spark.sql(
      """SELECT vec_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
                        array(CAST(5.0 AS FLOAT), CAST(7.0 AS FLOAT)))""").collect()
    assert(r3.head.getDouble(0) === 5.0) // null element contributes 0
  }

  test("accumulation order is left-to-right (oracle-compatible)") {
    import spark.implicits._
    // catastrophic-cancellation probe: result depends on summation order
    val a = Array(1e8f, 1f, -1e8f)
    val b = Array(1f, 1f, 1f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(vecDot(col("a"), col("b"))).as[Double].head()
    val expect = a.foldLeft((0.0, b.iterator)) { case ((s, it), x) =>
      (s + x.toDouble * it.next().toDouble, it)
    }._1
    assert(got === expect)
  }
}

class SimHash60Spec extends AnyFunSuite with SparkTestSession {
  import graft.functions.SimHash60.simhash60

  test("single-token doc: simhash IS the token's 60-bit md5 digest") {
    import spark.implicits._
    // with one occurrence every sign-sum is ±1, so the packed bits equal
    // the digest itself — pins the digest extraction against the SQL form
    for (tok <- Seq("spark", "眼鏡", "a")) {
      val got = Seq(tok).toDF("t").select(simhash60(col("t"))).as[Long].head()
      val expect = Seq(tok).toDF("t")
        .select(expr("CAST(conv(substr(md5(t), 1, 15), 16, 10) AS BIGINT)"))
        .as[Long].head()
      assert(got === expect, s"token $tok")
    }
  }

  test("bit-identical to the declarative vocab-join formulation on real docs") {
    import spark.implicits._
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").documents
    val native = graft.operators.Dedup.simhash(docs)
      .as[(Long, Long)].collect().toMap
    val tok = docs
      .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val vocab = tok.select(col("tok")).distinct()
      .select(col("tok"), expr("CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT)").as("th"))
    val bitSums = (0 until 60).map(i =>
      sum(when(expr(s"(th >> $i) & 1") === 1, 1).otherwise(-1)).as(s"s$i"))
    val declarative = tok.join(vocab, "tok")
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until 60).map(i =>
          when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _).as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(native === declarative)
  }

  test("codegen equals interpreted; whitespace runs and empties handled") {
    import spark.implicits._
    val texts = Seq("a  b\t c\n", "  ", "", "one", "repeat repeat repeat")
    val viaDf = texts.toDF("t").select(simhash60(col("t"))).as[Long].collect()
    val direct = texts.map(t =>
      SimHash60.compute(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(viaDf.toSeq === direct)
    assert(direct(1) === 0L && direct(2) === 0L) // no tokens → 0
  }

  test("null propagates") {
    val r = spark.sql("SELECT simhash60(CAST(NULL AS STRING))").collect()
    assert(r.head.isNullAt(0))
  }

  test("ngram_any_in: agrees with the SQL xxhash64-shingle formulation; edges") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "\tw1 w2 w3 w4 leading tab makes an empty token",
      "trailing spaces keep no extra token   ",
      "short doc", "", "   ", "\t\n")
      .toDF("text")
    // the hash set: every 3-gram of the eval strings, tokenized exactly as
    // SQL does and hashed by the SQL builtin itself
    val evalGrams = Seq("quick brown fox jumps over", "\tw1 w2 w3").flatMap { t =>
      val toks = NgramAnyIn.sqlWhitespaceTokens(t)
      (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" "))
    }
    val hashes = evalGrams.toDF("g").selectExpr("xxhash64(g)").as[Long].collect()
    // SQL-side truth: any 3-gram of the doc hashes into the set
    val sqlTruth = docs.selectExpr(
      "text",
      s"""CASE WHEN size(split(trim(text), '\\\\s+')) >= 3 THEN
            exists(
              transform(
                sequence(1, size(split(trim(text), '\\\\s+')) - 2),
                i -> xxhash64(concat_ws(' ', slice(split(trim(text), '\\\\s+'), i, 3)))),
              h -> array_contains(array(${hashes.mkString(",")}L), h))
          ELSE false END AS hit""")
      .as[(String, Boolean)].collect().toMap
    val got = docs.select(col("text"),
        NgramAnyIn.ngramAnyIn(col("text"), 3, hashes).as("hit"))
      .as[(String, Boolean)].collect().toMap
    assert(got === sqlTruth)
    assert(got("the quick brown fox jumps over the lazy dog")) // real hit
    assert(!got("short doc") && !got("")) // < n tokens can never hit
    // null propagates (caller coalesces for keep-null semantics)
    assert(spark.sql("SELECT ngram_any_in(CAST(NULL AS STRING), 3, array(1L))")
      .collect().head.isNullAt(0))
  }

  test("norm_text: NFC composition, casefold, whitespace collapse, edges") {
    import spark.implicits._
    val decomposedCafe = "Cafe\u0301"   // e + combining acute (NFD)
    val precomposed = "Caf\u00e9"        // single-codepoint é
    val cases = Seq(
      decomposedCafe -> "caf\u00e9",     // NFC composes, lowercases
      precomposed -> "caf\u00e9",        // precomposed input, same bytes out
      "  A\t\tB\nC  " -> "a b c",         // collapse + trim
      "" -> "",
      "ZH\u014cNG \u6587" -> "zh\u014dng \u6587",
      // SIMPLE case mapping: \u0130 \u2192 single 'i' (the FULL mapping would emit
      // i + U+0307, diverging from DuckDB lower()'s one-to-one utf8proc)
      "\u0130stanbul" -> "istanbul")
    val got = cases.map(_._1).toDF("s")
      .selectExpr("norm_text(s)").as[String].collect().toSeq
    assert(got === cases.map(_._2))
    // the kernel's normalization called directly agrees
    cases.foreach { case (in, want) => assert(NormText.normalize(in) === want) }
    // both spellings of café now fingerprint identically
    val fps = Seq(decomposedCafe, precomposed).toDF("s")
      .selectExpr("norm_text(s) AS n").selectExpr("md5(n)").as[String].collect()
    assert(fps(0) === fps(1))
    assert(spark.sql("SELECT norm_text(CAST(NULL AS STRING))").collect().head.isNullAt(0))
  }
}

class PqArgminSpec extends AnyFunSuite with SparkTestSession {
  import org.apache.spark.sql.functions._

  test("bit-identical to the least(struct) argmin on real embeddings, every subspace") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    val cents = graft.operators.Clustering.fixedCentroids(16)
    // full-dim cell assignment and four 16-dim subspace codes, both paths
    def structArgmin(offset: Int, subDim: Int) = least(
      cents.zipWithIndex.map { case (c, id) =>
        val sub = slice(col("embedding"), offset + 1, subDim)
        val cc = c.take(subDim)
        struct(
          (lit(cc.map(x => x * x).sum) - lit(2.0) *
            VecDot.vecDot(sub, lit(cc))).as("d"),
          lit(id).as("c_id"))
      }: _*).getField("c_id")
    val cases = Seq((0, 64), (0, 16), (16, 16), (32, 16), (48, 16))
    cases.foreach { case (off, sd) =>
      val trimmed = cents.map(_.take(sd))
      val rows = vecs.select(
        PqArgmin.pqArgmin(col("embedding"), trimmed, off, sd).as("native"),
        structArgmin(off, sd).as("struct")).collect()
      assert(rows.forall(r => r.getInt(0) == r.getInt(1)),
        s"mismatch at offset=$off subDim=$sd")
    }
  }

  test("ties keep the smallest centroid id; null vector propagates") {
    import spark.implicits._
    // two identical centroids: argmin must return id 0
    val cents = Seq(Array(1.0, 0.0), Array(1.0, 0.0), Array(0.0, 5.0))
    val got = Seq(Tuple1(Array(1.0f, 0.0f)), Tuple1(null.asInstanceOf[Array[Float]]))
      .toDF("v")
      .select(PqArgmin.pqArgmin(col("v"), cents, 0, 2).as("c"))
      .collect()
    assert(got(0).getInt(0) === 0)
    assert(got(1).isNullAt(0))
  }
}

class SortedIntersectCountSpec extends AnyFunSuite with SparkTestSession {
  import SortedIntersectCount.merge

  test("equals size(array_intersect) on randomized sorted sets (seeded)") {
    import spark.implicits._
    val rng = new scala.util.Random(0xC0FFEE)
    val rows = Seq.fill(500) {
      val a = Seq.fill(rng.nextInt(60))(rng.nextInt(80).toLong).distinct.sorted
      val b = Seq.fill(rng.nextInt(60))(rng.nextInt(80).toLong).distinct.sorted
      (a.toArray, b.toArray)
    }
    val want = rows.toDF("a", "b").select(size(array_intersect(col("a"), col("b"))))
      .as[Int].collect()
    assert(rows.map { case (a, b) => merge(a, b) } === want.toSeq)
  }

  test("empty / disjoint / identical / negative-spanning inputs") {
    val cases = Seq(
      (Array.empty[Long], Array(1L, 2L), 0),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L), 0),
      (Array(Long.MinValue, -7L, 0L, Long.MaxValue),
        Array(Long.MinValue, -7L, 0L, Long.MaxValue), 4),
      (Array(-5L, 1L, 9L), Array(-5L, 9L, 10L), 2))
    assert(cases.map { case (a, b, _) => merge(a, b) } === cases.map(_._3))
  }

  test("agrees with array_intersect on real shingle sets (interpreted twin too)") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    val sets = graft.operators.Dedup.shingleHashes(docs, 3)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_set(col("h"))).as("hs"))
    val pairs = sets.select(col("doc_id").as("a_id"), col("hs").as("ha"))
      .crossJoin(sets.select(col("doc_id").as("b_id"), col("hs").as("hb")))
      .filter(col("a_id") < col("b_id")).limit(2000)
    val rows = pairs.select(size(array_intersect(col("ha"), col("hb"))).as("spark"),
      col("ha"), col("hb")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(merge(r.getSeq[Long](1).toArray, r.getSeq[Long](2).toArray) === r.getInt(0))
    }
  }

  test("sign_pack equals the declarative aggregate fold on the fixture") {
    // the codegen kernel must be bit-identical to the CASE-gated
    // power-of-two fold it replaced (which IS the oracle's spelling)
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.01").embeddings
    def fold(offset: Int) = expr(
      s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT),
         (acc, d) -> acc + CASE
           WHEN element_at(embedding, d + $offset + 1) >= 0
           THEN shiftleft(CAST(1 AS BIGINT), d) ELSE CAST(0 AS BIGINT) END)""")
    val rows = vecs.select(
      graft.functions.SignPack.signPack(col("embedding"), 0, Array.fill(32)(0L)).as("n_lo"),
      graft.functions.SignPack.signPack(col("embedding"), 32, Array.fill(32)(0L)).as("n_hi"),
      fold(0).as("f_lo"), fold(32).as("f_hi"),
      col("embedding")).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(2))
      assert(r.getLong(1) === r.getLong(3))
      // an in-memory reference against the codegen result
      val v = r.getSeq[Float](4).toArray
      def ref(off: Int, means: Array[Long]): Long =
        (0 until 32).foldLeft(0L)((acc, d) =>
          if (d + off < v.length &&
              math.floor(v(d + off).toDouble * 1e6).toLong - means(d) >= 0)
            acc | (1L << d)
          else acc)
      assert(ref(0, Array.fill(32)(0L)) === r.getLong(0))
      assert(ref(32, Array.fill(32)(0L)) === r.getLong(1))
    }
    // nonzero means shift the boundary; short vectors contribute no bits
    // past their end (the declarative element_at → NULL behavior)
    import spark.implicits._
    val short = Seq((1L, Array(0.5f, -0.5f))).toDF("vec_id", "embedding")
    val m = Array.tabulate(32)(d => if (d == 0) 600000L else 0L)
    val got = short.select(
      graft.functions.SignPack.signPack(col("embedding"), 0, m)).head().getLong(0)
    // dim 0: 500000 - 600000 < 0 → no bit; dim 1: negative → no bit;
    // dims 2..31: past the end → no bit
    assert(got === 0L)
    val got2 = short.select(
      graft.functions.SignPack.signPack(col("embedding"), 0,
        Array.fill(32)(0L))).head().getLong(0)
    assert(got2 === 1L, "only dim 0 is non-negative and in range")
  }
}

class MaxSimMicroSpec extends AnyFunSuite with SparkTestSession {

  /** The HOF SQL spelling the native kernel replaced in
    * Retrieval.maxSimTopK — kept here verbatim as the parity oracle so
    * the kernel's operation order can never drift from it silently.
    */
  private def hofSpelling(tokens: Int, subDim: Int): String = s"""
    aggregate(sequence(0, ${tokens - 1}), CAST(0 AS BIGINT),
      (acc, i) -> acc + array_max(transform(
        sequence(0, ${tokens - 1}), j ->
          CAST(floor(aggregate(sequence(1, $subDim),
            CAST(0 AS DOUBLE),
            (s, kk) -> s
              + CAST(element_at(qv, i * $subDim + kk) AS DOUBLE)
              * CAST(element_at(embedding, j * $subDim + kk) AS DOUBLE))
            * 1e6) AS BIGINT))))"""

  test("bit-identical to the HOF spelling on random vectors (4x16 and 2x4)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for ((t, s) <- Seq((4, 16), (2, 4))) {
      val dim = t * s
      val rows = (0 until 40).map { i =>
        (i.toLong,
          Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4f).toSeq,
          Array.fill(dim)((rnd.nextFloat() - 0.5f) * 4f).toSeq)
      }
      val df = rows.toDF("id", "qv", "embedding")
      val got = df.select(
        MaxSimMicro.maxSim(col("qv"), col("embedding"), t, s)).as[Long].collect()
      val want = df.selectExpr(hofSpelling(t, s)).as[Long].collect()
      assert(got.toSeq === want.toSeq, s"tokens=$t subDim=$s")
    }
  }

  test("overflow parity: saturated sub-dots match at tokens=1, raise in both at tokens=2") {
    import spark.implicits._
    // 2e6·2e6·4 = 1.6e13 per sub-dot, so floor(dot·1e6) is past
    // Long.MaxValue: both spellings saturate the per-token floor
    val big = 2e6f
    val rows = Seq(
      (Seq.fill(8)(big), Seq.fill(8)(big)),
      (Seq.fill(8)(big), Seq.fill(8)(-big)),
      (Seq.fill(8)(-big), Seq.fill(8)(big)))
    val df = rows.toDF("qv", "embedding")
    for (s <- Seq(4, 8)) {
      val got = df.select(MaxSimMicro.maxSim(col("qv"), col("embedding"), 1, s))
        .as[Long].collect()
      val want = df.selectExpr(hofSpelling(1, s)).as[Long].collect()
      assert(got.toSeq === want.toSeq, s"tokens=1 subDim=$s")
      assert(got.forall(v => v == Long.MaxValue || v == Long.MinValue), got.toSeq)
    }
    // two saturated tokens overflow the BIGINT sum: the HOF's ANSI `+`
    // raises, and so must the kernel (never a silent wrap)
    for (row <- rows) {
      val one = Seq(row).toDF("qv", "embedding")
      val hof = intercept[Exception](one.selectExpr(hofSpelling(2, 4)).collect())
      assert(hof.getMessage.contains("ARITHMETIC_OVERFLOW"), hof.getMessage)
      val kernel = intercept[Exception](
        one.select(MaxSimMicro.maxSim(col("qv"), col("embedding"), 2, 4)).collect())
      assert(Iterator.iterate[Throwable](kernel)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[ArithmeticException]), kernel.toString)
    }
  }

  test("null array propagates; short array is a loud error") {
    val r = spark.sql(
      "SELECT maxsim_micro(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)), 1, 1)")
      .collect()
    assert(r.head.isNullAt(0))
    import spark.implicits._
    val bad = Seq((Array(1f, 2f).toSeq, Array(1f, 2f).toSeq)).toDF("qv", "embedding")
    val ex = intercept[Exception] {
      bad.select(MaxSimMicro.maxSim(col("qv"), col("embedding"), 4, 16)).collect()
    }
    assert(ex.getMessage != null)
  }
}

class ShingleHashesSpec extends AnyFunSuite with SparkTestSession {

  /** The SQL spelling the kernel replaced in Dedup.rawShingles +
    * xxhash64(shingle) — kept verbatim as the parity oracle.
    */
  private def sqlHashes(df: org.apache.spark.sql.DataFrame, n: Int) = {
    val toks = split(trim(col("text")), "\\s+")
    df.select(col("doc_id"), toks.as("w"))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(w) - $n), i -> concat_ws(' ', slice(w, i + 1, $n)))"))
        .as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
  }

  private def kernelHashes(df: org.apache.spark.sql.DataFrame, n: Int) =
    df.select(col("doc_id"),
      explode(ShingleHashes.shingleHashes(col("text"), n)).as("h"))

  test("bit-identical to the SQL spelling on the documents fixture (n=3 and n=5)") {
    val docs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").documents
    for (n <- Seq(3, 5)) {
      val want = sqlHashes(docs, n).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val got = kernelHashes(docs, n).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq === want.toSeq, s"n=$n")
    }
  }

  test("adversarial whitespace/unicode docs agree with the SQL spelling") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "  leading and trailing  "),
      (2L, "\ttab\tleads here now"),       // trim strips spaces only: leading empty token
      (3L, "multi   space\nand newline x"),
      (4L, "short"),                        // fewer than n tokens -> no rows
      (5L, ""),
      (6L, "naïve café 数据 引擎 ωmega"),
      (7L, "a a a a a a")
    ).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val want = sqlHashes(docs, n).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val got = kernelHashes(docs, n).collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq === want.toSeq, s"n=$n")
    }
  }

  test("null text yields null (explode then drops the row)") {
    import spark.implicits._
    val docs = Seq((0L, Option.empty[String]), (1L, Some("x y z"))).toDF("doc_id", "text")
    val got = kernelHashes(docs, 2).collect()
    assert(got.forall(_.getLong(0) == 1L) && got.length == 2)
  }
}

/** The one kernel expression: both evaluation paths agree for every
  * scalar kernel, and a call's identity is its name and arguments.
  */
class KernelCallSpec extends AnyFunSuite with SparkTestSession
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
  import org.apache.spark.sql.execution.WholeStageCodegenExec

  private val fixture = "/root/testdata/sf0.001"

  /** A 4 × 16 codebook as a SQL literal. */
  private val book = (0 until 4).map(c =>
    (0 until 16).map(d => s"${((c * 16 + d) % 7 - 3) / 10.0}D").mkString("array(", ", ", ")"))
    .mkString("array(", ", ", ")")

  /** Every scalar kernel as (table, SQL over its `text` or `embedding`). */
  private def calls(hashes: Seq[Long]): Seq[(String, String)] = Seq(
    "documents" -> "norm_text(text)",
    "documents" -> "simhash60(text)",
    "documents" -> "shingle_hashes(text, 3)",
    "documents" -> "winnow_fps(text, 5, 4)",
    "documents" -> s"ngram_any_in(text, 3, array(${hashes.map(h => s"${h}L").mkString(", ")}))",
    "embeddings" -> "vec_dot(embedding, embedding)",
    "embeddings" -> "vec_dot(embedding, array(0.5D, -0.25D, 2D))",
    "embeddings" -> "lsh_bands(embedding, 64, 8)",
    "embeddings" -> "maxsim_micro(embedding, embedding, 4, 16)",
    "embeddings" -> s"pq_argmin(embedding, 16, 16, $book)",
    "embeddings" -> s"pq_argmin_dist(embedding, 0, 16, $book)",
    "embeddings" -> "sign_pack(embedding, 32, array_repeat(0L, 32))",
    "embeddings" -> ("hilbert_xy2d(pmod(CAST(embedding[0] * 1e6 AS BIGINT), 256), " +
      "pmod(CAST(embedding[1] * 1e6 AS BIGINT), 256), 8)"))

  /** `sql` over `table`'s fixture rows, the first row's input nulled in
    * the data (not a literal, which constant folding would evaluate).
    */
  private def run(s: SparkSession, table: String, sql: String): (Seq[Row], Boolean) = {
    val (id, in) = if (table == "documents") ("doc_id", "text") else ("vec_id", "embedding")
    val t = graft.Engine.Tables(s, fixture).table(table)
    val first = t.agg(min(col(id))).head().get(0)
    val df = t.select(col(id), when(col(id) === lit(first), lit(null)).otherwise(col(in)).as(in))
      .selectExpr(id, s"$sql AS out")
    val rows = df.collect().sortBy(_.getLong(0)).toSeq
    (rows, find(df.queryExecution.executedPlan)(_.isInstanceOf[WholeStageCodegenExec]).nonEmpty)
  }

  test("codegen and interpreted eval agree for every scalar kernel, null input included") {
    val hashes = graft.Engine.Tables(spark, fixture).documents
      .select(explode(ShingleHashes.shingleHashes(col("text"), 3)))
      .limit(5).collect().map(_.getLong(0)).toSeq
    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val kernels = calls(hashes).map(_._2.takeWhile(_ != '(')).toSet
    assert(kernels.size === 12, kernels)
    for ((table, sql) <- calls(hashes)) {
      val (compiled, wholeStage) = run(spark, table, sql)
      val (evaluated, wholeStageOff) = run(interpreted, table, sql)
      assert(wholeStage && !wholeStageOff, sql)
      assert(compiled.head.isNullAt(1), s"$sql: null input")
      assert(compiled.size > 1 && compiled.tail.forall(!_.isNullAt(1)), sql)
      assert(evaluated === compiled, sql)
    }
  }

  test("two separately built calls with equal arguments are semanticEquals") {
    def kernel(df: DataFrame): Expression =
      df.queryExecution.analyzed.expressions.head.asInstanceOf[Alias].child
    // one frame per table: its attributes are the calls' shared input
    val t = graft.Engine.Tables(spark, fixture)
    val (docs, vecs) = (t.documents, t.embeddings)
    val a = kernel(docs.select(ShingleHashes.shingleHashes(col("text"), 3)))
    val b = kernel(docs.select(ShingleHashes.shingleHashes(col("text"), 3)))
    assert(a.isInstanceOf[KernelCall] && (a ne b))
    assert(a.semanticEquals(b))
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0))
    def pq(c: Seq[Array[Double]]) =
      kernel(vecs.select(PqArgmin.pqArgmin(col("embedding"), c, 0, 2)))
    assert(pq(cents).semanticEquals(pq(cents.map(_.clone))))
    assert(!pq(cents).semanticEquals(pq(Seq(Array(2.0, 0.0)))))
  }
}
