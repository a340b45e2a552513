package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusteringSpec extends AnyFunSuite with SparkTestSession {

  test("kmeans recovers well-separated clusters exactly (3 seeds)") {
    import spark.implicits._
    for (seed <- 0 until 3) {
      val r = new scala.util.Random(600 + seed)
      val dim = 8
      // 3 centers far apart; points jittered a little around each
      val centers = Seq.tabulate(3)(c => Array.fill(dim)(c * 100.0 + r.nextDouble()))
      val pts = (0 until 90).map { i =>
        val c = i % 3
        (i.toLong, centers(c).map(x => (x + r.nextDouble() * 0.1).toFloat).toSeq, c)
      }
      val df = pts.map(p => (p._1, p._2)).toDF("vec_id", "embedding")
      val (assign, cents) = Clustering.kmeans(df, k = 3, iters = 4)
      assert(cents.length === 3)
      val got = assign.select("vec_id", "cluster")
        .as[(Long, Int)].collect().toMap
      // same true center => same predicted cluster, different => different
      val byTrue = pts.groupBy(_._3).view.mapValues(_.map(p => got(p._1)).toSet)
      byTrue.foreach { case (c, preds) =>
        assert(preds.size === 1, s"seed=$seed true cluster $c split: $preds")
      }
      assert(byTrue.values.flatten.toSet.size === 3, s"seed=$seed clusters merged")
    }
  }

  /** `frame` over RDD lineage: same rows, but Catalyst has no size
    * estimate for it (defaultSizeInBytes), so it takes the distributed arm.
    */
  private def rddCopy(frame: org.apache.spark.sql.DataFrame) =
    spark.createDataFrame(frame.rdd, frame.schema)

  test("kmeans driver arm is bit-identical to the distributed loop") {
    // the size-gated driver arm is a pure scheduling optimization: the
    // integer-micro sums are associative and the argmin replays the
    // PqArgmin recipe op-for-op, so BOTH arms must land the exact same
    // IEEE doubles — on raw float embeddings AND on the unit-normalized
    // trainer frame the IVF/stack gates feed in
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val unit = vecs
      .withColumn("norm", org.apache.spark.sql.functions.sqrt(
        graft.functions.VecDot.vecDot(col("embedding"), col("embedding"))))
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x / norm AS float))").as("embedding"))
    for (frame <- Seq(vecs, unit)) {
      val copy = rddCopy(frame)
      assert(Clustering.takesDriverArm(frame), "driver arm not taken")
      assert(!Clustering.takesDriverArm(copy), "RDD copy took the driver arm")
      val (aDrv, cDrv) = Clustering.kmeans(frame, k = 8, iters = 3)
      val (aDist, cDist) = Clustering.kmeans(copy, k = 8, iters = 3)
      assert(cDrv.map(_.toSeq).toSeq === cDist.map(_.toSeq).toSeq,
        "centroids diverged between arms")
      val drvAssign = aDrv.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val distAssign = aDist.collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      assert(drvAssign === distAssign, "assignments diverged between arms")
    }
  }

  test("kmeans driver arm orders int and string ids as the distributed orderBy") {
    // the driver arm sorts on the driver; it must use Spark's order for
    // the id's type. The string ids put U+FF01 before an astral code
    // point under Spark's UTF-8 byte order, but after it under Java's
    // UTF-16 compareTo, so a Java sort would pick other init vectors.
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val intIds = vecs.select(col("vec_id").cast("int").as("vec_id"), col("embedding"))
    val strIds = vecs.select(
      concat(when(col("vec_id") % 2 === 0, lit("\uFF01")).otherwise(lit("\uD83D\uDE00")),
        lpad(col("vec_id").cast("string"), 6, "0")).as("vec_id"),
      col("embedding"))
    for (frame <- Seq(intIds, strIds)) {
      val idType = frame.schema("vec_id").dataType
      val copy = rddCopy(frame)
      assert(Clustering.takesDriverArm(frame), s"$idType: driver arm not taken")
      assert(!Clustering.takesDriverArm(copy), s"$idType: RDD copy took the driver arm")
      val (_, cDrv) = Clustering.kmeans(frame, k = 8, iters = 3)
      val (_, cDist) = Clustering.kmeans(copy, k = 8, iters = 3)
      assert(cDrv.map(_.toSeq).toSeq === cDist.map(_.toSeq).toSeq,
        s"$idType: centroids diverged between arms")
    }
  }

  test("kmeans inertia never increases across iterations") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    def inertia(iters: Int): Double = {
      val (a, _) = Clustering.kmeans(vecs, k = 8, iters = iters)
      a.agg(sum(col("dist2"))).head.getDouble(0)
    }
    val i1 = inertia(1)
    val i3 = inertia(3)
    assert(i3 <= i1 + 1e-6, s"inertia rose: $i1 -> $i3")
  }

  test("gated assignment covers every vector exactly once") {
    val dir = "/root/testdata/sf0.001"
    val out = Clustering.kmeansAssign(spark, dir)
    val n = graft.Engine.Tables(spark, dir).embeddings.count()
    assert(out.count() === n)
    assert(out.select("vec_id").distinct.count() === n)
    val k = out.select("cluster").distinct.count()
    assert(k >= 2 && k <= 16)
  }

  test("semDedup prunes planted near-identical copies, keeps originals") {
    import spark.implicits._
    val orig = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
      .select("vec_id", "embedding")
    // byte-identical copy: cosine = 1 and the argmin input is identical,
    // so the copy provably shares its original's cluster and is
    // dominated by it (a scaled copy could flip cluster near a centroid
    // tie — the c² term doesn't rescale with v)
    val copies = orig.select(
      (col("vec_id") + lit(100000L)).as("vec_id"), col("embedding"))
    val survivors = Clustering.semDedup(orig.unionByName(copies))
      .select("vec_id").as[Long].collect().toSet
    assert(survivors.forall(_ < 100000L), "a planted copy survived")
    val baseSurvivors = Clustering.semDedup(orig)
      .select("vec_id").as[Long].collect().toSet
    assert(survivors === baseSurvivors)
  }

  test("semDedup matches an in-memory assignment + pruning reference") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val cents = Clustering.fixedCentroids(16)
    def dot(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, c.length)) { s += a(i).toDouble * c(i); i += 1 }
      s
    }
    def dotF(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(a.length, b.length)) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val assigned = vecs.map { case (id, v) =>
      val cl = cents.zipWithIndex.map { case (c, cid) =>
        (c.map(x => x * x).sum - 2.0 * dot(v, c), cid)
      }.min._2
      (id, cl, v, math.sqrt(dotF(v, v)))
    }
    val dominated = (for {
      u <- assigned; v <- assigned
      if u._2 == v._2 && u._1 < v._1
      if dotF(u._3, v._3) / (u._4 * v._4) >= Clustering.SemDedupTau
    } yield v._1).toSet
    val expected = assigned.filterNot(a => dominated(a._1))
      .map(a => (a._1, a._2)).sortBy(_._1).toSeq
    val got = Clustering.semDedup(
        graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got === expected)
  }

  test("labelCentroids: exact micro sums vs in-memory reference, partition-stable") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val raw = vecs.collect().map(r =>
      (r.getInt(r.fieldIndex("label")), r.getSeq[Float](r.fieldIndex("embedding"))))
    val byLabel = raw.groupBy(_._1)
    val expected = byLabel.map { case (label, rows) =>
      val dim = rows.head._2.length
      val sums = Array.tabulate(dim)(d =>
        rows.map(r => math.floor(r._2(d).toDouble * 1e6).toLong).sum)
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(sums.mkString(",").getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      label -> ((rows.length.toLong, sums(0), digest))
    }
    def run(df: org.apache.spark.sql.DataFrame) =
      Clustering.labelCentroids(df).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
    val got = run(vecs)
    assert(got === expected)
    assert(run(vecs.repartition(17)) === got) // Long sums: order-free
  }

  test("embedDrift: zero for identical slices, exact for a planted shift") {
    import spark.implicits._
    // label 0: old and new slices identical → l1_scaled = 0
    // label 1: new slice shifted by +0.5 in dim 0 only →
    //   per-dim |so·nn − sn·no| = |so·1 − (so + 500000)·1| = 500000
    val v0 = Seq(0.25f, -0.5f, 0.125f)
    val v1 = Seq(0.1f, 0.2f, -0.3f)
    val v1shift = Seq(0.6f, 0.2f, -0.3f)
    val vecs = Seq(
      (0L, v0, 0), (1L, v0, 0),       // label 0: even(old)=odd(new)
      (2L, v1, 1), (3L, v1shift, 1))  // label 1: shifted new slice
      .toDF("vec_id", "embedding", "label")
    val got = Clustering.embedDrift(vecs).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(0) === ((1L, 1L, 0L)))
    assert(got(1) === ((1L, 1L, 500000L)))
    // partitioning-invariant: pure Long sums and products
    val re = Clustering.embedDrift(vecs.repartition(7)).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(re === got)
  }

  test("balancedAssign: per-cluster totals respect cap; moved = far tail") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val n = vecs.count()
    val k = 16
    val cap = (n + k - 1) / k
    val rows = Clustering.balancedAssign(vecs, k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(rows.length === n)
    // capacity bound: the FIRST-choice load per cluster never exceeds cap
    // (moved rows land on their second choice, which this single greedy
    // round does not re-balance — documented; assert the unmoved side)
    val unmovedPerCluster = rows.filter(!_._3).groupBy(_._2).map(_._2.size)
    assert(unmovedPerCluster.forall(_ <= cap),
      s"unmoved overflow: ${unmovedPerCluster.toSeq.sorted.reverse.take(3)}")
    // unmoved rows sit on their exact nearest centroid
    val nearest = Clustering.kmeansFixedAssign(spark,
        "/root/testdata/sf0.001", k).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.filter(!_._3).foreach { case (id, c, _) =>
      assert(c === nearest(id), s"unmoved vec $id not on nearest centroid")
    }
    // moved rows are NOT on their nearest (they were displaced)
    rows.filter(_._3).foreach { case (id, c, _) =>
      assert(c !== nearest(id), s"moved vec $id still on nearest")
    }
    // partitioning-invariant
    val re = Clustering.balancedAssign(vecs.repartition(13), k).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    assert(re.sortBy(_._1).toSeq === rows.sortBy(_._1).toSeq)
  }

  test("kCenterCoreset matches an in-memory farthest-first traversal") {
    val vecs = graft.Engine.Tables(spark, "/root/testdata/sf0.001").embeddings
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .toMap
    def dMicro(v: Array[Double], c: Array[Double]): Long = {
      var vv = 0.0; var dot = 0.0; var c2 = 0.0
      (0 until 64).foreach { d =>
        vv += v(d) * v(d); dot += v(d) * c(d); c2 += c(d) * c(d)
      }
      math.floor((vv + (c2 - 2.0 * dot)) * 1e6).toLong
    }
    val ids = raw.keys.toSeq.sorted
    var centers = Vector(ids.head)
    var md = ids.map(id => id -> dMicro(raw(id), raw(ids.head))).toMap
    var expect = Vector((1, ids.head, 0L))
    (2 to 8).foreach { step =>
      val (nid, nd) = md.toSeq.maxBy { case (id, d) => (d, -id) }
      expect :+= ((step, nid, nd))
      centers :+= nid
      md = md.map { case (id, d) => id -> math.min(d, dMicro(raw(id), raw(nid))) }
    }
    val got = Clustering.kCenterCoreset(vecs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toVector
    assert(got === expect)
    // coverage radius is non-increasing — the curve data selection reads
    got.sliding(2).foreach {
      case Vector((_, _, d1), (s2, _, d2)) =>
        assert(d2 <= d1 || s2 == 2, s"radius grew at step $s2")
      case _ =>
    }
    // loud bound past the oracle unroll depth
    val ex = intercept[IllegalArgumentException] {
      Clustering.kCenterCoreset(vecs, k = 20)
    }
    assert(ex.getMessage.contains("KCenterMaxK"))
  }
}
