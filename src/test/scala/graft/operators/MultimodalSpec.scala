package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  test("blob metadata reflects the exact bytes") {
    val texts = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val meta = Multimodal.blobMetadata(spark, dir).collect()
    assert(meta.length === texts.size)
    meta.foreach { r =>
      val bytes = texts(r.getLong(0)).getBytes("UTF-8")
      assert(r.getInt(2) === bytes.length)
      assert(r.getString(3) ===
        bytes.take(8).map(b => f"${b & 0xff}%02X").mkString)
    }
  }

  test("decode runs batch-wise in executors and matches the stub codec") {
    val texts = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dims = Multimodal.decodeDims(spark, dir).collect()
    dims.foreach { r =>
      val (w, h, c, f) =
        Multimodal.FakeCodec.decodeDims(texts(r.getLong(0)).getBytes("UTF-8"))
      assert((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)) === ((w, h, c, f)))
    }
  }

  test("frame sampling: bounded count, valid indices, even stride") {
    val frames = Multimodal.sampleFrames(spark, dir, maxFrames = 4).collect()
    assert(frames.nonEmpty)
    frames.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val n = rs.head.getInt(1)
      val idx = rs.map(_.getInt(2)).sorted
      assert(idx.length <= 4)
      assert(idx.forall(i => i >= 0 && i < n))
      assert(idx.head === 0)
    }
  }

  test("xmodalTopK: image-kind corpus only; a text query's own image is the rank-1 hit") {
    val out = Multimodal.xmodalTopK(spark, dir).collect()
    // 10 text-side queries × top-10 image-side neighbors
    assert(out.length === 100)
    // the corpus is the image modality only
    out.foreach { r =>
      assert(r.getLong(2) % 3 === 0,
        s"neighbor ${r.getLong(2)} is not an image-kind doc")
    }
    // ground-truth self-hit: for query docs that ARE image-kind (text
    // bytes == blob bytes, both encoders are the byte histogram), the
    // doc's own image must surface at rank 1 with cosine exactly 1.0 —
    // the cross-modal contract a CLIP-style space provides
    val rk1 = out.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    Seq(0L, 3L, 6L, 9L).foreach { q =>
      assert(rk1(q) === ((q, 1.0)), s"query $q must retrieve its own image first")
    }
    // non-image queries still get a full, sane result page
    Seq(1L, 2L, 4L, 5L, 7L, 8L).foreach { q =>
      assert(rk1.contains(q) && rk1(q)._2 <= 1.0)
    }
  }

  test("audit histogram ties to the embedding: counts/√hist_sq in Float") {
    val rows = Multimodal.extractFeaturesAudit(spark, dir).collect()
    val texts = graft.Engine.Tables(spark, dir).documents
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length === texts.size)
    rows.foreach { r =>
      val docId = r.getLong(0)
      val emb = r.getSeq[Float](1)
      val histSq = r.getLong(2)
      // independent recompute of the histogram from the raw bytes
      val counts = new Array[Long](64)
      texts(docId).getBytes("UTF-8").foreach { b =>
        counts(java.lang.Byte.toUnsignedInt(b) % 64) += 1L
      }
      assert(histSq === counts.map(c => c * c).sum)
      assert(r.getString(3) ===
        java.security.MessageDigest.getInstance("MD5")
          .digest(counts.mkString(",").getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString)
      // the embedding IS the Float normalization of exactly these counts
      val norm = math.sqrt(counts.map(c => c.toDouble * c).sum).toFloat
      counts.zip(emb).foreach { case (c, e) =>
        assert(e === c.toFloat / norm)
      }
    }
  }
}
