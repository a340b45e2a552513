package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, processed batch-at-a-time inside
  * executors (pipeline extension; the reference has no binary data plane —
  * its closest analogue is shipping opaque files through SDFS,
  * `file_system/file_system.go:89-119`).
  *
  * The container has no image/audio codecs, so the DECODE STEP IS A
  * DETERMINISTIC STUB (clearly marked below): it "decodes" a fake
  * width/height/channels from the blob's bytes. Everything around it —
  * the binary column, the metadata struct schema, the mapPartitions
  * batch shape, partition sizing, and the feature-vector contract
  * (`Array[Float]`, unit-norm) — is the real 100 TB-shape plumbing: swap
  * [[FakeCodec.decodeDims]]/[[FakeCodec.decodePixels]] for a JNI/codec
  * call and nothing else changes.
  *
  * Scale notes: blobs never pass through a shuffle here — metadata and
  * features are derived in the scan stage (narrow), so a 100 TB corpus
  * streams through executors at parquet-split granularity
  * (`spark.sql.files.maxPartitionBytes` bounds per-task memory; no
  * collect, no grouping on blob values).
  */
object Multimodal {

  /** The blob view of the corpus: text bytes stand in for media bytes
    * (same opaque-binary plumbing; the driver testdata has no media
    * column). kind is derived deterministically so queries can
    * filter/partition by modality.
    */
  def blobs(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      to_binary(col("text"), lit("utf-8")).as("blob"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"))

  /** Byte-level blob metadata — pure Catalyst, oracle-checkable: size,
    * first-8-bytes magic (how real container formats are sniffed), and a
    * 64-bit content hash for exact-dup detection on media.
    */
  def blobMetadata(spark: SparkSession, dir: String): DataFrame =
    blobs(spark, dir).select(
      col("doc_id"),
      col("kind"),
      length(col("blob")).as("n_bytes"),
      hex(substring(col("blob"), 1, 8)).as("magic_hex"),
      xxhash64(col("blob")).as("content_hash"))
      .orderBy(col("doc_id"))

  // ----------------------------------------------------------- STUB codec

  /** DETERMINISTIC FAKE of a media codec. A real deployment replaces this
    * object with bindings to an actual decoder (libjpeg/ffmpeg/...); the
    * function signatures are the contract the Spark plumbing depends on.
    */
  private[operators] object FakeCodec {
    /** "Decode" (width, height, channels, nFrames) from a blob. The fake
      * dims derive from the low 60 bits of md5(blob) — the same digest
      * DuckDB computes as `('0x' || substr(md5(text),1,15))::BIGINT` —
      * so even the stubbed decode is driver-oracle-checkable end to end
      * (the point is gating the PLUMBING: schema, batch shape, fan-out).
      */
    def decodeDims(blob: Array[Byte]): (Int, Int, Int, Int) = {
      val hex = java.security.MessageDigest.getInstance("MD5").digest(blob)
        .take(8).map(b => f"$b%02x").mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16) // 60 bits, always positive
      (64 + (h % 8 * 32).toInt,
        64 + ((h >> 8) % 8 * 32).toInt,
        3,
        1 + ((h >> 16) % 30).toInt)
    }

    /** Exact byte-bucket histogram of one "frame": 64 integer counts
      * (each blob byte lands in bucket `byte % 64`, starting the walk at
      * `frame`). The integer half of the pixel decode — engine-exact, so
      * the driver gate can hash it (counts are what a DuckDB oracle
      * reproduces from the text bytes; the float normalization below is
      * Float-precision arithmetic no other engine replays bit-for-bit).
      */
    def decodeCounts(blob: Array[Byte], frame: Int): Array[Long] = {
      val out = new Array[Long](64)
      var i = frame % math.max(blob.length, 1)
      var n = 0
      while (n < blob.length) {
        out(java.lang.Byte.toUnsignedInt(blob(i % blob.length)) % 64) += 1L
        i += 1; n += 1
      }
      out
    }

    /** "Decode" one frame to a fixed 8x8 grayscale patch (byte-histogram
      * proxy) — stands in for pixel decode + resize: the
      * [[decodeCounts]] histogram, unit-normalized in Float.
      */
    def decodePixels(blob: Array[Byte], frame: Int): Array[Float] = {
      val counts = decodeCounts(blob, frame)
      val out = counts.map(_.toFloat)
      val norm = math.sqrt(out.map(x => x * x.toDouble).sum).toFloat
      if (norm > 0) out.map(_ / norm) else out
    }
  }

  private val decodedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", IntegerType)))

  /** Decode dimensions batch-at-a-time: one [[FakeCodec]] call per blob
    * inside `mapPartitions` — the executor-side batch shape a real codec
    * needs (amortized init per partition, zero driver involvement). A
    * production variant would initialize the codec once per partition
    * here; that is exactly where the stub sits.
    */
  def decodeDims(spark: SparkSession, dir: String): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    blobs(spark, dir).select("doc_id", "kind", "blob")
      .mapPartitions { rows =>
        // per-partition codec init would go here
        rows.map { r =>
          val (w, h, c, f) = FakeCodec.decodeDims(r.getAs[Array[Byte]]("blob"))
          Row(r.getLong(0), r.getString(1), w, h, c, f)
        }
      }(enc)
      .orderBy(col("doc_id"))
  }

  /** Deterministic frame sampling: every ceil(n_frames / maxFrames)-th
    * frame index, exploded to one row per sampled frame — the standard
    * video pre-processing fan-out, all Catalyst (the codec is only needed
    * per sampled frame downstream).
    */
  def sampleFrames(spark: SparkSession, dir: String, maxFrames: Int = 4): DataFrame =
    decodeDims(spark, dir)
      .where(col("kind") === "video")
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1,
          greatest(ceil(col("n_frames") / maxFrames).cast("int"), lit(1))))
          .as("frame_idx"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Byte-histogram feature vectors from (id, blob) rows — the INTEGER
    * half of the stub encoder as floats: 64 exact counts
    * ([[FakeCodec.decodeCounts]], frame 0), each < 2^24 so the float
    * cast is value-preserving and every downstream double product is
    * exact integer arithmetic any engine replays (unlike
    * [[extractFeaturesAudit]]'s float-DIVIDED embedding, which is why the
    * cross-modal gate retrieves over counts, not normalized floats).
    * Same mapPartitions batch shape as every decode path here.
    */
  private def histVecs(src: DataFrame, idName: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(idName, LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val enc = RowEncoder.encoderFor(schema)
    src.mapPartitions { rows =>
      rows.map { r =>
        Row(r.getLong(0),
          FakeCodec.decodeCounts(r.getAs[Array[Byte]](1), 0)
            .map(_.toFloat).toSeq)
      }
    }(enc)
  }

  /** Cross-modal retrieval over the multimodal columns — the
    * composition the `mm_*` family exists to feed: a TEXT-side query
    * batch (the first `numQueries` documents, encoded straight from
    * their text bytes) retrieves from the IMAGE-side corpus (every
    * image-kind blob, encoded through the [[FakeCodec]] decode
    * plumbing) via [[Similarity.ivfXModalTrainedTopK]]'s
    * trained-centroid IVF index. Both encoders are the deterministic
    * byte-histogram stub — the shared-space contract a CLIP-style
    * deployment provides with real encoders; swap [[FakeCodec]] and
    * nothing else changes. Hash-gated end to end: counts, training,
    * assignment, probing and cosine are all exact integer-derived
    * arithmetic the DuckDB oracle replays (including the four-chain
    * Lloyd training over the image features).
    *
    * Scale shape: two scan-stage encodes (no shuffle — blobs never
    * leave their executor), one k·dim-state training over the image
    * side, broadcast query batch, probed-cell candidate scoring only.
    */
  def xmodalTopK(spark: SparkSession, dir: String, numQueries: Int = 10,
      k: Int = 10, cells: Int = 16, nProbe: Int = 4,
      iters: Int = 2): DataFrame = {
    val corpus = histVecs(
      blobs(spark, dir).filter(col("kind") === "image")
        .select(col("doc_id"), col("blob")), "vec_id")
    val queries = histVecs(
      Tables(spark, dir).documents.filter(col("doc_id") < numQueries)
        .select(col("doc_id"),
          to_binary(col("text"), lit("utf-8")).as("blob")), "q_id")
    Similarity.ivfXModalTrainedTopK(corpus, queries, k, cells, nProbe, iters)
  }

  /** Feature extraction with value-level audit columns: blob → unit-norm
    * Array[Float] embedding via the stub pixel decode (`doc_id` and
    * `embedding` have the `embeddings` table's types). The same
    * per-blob [[FakeCodec]] decode also emits the EXACT integer
    * histogram the embedding was normalized from, rolled up in-plan to
    * `hist_sq = Σcᵢ²` (a BIGINT — the squared norm in count units) and
    * an md5 digest of the comma-joined 64 counts (the repo's
    * array-gating technique, [[Clustering.labelCentroids]]). Those two
    * columns are engine-exact — a DuckDB oracle recomputes them from
    * the text bytes — while the Float-normalized `embedding` itself is
    * Float-division arithmetic no cross-engine gate should promise
    * bit-equality on; its tie to the histogram (`embedding = counts /
    * √hist_sq`, unit norm) is ScalaTest-pinned (MultimodalSpec). Scale
    * shape: one scan-stage mapPartitions, no shuffle, blobs never leave
    * the executor.
    */
  def extractFeaturesAudit(spark: SparkSession, dir: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("hist", ArrayType(LongType, containsNull = false))))
    val enc = RowEncoder.encoderFor(schema)
    blobs(spark, dir).select("doc_id", "blob")
      .mapPartitions { rows =>
        rows.map { r =>
          val blob = r.getAs[Array[Byte]]("blob")
          Row(r.getLong(0), FakeCodec.decodePixels(blob, 0).toSeq,
            FakeCodec.decodeCounts(blob, 0).toSeq)
        }
      }(enc)
      .select(col("doc_id"), col("embedding"),
        expr("aggregate(hist, CAST(0 AS BIGINT), (a, c) -> a + c * c)")
          .as("hist_sq"),
        md5(concat_ws(",", expr("transform(hist, c -> CAST(c AS STRING))")))
          .as("hist_digest"))
      .orderBy(col("doc_id"))
  }
}
