package graft.operators

import graft.Engine.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full curation pipeline as ONE composed plan — the "switch your
  * pipeline to this library" demonstration: exact dedup → train/eval
  * decontamination → fixed-weight quality admission → deterministic
  * sampling, each stage the SAME operator its standalone gate proves,
  * chained the way a production corpus build runs them. Catalyst sees
  * one tree (stages fuse where profitable, the decon broadcast and the
  * dedup aggregate stay the only wide moves); the gate proves the
  * composition end to end against a DuckDB restatement of all four
  * stages.
  *
  * Stage order is the cost-correct one for 100 TB: dedup first (hash
  * aggregate, cheapest per byte removed), then decontamination (drops
  * must happen before anything trains), then the quality model (scalar
  * scan), then the sample gate (free) — each stage shrinks what the
  * next one reads.
  */
object Pipeline {

  def curate(docs: DataFrame, evalDocs: DataFrame,
      sampleFraction: Double = 0.5): DataFrame = {
    // 1. exact dedup: the canonical (min doc_id) survivor per content class
    val keepIds = Dedup.exactDedupDocs(docs)
      .select(col("keep_id").as("doc_id"))
    val deduped = docs.join(keepIds, "doc_id")
    // 2. decontamination: survivors sharing any 5-gram with the eval
    //    suite are dropped (the eval set is carved from the RAW corpus —
    //    an eval doc whose duplicate was deduped away must still burn
    //    its n-grams)
    val train = deduped.filter(col("doc_id") % 20 =!= 0)
    val clean = train.join(Dedup.decontaminate(train, evalDocs), "doc_id")
    // 3. quality admission under the gate-proven fixed-weight model
    val admitted = QualityModel.logitScoreWide(clean)
      .filter(col("keep") === 1)
    // 4. deterministic hash-gated sample — the final corpus cut
    Sampling.deterministicSample(admitted, "doc_id", sampleFraction, "cur:")
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("tok"),
        col("z"))
      .orderBy(col("doc_id"))
  }

  def curateDocs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    curate(docs, docs.filter(col("doc_id") % 20 === 0))
  }
}
