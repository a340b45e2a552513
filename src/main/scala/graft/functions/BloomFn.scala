package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Session-level exposure of Spark's own runtime-filter Bloom expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain`, the pair the
  * `InjectRuntimeFilter` optimizer rule plants under joins) as callable
  * functions `bloom_agg(h[, expectedItems])` / `bloom_might_contain(bf, h)`.
  *
  * Why expose them: the exact-set broadcast in [[graft.operators.Dedup
  * .decontaminate]] is bounded by the 8 GB broadcast hard limit — a
  * billion-shingle eval suite needs ~8 GB exact but ~1.2 GB as a 3%-fpp
  * Bloom, and the filter is built INSIDE the plan (distributed partial
  * aggregation, merged buffers), never on the driver, so the whole
  * prefilter stays lazy and cluster-sized. False positives are removed by
  * an exact verify pass downstream, so operators composed from these stay
  * exact.
  *
  * The reference has no sketch machinery at all (SURVEY §4.1); this is
  * pure scale infrastructure for the training-data pipeline tier.
  */
object BloomFn {

  /** `bloom_agg(h, expectedItems)` — aggregate a LongType column into a
    * serialized Bloom filter (BinaryType, one row).
    */
  def bloomAgg(h: Column, expectedItems: Long): Column =
    call_function("bloom_agg", h, org.apache.spark.sql.functions.lit(expectedItems))

  /** `bloom_might_contain(bf, h)` — membership probe; `bf` must be a
    * constant or scalar-subquery Bloom binary.
    */
  def mightContain(bf: Column, h: Column): Column =
    call_function("bloom_might_contain", bf, h)
}
