package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout optimization — Z-order (Morton-curve) file assignment with
  * per-file column statistics, the lakehouse `OPTIMIZE ZORDER BY` /
  * data-skipping primitive. At 100 TB the dominant read cost is scanning
  * files that can't be pruned: laying rows out along a space-filling curve
  * over the two most-filtered columns makes each file's (min, max)
  * envelope tight in BOTH dimensions at once, so a predicate on either
  * column skips most files from manifest stats alone. A linear sort gives
  * tight envelopes on one column and useless ones on the other; Z-order
  * is the standard compromise (Delta/Iceberg both ship it).
  *
  * Everything here is exact integer arithmetic — max-scaled quantization
  * to [[Bits]]-bit cells, bit interleaving as a sum of shifted bit
  * extractions, fixed-width bucket assignment — so the layout is
  * bit-identical in any engine and under any partitioning, and the gated
  * per-file stats table is hash-checkable.
  *
  * 100 TB shape: quantization + interleaving are pure per-row scalar
  * expressions fused into the scan (the one-row max-bounds aggregate is
  * broadcast); file assignment is `z div width` — embarrassingly parallel,
  * NO global sort (a range-partitioned sort would also work and give
  * balanced file sizes, but needs sampled boundaries; fixed-width cells
  * keep the rule deterministic and engine-portable, the same trade
  * `sentenceChunksFrom` makes). The stats rollup is one ordinary aggregation
  * on file_id. A real writer would follow with
  * `repartition(file_id).write` — the assignment column IS the shuffle
  * key, so co-locating rows into their files is one exchange.
  */
object Layout {

  /** Quantization bits per dimension; Z-values are 2·Bits wide. */
  val Bits = 10

  /** Output files: the Z-value space divides into this many fixed cells. */
  val Files = 64

  /** Bit-interleave two Bits-bit integers (x even positions, y odd):
    * Σ_i ((x >> i) & 1) << 2i + ((y >> i) & 1) << (2i+1). Generated as a
    * flat shift/mask sum so the identical expression can be spelled in
    * SQL ([[graft.SparkEntry]]'s oracle does).
    */
  def interleave(x: Column, y: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Z-order layout of `df` over non-negative integer columns `xCol`,
    * `yCol`: one output row per input row, with the max-scaled
    * quantization `(v · 2^Bits) div (max+1)` per dimension, the Morton
    * code, and its target file. Scan-fused; zero shuffles.
    */
  def zorderAssign(df: DataFrame, xCol: String, yCol: String): DataFrame =
    zorderAssignWith(df, xCol, yCol, mxBounds(df, xCol, yCol))

  /** The (max+1) scaling bounds every layout shares — factored out so
    * [[skipAudit]] can compute ONE corpus max-aggregate and feed all
    * three layouts instead of paying one bounds scan per layout.
    */
  private def mxBounds(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.agg(
      (max(col(xCol)).cast("long") + 1L).as("__mx"),
      (max(col(yCol)).cast("long") + 1L).as("__my"))

  private def zorderAssignWith(df: DataFrame, xCol: String, yCol: String,
      bounds: DataFrame): DataFrame = {
    val cellW = (1L << (2 * Bits)) / Files
    df.crossJoin(broadcast(bounds))
      .withColumn("__zx",
        expr(s"CAST($xCol AS BIGINT) * ${1L << Bits} div __mx"))
      .withColumn("__zy",
        expr(s"CAST($yCol AS BIGINT) * ${1L << Bits} div __my"))
      .withColumn("zval", interleave(col("__zx"), col("__zy")))
      .withColumn("file_id", expr(s"zval div $cellW"))
      .drop("__mx", "__my", "__zx", "__zy")
  }

  /** The manifest a lakehouse writer would record: per-file row counts and
    * per-dimension (min, max) envelopes — exactly the stats data skipping
    * prunes on. Gated output: at most [[Files]] rows.
    */
  def zorderStats(df: DataFrame, xCol: String, yCol: String): DataFrame =
    fileStats(zorderAssign(df, xCol, yCol), xCol, yCol)

  /** The per-file manifest aggregation all three layouts share. */
  private def fileStats(assigned: DataFrame, xCol: String,
      yCol: String): DataFrame =
    assigned
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).cast("long").as("min_x"),
        max(col(xCol)).cast("long").as("max_x"),
        min(col(yCol)).cast("long").as("min_y"),
        max(col(yCol)).cast("long").as("max_y"))
      .orderBy(col("file_id"))

  // ------------------------------------------------ Hilbert-curve layout

  /** Hilbert index of a quantized ([[Bits]]-bit x, y) cell — the
    * strictly-better space-filling curve for data skipping: unlike the
    * Morton curve, consecutive Hilbert indices are always GRID
    * NEIGHBORS (no diagonal jumps across the plane at power-of-two
    * boundaries), so file envelopes along the curve are tighter and
    * skipping prunes more — which is why lakehouse clustering engines
    * moved from ZORDER to Hilbert. The classic xy2d bit-level
    * transform (per level: quadrant digit `rx ? 3−ry : ry`, then
    * conditional flip + swap rotates the frame) runs as the native
    * codegen kernel [[graft.functions.HilbertIdx]] — it was first
    * spelled as an in-row `aggregate` fold (the unigram-DP technique),
    * which is semantically identical but interpreted: measured ~9× the
    * Morton projection on the same scan, vs at-par once compiled into
    * the whole-stage-generated loop. Pure integer shift/mask/add
    * arithmetic end to end; the DuckDB oracle unrolls the identical
    * recurrence one CTE step per level.
    */
  def hilbertIndex(zx: String, zy: String): Column =
    graft.functions.HilbertIdx.hilbertXy2d(col(zx), col(zy), Bits)

  /** [[zorderAssign]] with the Hilbert index as the layout key — same
    * max-scaled quantization, same fixed-width file cells, same
    * zero-shuffle scan-fused shape.
    */
  def hilbertAssign(df: DataFrame, xCol: String, yCol: String): DataFrame =
    hilbertAssignWith(df, xCol, yCol, mxBounds(df, xCol, yCol))

  private def hilbertAssignWith(df: DataFrame, xCol: String, yCol: String,
      bounds: DataFrame): DataFrame = {
    val cellW = (1L << (2 * Bits)) / Files
    df.crossJoin(broadcast(bounds))
      .withColumn("__zx",
        expr(s"CAST($xCol AS BIGINT) * ${1L << Bits} div __mx"))
      .withColumn("__zy",
        expr(s"CAST($yCol AS BIGINT) * ${1L << Bits} div __my"))
      .withColumn("hval", hilbertIndex("__zx", "__zy"))
      .withColumn("file_id", expr(s"hval div $cellW"))
      .drop("__mx", "__my", "__zx", "__zy")
  }

  /** Per-file manifest stats under the Hilbert layout ([[zorderStats]]'
    * twin — at most [[Files]] rows, hash-gated).
    */
  def hilbertStats(df: DataFrame, xCol: String, yCol: String): DataFrame =
    fileStats(hilbertAssign(df, xCol, yCol), xCol, yCol)

  // --------------------------------------------- skipping-effectiveness

  /** Per-file manifest under a LINEAR layout (sorted by `xCol` alone):
    * file = x's quantized cell, `zx div (2^Bits / Files)`. The baseline
    * every curve layout is measured against — perfect envelopes on x,
    * arbitrary ones on y. `bounds` is [[skipAudit]]'s one-row
    * `__mx`/`__my` scaling table.
    */
  private def linearStatsWith(df: DataFrame, xCol: String, yCol: String,
      bounds: DataFrame): DataFrame = {
    val cellW = (1L << Bits) / Files
    df.crossJoin(broadcast(bounds))
      .withColumn("file_id",
        expr(s"(CAST($xCol AS BIGINT) * ${1L << Bits} div __mx) div $cellW"))
      .drop("__my")
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col(xCol)).cast("long").as("min_x"),
        max(col(xCol)).cast("long").as("max_x"),
        min(col(yCol)).cast("long").as("min_y"),
        max(col(yCol)).cast("long").as("max_y"))
  }

  /** File-skipping effectiveness audit — the number that justifies a
    * layout job at 100 TB: for each layout (linear-by-x, Z-order,
    * Hilbert), how many files a range predicate on x and on y would
    * actually scan given only the manifest's (min, max) envelopes
    * (`max ≥ lo AND min ≤ hi` — the pruning test every lakehouse reader
    * runs), and how many rows those surviving files hold. The probe
    * ranges are corpus-derived ([max/4, max/2] per dimension — integer
    * division, so both engines derive identical probes). Expected
    * shape, asserted in LayoutSpec: linear prunes x perfectly and y not
    * at all; the curves prune BOTH, Hilbert at least as well as Morton.
    *
    * 100 TB shape: three manifest aggregations (each the wordcount
    * pattern over a scan-fused layout assignment) into ≤ 3·[[Files]]
    * manifest rows; the audit itself is arithmetic over those rows
    * against a broadcast 1-row bounds frame. Output: 3 rows.
    */
  def skipAudit(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // ONE corpus max-aggregate feeds all three layouts' scaling bounds
    // AND the probe ranges (was: one bounds scan per layout plus the
    // probe bounds — 4 corpus aggregation passes for the same two max
    // values; the checkpoint is a 1-row table). (max+1) derived from
    // the same max is the identical long arithmetic each layout
    // computed itself.
    val bounds = df.agg(max(col(xCol)).cast("long").as("__bx"),
      max(col(yCol)).cast("long").as("__by")).localCheckpoint(true)
    val mxmy = bounds.select((col("__bx") + 1L).as("__mx"),
      (col("__by") + 1L).as("__my"))
    val manifests =
      linearStatsWith(df, xCol, yCol, mxmy)
        .withColumn("layout", lit("linear_x"))
        .unionByName(fileStats(zorderAssignWith(df, xCol, yCol, mxmy),
          xCol, yCol).withColumn("layout", lit("zorder")))
        .unionByName(fileStats(hilbertAssignWith(df, xCol, yCol, mxmy),
          xCol, yCol).withColumn("layout", lit("hilbert")))
    manifests.crossJoin(broadcast(bounds))
      .withColumn("__hit_x",
        col("max_x") >= expr("__bx div 4") && col("min_x") <= expr("__bx div 2"))
      .withColumn("__hit_y",
        col("max_y") >= expr("__by div 4") && col("min_y") <= expr("__by div 2"))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("__hit_x"), 1L).otherwise(0L)).as("files_x"),
        sum(when(col("__hit_x"), col("n_rows")).otherwise(0L)).as("rows_x"),
        sum(when(col("__hit_y"), 1L).otherwise(0L)).as("files_y"),
        sum(when(col("__hit_y"), col("n_rows")).otherwise(0L)).as("rows_y"))
      .orderBy(col("layout"))
  }
}
