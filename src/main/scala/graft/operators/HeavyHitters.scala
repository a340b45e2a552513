package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Heavy-hitter (frequent-item) detection over a key column — the
  * standard two-pass pipeline for "which keys exceed φ of a 100 TB
  * stream" when the key space is too large to group exactly:
  *
  *  1. a Misra–Gries sketch as a typed [[Aggregator]] (SURVEY §7.4's
  *     `Aggregator[IN,BUF,OUT]` extension point): constant-size state per
  *     partition, mergeable, guarantees every key with true frequency
  *     > n/(capacity+1) survives — so with capacity ≥ 1/φ the candidate
  *     set is a SUPERSET of the true φ-heavy hitters;
  *  2. one exact count restricted to the ≤capacity candidates (an InSet
  *     filter pushed into the scan — the full key space is never grouped).
  *
  * The sketch is one-sided (may under-count, never misses a qualifying
  * key) and the second pass is exact, so the OUTPUT is exactly
  * {key : freq ≥ φ·n} — deterministic under any partitioning/merge order,
  * which is what makes an approximate-sketch pipeline DuckDB-oracle-
  * checkable (contrast q18's HLL/t-digest, whose outputs are inherently
  * estimate-valued).
  */
object HeavyHitters {

  /** Misra–Gries with amortized O(log k) maintenance: the buffer may grow
    * to 2k, then compacts by subtracting the (k+1)-th largest count and
    * dropping non-positives (the Agarwal et al. merge rule; total
    * undercount across any merge tree ≤ n/(k+1)).
    */
  final class MisraGries(k: Int) extends Aggregator[Long, Map[Long, Long], Seq[Long]] {

    private def trim(m: Map[Long, Long]): Map[Long, Long] =
      if (m.size <= k) m
      else {
        val pivot = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        m.collect { case (key, c) if c - pivot > 0 => key -> (c - pivot) }
      }

    override def zero: Map[Long, Long] = Map.empty

    override def reduce(b: Map[Long, Long], key: Long): Map[Long, Long] = {
      val nb = b.updated(key, b.getOrElse(key, 0L) + 1L)
      if (nb.size >= 2 * k) trim(nb) else nb
    }

    override def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
      trim(b.foldLeft(a) { case (acc, (key, c)) =>
        acc.updated(key, acc.getOrElse(key, 0L) + c)
      })

    override def finish(m: Map[Long, Long]): Seq[Long] = m.keys.toSeq.sorted

    override def bufferEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** Keys of `keyCol` with frequency ≥ total/`phiDenominator`, with their
    * exact counts. `capacity` must be ≥ phiDenominator for the
    * no-false-negative guarantee (asserted).
    */
  def heavyHitters(df: DataFrame, keyCol: String, phiDenominator: Long,
      capacity: Int = 2047): DataFrame = {
    // strict: at capacity+1 == phiDenominator the worst-case undercount
    // equals the threshold and an exactly-at-threshold key could vanish
    require(capacity + 1 > phiDenominator,
      s"capacity $capacity cannot guarantee recall at phi=1/$phiDenominator")
    val spark = df.sparkSession
    import spark.implicits._
    val keys = df.select(col(keyCol).cast("long")).as[Long]
    // sketch and total ride ONE aggregation job — both are driver-sized
    // results, and folding the count in as a second aggregate column
    // saves a full extra scan of the (100 TB) input
    val (candidates, total) = keys
      .select(new MisraGries(capacity).toColumn, count(lit(1)).as[Long])
      .head()
    df.filter(col(keyCol).isin(candidates: _*))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") * phiDenominator >= total)
      .orderBy(col(keyCol))
  }
}
