package perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Gate workloads: `SparkEntry.queries` entries over the fixture tables.
  *
  * A timed gate is three phases: `construct` (the gate function itself,
  * including any jobs it runs before its frame exists), `plan` (the
  * executed plan of the full-output hash below) and `exec` (collecting
  * that hash). The warm-up writes every gate's output as parquet for
  * `run.py` to check against the DuckDB oracle, and the hash of what was
  * written is the reference that every timed run of the gate must
  * reproduce. */
final class GateWorkload(spark: SparkSession, sfDir: String, outDir: String,
    gates: Seq[String]) extends Workload {

  private val fns = graft.SparkEntry.queries
  require(gates.forall(fns.contains),
    s"unknown gates: ${gates.filterNot(fns.contains).mkString(",")}")

  private val refHash = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
  private val kernelGates = scala.collection.mutable.Set.empty[String]

  def groups: Seq[Seq[String]] = Seq(gates)
  def generate(): Unit = ()

  def warm(op: String, ph: Phases): Outcome = {
    val df = ph("construct")(fns(op)(spark, sfDir))
    if (GateWorkload.usesKernel(df)) kernelGates += op
    // the timed path once untimed, so its code is generated before the
    // first timed pass
    val live = ph("exec")(GateWorkload.hashRow(GateWorkload.fullHash(df)))
    val dir = s"$outDir/$op"
    ph("write")(df.write.mode("overwrite").parquet(dir))
    val ref = GateWorkload.hashRow(GateWorkload.fullHash(spark.read.parquet(dir)))
    refHash(op) = ref
    Outcome.check(live == ref, s"output hash $live differs from the checked output's $ref",
      Seq("construct", "exec", "write"))
  }

  def run(op: String, ph: Phases): Outcome = {
    val df = ph("construct", "entry.construct")(fns(op)(spark, sfDir))
    val agg = GateWorkload.fullHash(df)
    ph("plan", "entry.plan")(agg.queryExecution.executedPlan)
    val h = ph("exec", "entry.exec")(GateWorkload.hashRow(agg))
    val ref = refHash(op)
    Outcome.check(h == ref, s"output hash $h differs from the checked output's $ref",
      Seq("construct", "plan", "exec"))
  }

  override def describe: ListMap[String, Any] = ListMap(
    "gates" -> gates,
    "kernel_gates" -> gates.filter(kernelGates.contains),
    "hashes" -> refHash,
    "oracle_sql" -> ListMap.from(gates.flatMap(g =>
      graft.SparkEntry.oracleSql.get(g).map(g -> _))),
    "output_dir" -> outDir)
}

object GateWorkload {
  /** An order-insensitive digest of every row and every column: row
    * count plus the sums of the low and high 32 bits of each row's
    * xxhash64. Consuming every column keeps Catalyst from pruning the
    * gate's projections, which `count()` would allow. Map columns (not
    * hashable) go through `to_json`. */
  def fullHash(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"),
      sum(h.bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(h, 32)).as("hi"))
  }

  def hashRow(agg: DataFrame): Seq[Long] = {
    val r: Row = agg.collect()(0)
    Seq(0, 1, 2).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Whether the optimized plan (subqueries included) evaluates one of
    * the engine's native expressions (`graft.functions`). */
  def usesKernel(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case p if p.expressions.exists(_.exists(
        _.getClass.getName.startsWith("graft.functions."))) => true
    }.nonEmpty
}
