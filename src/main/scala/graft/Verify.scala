package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Correctness dump: each SparkEntry gate's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY restricts the dump (and the oracle json) to the
    // selected gates — lets a new operator iterate against
    // tools/check_oracle.py without re-running the whole surface.
    val gates = Harness.selectedGates
    val spark = Harness.session("graft-verify")
    val nFailed = dump(spark, gates, sfDir, outDir)
    spark.stop()
    // Nonzero exit on any failure — the dump is incomplete and the round's
    // correctness gate must see that, not a clean rc over missing rows.
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer(y/ies) FAILED — see _ERROR markers in $outDir")
      sys.exit(1)
    }
  }

  /** Writes each gate's result to `outDir/<name>` and the gates' oracle
    * SQL to `outDir/oracle_sql.json`; returns how many gates failed.
    */
  def dump(spark: SparkSession, gates: Seq[SparkEntry.Gate], sfDir: String, outDir: String): Int = {
    new java.io.File(outDir).mkdirs()
    val failed = Harness.eachGate(gates, "[verify] FAILURE") { g =>
      g.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${g.name}")
    }.collect { case (g, Left(msg)) => g -> msg }
    // A failed query must leave a marker the driver can surface as an
    // err row — round 8's catch-print-skip left the CORRECTNESS
    // artifact silently OMITTING 11 broken queries, indistinguishable
    // from "never declared". The _ERROR file sits inside the query's
    // output dir (created if the write died before mkdir), so any
    // consumer globbing the dir sees a non-parquet failure sentinel.
    failed.foreach { case (g, msg) =>
      Files.createDirectories(Paths.get(outDir, g.name))
      Files.writeString(Paths.get(outDir, g.name, "_ERROR"), msg + "\n")
    }
    val json = gates.map(g => s"${Harness.jsonString(g.name)}: ${Harness.jsonString(g.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed.size
  }
}
