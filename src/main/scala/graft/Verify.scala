package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry gate's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/check_oracle.py). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // SPARK_GRAFT_ONLY restricts the dump (and the oracle json) to the
    // selected gates — lets a new operator iterate against
    // tools/check_oracle.py without re-running the whole surface.
    val gates = Harness.selectedGates
    val spark = Engine.session(cpus, "graft-verify")
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    gates.foreach { g =>
      try g.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${g.name}")
      catch { case e: Throwable =>
        // A failed query must leave a marker the driver can surface as an
        // err row — round 8's catch-print-skip left the CORRECTNESS
        // artifact silently OMITTING 11 broken queries, indistinguishable
        // from "never declared". The _ERROR file sits inside the query's
        // output dir (created if the write died before mkdir), so any
        // consumer globbing the dir sees a non-parquet failure sentinel.
        nFailed += 1
        System.err.println(s"[verify] ${g.name} failed: ${e.getMessage}")
        val dir = new java.io.File(s"$outDir/${g.name}")
        dir.mkdirs()
        Files.writeString(Paths.get(s"$outDir/${g.name}/_ERROR"),
          Option(e.getMessage).getOrElse(e.getClass.getName) + "\n")
      }
    }
    val json = gates.map(g => s"${Harness.jsonString(g.name)}: ${Harness.jsonString(g.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Nonzero exit on any failure — the dump is incomplete and the round's
    // correctness gate must see that, not a clean rc over missing rows.
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer(y/ies) FAILED — see _ERROR markers in $outDir")
      sys.exit(1)
    }
  }
}
