package graft

import graft.operators.MapleJuice
import graft.sources.Warehouse
import org.apache.spark.sql.SparkSession

/** REPL mirroring the reference's command surface
  * (`run_server/run_server.go:328-413`): `put get delete ls store maple
  * juice members id`. MapleJuice jobs run the literal tier (external
  * executables, E3/E10); the per-job key list the reference's master
  * accumulates (`maple_juice.go:364-370`) is here just the keyed
  * intermediate saved under `<prefix>__intermediate`.
  *
  * Usage: `runMain graft.Cli [warehouseDir]` — reads verbs from stdin.
  */
object Cli {

  final class Handler(spark: SparkSession, warehouseDir: String) {
    private val wh = new Warehouse(spark, warehouseDir)
    private def intermediate(prefix: String) = s"${prefix}__intermediate"

    /** Execute one command line, return printable output. */
    def execute(line: String): String = line.trim.split("\\s+").toList match {
      case "put" :: local :: name :: Nil =>
        wh.put(local, name); s"put $local -> $name"
      case "get" :: name :: local :: Nil =>
        wh.get(name, local); s"get $name -> $local"
      case "delete" :: name :: Nil =>
        if (wh.delete(name)) s"deleted $name" else s"no such file $name"
      case "ls" :: name :: Nil =>
        wh.ls(name).mkString("\n")
      case "store" :: Nil =>
        wh.store().mkString("\n")
      // maple <exe> <numTasks> <prefix> <src>  (maple_juice.go:135-168)
      case "maple" :: exe :: n :: prefix :: src :: Nil =>
        val keyed = MapleJuice.mapleExe(wh.readText(src), exe, n.toInt)
        // the status line's key count rides the write itself via
        // Observation (approximate — observe can't do exact distinct) —
        // no re-scan of the intermediate just to print a number.
        // The intermediate is stored AS a line table through the DSv2
        // writer — the reference's own on-disk format (its
        // `<prefix>_<key>` files are exactly these lines), so `get` on
        // an intermediate hands back text the reference's juice exes
        // could consume, and the read side below exercises the same
        // byte-range-split source as every other line-table scan.
        val obs = org.apache.spark.sql.Observation()
        MapleJuice.toLineTable(
          keyed.observe(obs, org.apache.spark.sql.functions
            .approx_count_distinct(org.apache.spark.sql.functions.col("key")).as("n_keys")))
          .write.format("graft.sources.LineTable").mode("overwrite")
          .option("path", wh.path(intermediate(prefix))).save()
        s"maple done: ~${obs.get("n_keys")} keys under prefix $prefix"
      // juice <exe> <numTasks> <prefix> <dest> <delete{0|1}> <hash|range>
      case "juice" :: exe :: n :: prefix :: dest :: del :: part :: Nil =>
        val partitioning = part match {
          case "range" => MapleJuice.Range
          case _       => MapleJuice.Hash
        }
        val keyed = MapleJuice.fromLineTable(
          spark.read.format("graft.sources.LineTable")
            .option("path", wh.path(intermediate(prefix))).load())
        val out = MapleJuice.juiceExe(keyed, exe, n.toInt, partitioning)
        wh.writeText(out, dest, singleFile = true)
        if (del == "1") wh.delete(intermediate(prefix))
        s"juice done -> $dest"
      case "members" :: Nil =>
        // executor topology stands in for the gossip membership table
        spark.sparkContext.statusTracker.getExecutorInfos
          .map(e => s"${e.host()}:${e.port()}").mkString("\n")
      case "id" :: Nil =>
        spark.sparkContext.applicationId
      case Nil | "" :: Nil => ""
      case other =>
        s"unknown command: ${other.mkString(" ")} " +
          "(verbs: put get delete ls store maple juice members id exit)"
    }
  }

  def main(args: Array[String]): Unit = {
    val warehouseDir = args.headOption.getOrElse("warehouse")
    val spark = Harness.session("graft-cli")
    val handler = new Handler(spark, warehouseDir)
    print("graft> ")
    scala.io.Source.stdin.getLines().takeWhile(l => l.trim != "exit" && l.trim != "quit")
      .foreach { line =>
        try println(handler.execute(line))
        catch { case e: Exception => println(s"error: ${e.getMessage}") }
        print("graft> ")
      }
    spark.stop()
  }
}
