package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The SDFS namespace (SURVEY §2.2 S1-S5), restated for Spark: a flat
  * `name → file` catalog over one storage root, with replication,
  * placement and re-replication delegated to the underlying filesystem
  * (HDFS/object store — exactly the layer the reference hand-rolls over
  * raw TCP in `file_system/file_system.go:89-119, 515-570`). The
  * distributed RW-lock protocol (S7, `file_system.go:202-307`) has no
  * equivalent here by design: writes go to fresh paths and readers see
  * immutable snapshots, so Spark jobs need no locks.
  *
  * Going through the Hadoop [[FileSystem]] API (not java.io) keeps every
  * verb working unchanged when `root` is `hdfs://...` or `s3a://...` —
  * the 100 TB deployment path.
  */
final class Warehouse(spark: SparkSession, root: String) {

  private val conf = spark.sparkContext.hadoopConfiguration
  private val rootPath = new Path(root)
  private def fs: FileSystem = rootPath.getFileSystem(conf)
  private def p(name: String): Path = {
    require(!name.contains("/") && name.nonEmpty, s"flat namespace: bad name '$name'")
    new Path(rootPath, name)
  }

  /** S1 `put local sdfs`: ingest a local file. Overwrites (the reference's
    * last-writer-wins metadata merge, `file_system.go:66-83`).
    */
  def put(local: String, name: String): Unit = {
    fs.mkdirs(rootPath)
    fs.copyFromLocalFile(false /* delSrc */, true /* overwrite */,
      new Path(local), p(name))
  }

  /** S2 `get sdfs local`: materialize a named file locally. Spark-written
    * names are part-file directories — those are merged in listing order
    * into the single output file the reference's `get` produces.
    */
  def get(name: String, local: String): Unit = {
    val src = p(name)
    val st = fs.getFileStatus(src)
    if (st.isFile) {
      fs.copyToLocalFile(src, new Path(local))
    } else {
      val parts = fs.listStatus(src).filter(_.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
      val out = new java.io.FileOutputStream(local)
      try parts.foreach { part =>
        val in = fs.open(part.getPath)
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, conf, false)
        finally in.close()
      } finally out.close()
    }
  }

  /** S3 `delete f`. */
  def delete(name: String): Boolean = fs.delete(p(name), true)

  /** S4 `ls f`: where the file's bytes live — block locations stand in for
    * the reference's replica node list (`file_system.go:31-37`).
    */
  def ls(name: String): Seq[String] = {
    val st = fs.getFileStatus(p(name))
    val files =
      if (st.isFile) Array(st)
      else fs.listStatus(p(name)).filter(_.isFile)
    files.toSeq.flatMap { f =>
      val locs = fs.getFileBlockLocations(f, 0, math.max(f.getLen, 1))
        .flatMap(_.getHosts).distinct.mkString(",")
      Seq(s"${f.getPath.getName}\t${f.getLen}\t$locs")
    }
  }

  /** S5 `store`: every name in the namespace. */
  def store(): Seq[String] =
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).map(_.getPath.getName).toSeq.sorted

  // ------------------------------------------------- Spark-side accessors

  def readText(name: String): Dataset[String] = spark.read.textFile(p(name).toString)

  /** Append-concat text sink (E11 semantics — unordered concatenation). */
  def writeText(ds: Dataset[String], name: String, singleFile: Boolean = false): Unit =
    graft.operators.MapleJuice.writeText(ds, p(name).toString, singleFile)

  def path(name: String): String = p(name).toString
}
