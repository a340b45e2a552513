package graft

/** Plan inspector: `runMain graft.Explain [sfDir] [gate ...]` prints the
  * formatted physical plan of the named SparkEntry gates (all when none
  * named; a name ending in `*` is a prefix) — the feedback loop for the
  * 100 TB design review: check PushedFilters/ReadSchema on scans,
  * broadcast vs shuffle join choices, and WholeStageCodegen span width.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val tokens = Some(args.drop(1).toSeq).filter(_.nonEmpty)
    val unknown = tokens.toSeq.flatten.filter(t => Harness.select(Some(Seq(t))).isEmpty)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown gates: ${unknown.mkString(", ")}\n" +
        s"available: ${Harness.select(None).map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val spark = Harness.session("graft-explain")
    Harness.select(tokens).foreach { g =>
      println(s"\n===================== ${g.name} =====================")
      g.run(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
