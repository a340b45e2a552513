package graft

import org.scalatest.funsuite.AnyFunSuite

/** Literal-tier fidelity against the reference's OWN compiled executables.
  *
  * The E3/E10 contract (`maple_juice/maple_juice.go:241-264`) is about
  * running arbitrary user binaries; the strongest evidence that the
  * literal tier honors it is the reference's checked-in Go binaries
  * (`mj_exe/`) producing the reference's answers end-to-end through the
  * same CLI verbs its smoke script uses (`command_backup:6-20`):
  * put → maple → juice → get.
  *
  * Skipped (assume) when the binaries aren't executable on this platform
  * — they are linux/amd64 ELF images.
  */
class RefBinarySpec extends AnyFunSuite with SparkTestSession {

  private val exeDir = "/root/reference/mj_exe"

  private def runnable(name: String): Boolean = {
    val f = new java.io.File(s"$exeDir/$name")
    if (!f.isFile || !f.canExecute) return false
    // canExecute can't see wrong-arch binaries; probe one empty-stdin run
    scala.util.Try {
      val p = new ProcessBuilder("/bin/sh", "-c", s"$exeDir/$name < /dev/null > /dev/null 2>&1")
      p.start().waitFor() == 0
    }.getOrElse(false)
  }

  private lazy val whDir =
    Scratch.dir("graft-refbin")
  private lazy val cli = new Cli.Handler(spark, whDir)

  private def fetch(name: String): Seq[String] = {
    val out = s"${Scratch.dir("graft-refbin")}/$name.txt"
    cli.execute(s"get $name $out")
    val src = scala.io.Source.fromFile(out)
    try src.getLines().toVector finally src.close()
  }

  /** Counts the way the binaries do: `wc_maple` scans whitespace-delimited
    * words (`bufio.ScanWords`, `wordcount_maple.go`), `juice_wordcount`
    * sums the `<word> 1` lines per key (`juice_wordcount.go:13-26`).
    */
  private def expectedCounts(path: String): Map[String, Int] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .toVector.groupBy(identity).map { case (w, ws) => w -> ws.size }
    finally src.close()
  }

  test("reference wc_maple + juice_wordcount binaries reproduce wordcount") {
    assume(runnable("wc_maple") && runnable("juice_wordcount"),
      "reference mj_exe binaries not runnable on this platform")
    for ((input, tag) <- Seq("wc_simple_input" -> "s", "wc_input" -> "l")) {
      cli.execute(s"put $exeDir/$input rb_in_$tag")
      assert(cli.execute(s"maple $exeDir/wc_maple 3 rb_$tag rb_in_$tag")
        .contains("maple done"))
      assert(cli.execute(s"juice $exeDir/juice_wordcount 3 rb_$tag rb_out_$tag 1 hash")
        .contains("juice done"))
      val got = fetch(s"rb_out_$tag").filter(_.nonEmpty).map { l =>
        val Array(w, c) = l.split(" "); w -> c.toInt
      }.toMap
      assert(got === expectedCounts(s"$exeDir/$input"), s"input=$input")
    }
  }

  /** The reference's full two-stage Condorcet chain (`command_backup:13-20`)
    * with its actual binaries. `vote_input_Anna` is constructed so both
    * Anna pairings are unanimous (every `Anna,X` line carries value 1), so
    * even `juice_vote.go`'s last-line-only counter bug (SURVEY §2.3-B2)
    * yields Anna both pairwise wins regardless of group order; the third
    * pair (`Sam,Smith`, split 161/161) contributes at most one win to a
    * rival — `juice_vote_two.go:17-23` must print `Anna win!`.
    */
  test("reference vote binary chain: vote_input_Anna elects Anna") {
    val bins = Seq("maple_vote", "juice_vote", "maple_vote_two", "juice_vote_two")
    assume(bins.forall(runnable),
      "reference mj_exe binaries not runnable on this platform")
    cli.execute(s"put $exeDir/vote_input_Anna rb_vote_in")
    assert(cli.execute(s"maple $exeDir/maple_vote 3 rbv1 rb_vote_in")
      .contains("maple done"))
    assert(cli.execute(s"juice $exeDir/juice_vote 3 rbv1 rb_v1_out 1 hash")
      .contains("juice done"))
    assert(cli.execute(s"maple $exeDir/maple_vote_two 3 rbv2 rb_v1_out")
      .contains("maple done"))
    assert(cli.execute(s"juice $exeDir/juice_vote_two 1 rbv2 rb_vote_result 1 hash")
      .contains("juice done"))
    assert(fetch("rb_vote_result").filter(_.nonEmpty) === Seq("Anna win!"))
  }
}
