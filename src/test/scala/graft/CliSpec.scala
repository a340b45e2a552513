package graft

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end CLI parity: the reference's manual smoke script
  * (`command_backup:1-20`) — put/get round-trip, then the wordcount
  * maple+juice pipeline over external executables — replayed through the
  * Handler against a temp warehouse.
  */
class CliSpec extends AnyFunSuite with SparkTestSession {

  private lazy val whDir =
    Scratch.dir("graft-wh")
  private lazy val cli = new Cli.Handler(spark, whDir)

  test("put / store / ls / get round-trip preserves bytes") {
    val src = RefFixture.path("wc_simple_input")
    assert(cli.execute(s"put $src wc_in").startsWith("put"))
    assert(cli.execute("store").linesIterator.contains("wc_in"))
    assert(cli.execute("ls wc_in").contains("wc_in"))
    val back = s"${Scratch.dir("graft-get")}/back.txt"
    cli.execute(s"get wc_in $back")
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(back))
    assert(a.toSeq === b.toSeq)
  }

  /** Write an executable script, as the reference ships its mj_exe/ Go
    * binaries — the CLI receives a path, one token.
    */
  private def exe(body: String): String = {
    val f = java.nio.file.Paths.get(Scratch.dir("graft-exe"), "exe.sh")
    java.nio.file.Files.writeString(f, s"#!/bin/sh\n$body\n")
    f.toFile.setExecutable(true)
    f.toString
  }

  test("maple + juice wordcount pipeline over external executables") {
    cli.execute(s"put ${RefFixture.path("wc_simple_input")} wc_in")
    val mapleExe = exe("""awk '{for (i = 1; i <= NF; i++) print $i, 1}'""")
    val juiceExe = exe("""awk '{k = $1; s += $2} END {if (k != "") print k, s}'""")
    val m = cli.execute(s"maple $mapleExe 3 wc wc_in")
    assert(m.contains("maple done"), m)
    val j = cli.execute(s"juice $juiceExe 2 wc wc_out 1 hash")
    assert(j.contains("juice done"), j)
    // intermediate GC'd (delete flag = 1)
    assert(!cli.execute("store").linesIterator.contains("wc__intermediate"))
    // result matches an independent count
    val out = s"${Scratch.dir("graft-wc")}/wc.txt"
    cli.execute(s"get wc_out $out")
    val got = scala.io.Source.fromFile(out).getLines().filter(_.nonEmpty).map { l =>
      val Array(w, c) = l.split(" "); w -> c.toInt
    }.toMap
    val srcLines = scala.io.Source.fromFile(RefFixture.path("wc_simple_input"))
    val expect = srcLines.getLines().flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .toSeq.groupBy(identity).map { case (w, ws) => w -> ws.size }
    srcLines.close()
    assert(got === expect)
  }

  /** Replay of the reference's two-stage Condorcet smoke script
    * (`command_backup:13-20`): maple_vote → juice_vote → maple_vote_two →
    * juice_vote_two, each exe re-stated in awk with the *intended*
    * semantics (the ref's juice_vote resets its counters per line —
    * SURVEY §2.3-B2 — which we do not reproduce). Known answer:
    * vote_input_Anna ⇒ "Anna win!".
    */
  test("two-stage vote pipeline: vote_input_Anna elects Anna") {
    cli.execute(s"put ${RefFixture.path("vote_input_Anna")} vote_in")
    // stage 1 map (mj_exe/maple_vote.go): 3 pairs per ballot, key min,max
    val m1 = exe(
      """awk '{ for (i = 1; i <= 2; i++) for (j = i + 1; j <= 3; j++) {
        |  a = $i; b = $j;
        |  if (a < b) print a "," b, 1; else print b "," a, 0; } }'""".stripMargin)
    // stage 1 reduce (juice_vote.go, intended): pairwise majority
    val j1 = exe(
      """awk '{ k = $1; if ($2 == 1) ones++; else zeros++ }
        |END { split(k, c, ",");
        |  if (ones > zeros) print c[1] "," c[2]; else print c[2] "," c[1] }'""".stripMargin)
    // stage 2 map (maple_vote_two.go): constant key 1
    val m2 = exe("""awk '{ print 1, $0 }'""")
    // stage 2 reduce (juice_vote_two.go): win count + argmax
    val j2 = exe(
      """awk '{ split($2, w, ","); wins[w[1]]++ }
        |END { bn = -1;
        |  for (c in wins) if (wins[c] > bn || (wins[c] == bn && c < best)) { best = c; bn = wins[c] }
        |  print best, "win!" }'""".stripMargin)
    assert(cli.execute(s"maple $m1 3 v1 vote_in").contains("maple done"))
    assert(cli.execute(s"juice $j1 3 v1 v1_out 1 hash").contains("juice done"))
    assert(cli.execute(s"maple $m2 3 v2 v1_out").contains("maple done"))
    assert(cli.execute(s"juice $j2 1 v2 vote_result 1 hash").contains("juice done"))
    val out = s"${Scratch.dir("graft-vote")}/vote.txt"
    cli.execute(s"get vote_result $out")
    val result = scala.io.Source.fromFile(out).getLines().toSeq
    assert(result === Seq("Anna win!"))
  }

  test("delete removes from the namespace; members/id report topology") {
    cli.execute(s"put ${RefFixture.path("wc_simple_input")} doomed")
    assert(cli.execute("delete doomed") === "deleted doomed")
    assert(!cli.execute("store").linesIterator.contains("doomed"))
    assert(cli.execute("members").nonEmpty)
    assert(cli.execute("id").startsWith("local-"))
  }
}
