package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry.Gate
import org.apache.hadoop.util.ShutdownHookManager
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with SparkTestSession {

  private def gate(name: String) = Gate(name, (_, _) => null, s"SELECT '$name'")

  test("eachGate: a throwing gate becomes its failure entry and the loop goes on") {
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    val out = Harness.eachGate(Seq(gate("a"), gate("b"), gate("c")), "[spec]") { g =>
      ran += g.name
      // a fatal-class error too: the one rule catches every Throwable
      if (g.name == "b") throw new StackOverflowError("b overflowed")
      g.name.toUpperCase
    }
    assert(ran.toSeq === Seq("a", "b", "c"))
    assert(out.map { case (g, r) => g.name -> r } ===
      Seq("a" -> Right("A"), "b" -> Left("b overflowed"), "c" -> Right("C")))
    // no message: the failure entry names the exception class
    val (_, noMsg) = Harness.eachGate(Seq(gate("d")), "[spec]")(_ => throw new IllegalStateException).head
    assert(noMsg === Left("java.lang.IllegalStateException"))
  }

  test("cpus: SPARK_GRAFT_CPUS when set, the available processors when not, loud otherwise") {
    assert(Harness.cpus(Map("SPARK_GRAFT_CPUS" -> "6"), available = 4) === 6)
    assert(Harness.cpus(Map.empty, available = 4) === 4)
    assert(Harness.cpus(Map("OTHER" -> "9"), available = 3) === 3)
    Seq("0", "abc", "-2", "").foreach { v =>
      val e = intercept[IllegalArgumentException](Harness.cpus(Map("SPARK_GRAFT_CPUS" -> v), 4))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
      assert(e.getMessage.contains(s"'$v'"), e.getMessage)
    }
  }

  test("Stress repeat rule: 5 runs for a band gate, 3 from 1.0 s, else 1, and 1 on a failed first run") {
    def runs(name: String, firstSec: Double): Int = {
      var n = 0
      Stress.timedRuns(name) { n += 1; Stress.Run(if (n == 1) firstSec else 0.0, 1L, 0L, 0L) }
      n
    }
    assert(runs("dedup_prefix", 0.1) === 5)
    assert(runs("q1_pricing_summary", Stress.RepeatThresholdSec) === 3)
    assert(runs("q1_pricing_summary", 2.5) === 3)
    assert(runs("q1_pricing_summary", 0.999) === 1)
    // a failing first run ends the gate inside the gate loop, band or not
    Seq("dedup_prefix", "q1_pricing_summary").foreach { name =>
      var n = 0
      val (_, r) = Harness.eachGate(Seq(gate(name)), "[spec]") { g =>
        Stress.timedRuns(g.name) { n += 1; throw new RuntimeException("first run died") }
      }.head
      assert(n === 1, name)
      assert(r === Left("first run died"), name)
    }
  }

  test("Verify.dump writes _ERROR for a failing gate, parquet for the rest, and the oracle json") {
    val out = Scratch.dir("graft-harness-verify-")
    val gates = Seq(
      Gate("ok", (s, _) => s.range(3).toDF(), "SELECT 1"),
      Gate("boom", (_, _) => throw new RuntimeException("gate exploded"), "SELECT\t2"))
    assert(Verify.dump(spark, gates, "/unused", out) === 1)
    assert(Files.readString(Paths.get(out, "boom", "_ERROR")) === "gate exploded\n")
    assert(!Files.exists(Paths.get(out, "ok", "_ERROR")))
    assert(spark.read.parquet(s"$out/ok").count() === 3)
    assert(Files.readString(Paths.get(out, "oracle_sql.json")) ===
      """{"ok": "SELECT 1","boom": "SELECT\t2"}""")
  }

  test("Bench.outPath: the full file by default, the partial file for an ONLY run, BENCH_OUT over both") {
    assert(Bench.outPath(Map.empty) === "BENCH_FULL.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_ONLY" -> "q1*")) === "BENCH_PARTIAL.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_BENCH_OUT" -> "/x/b.json")) === "/x/b.json")
    assert(Bench.outPath(Map("SPARK_GRAFT_ONLY" -> "q1*", "SPARK_GRAFT_BENCH_OUT" -> "/x/b.json")) ===
      "/x/b.json")
  }

  test("commit outside a work tree is \"unknown\", and git's complaint stays off stderr") {
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val stamp = try Harness.commitIn(new java.io.File(Scratch.dir("graft-harness-nogit-")))
    finally System.setErr(saved)
    assert(stamp === "unknown")
    assert(err.toString === "")
  }

  test("Scratch.dir registers its directory; the hook's cleanup removes it with its files") {
    spark // Spark installs its own shutdown hook with the session
    val d = Paths.get(Scratch.dir("graft-harness-scratch-"))
    Files.createDirectories(d.resolve("sub"))
    Files.writeString(d.resolve("sub/part-0"), "x")
    assert(Scratch.dirs.contains(d))
    // one hook for the process, ordered after Spark's (which stops the
    // SparkContext): Hadoop runs its hooks in descending priority
    val inOrder = classOf[ShutdownHookManager].getDeclaredMethod("getShutdownHooksInOrder")
    inOrder.setAccessible(true)
    val hooks = inOrder.invoke(ShutdownHookManager.get()).asInstanceOf[java.util.List[AnyRef]]
      .asScala.toSeq.map { e =>
        val f = e.getClass.getDeclaredField("hook")
        f.setAccessible(true)
        f.get(e)
      }
    assert(hooks.count(_ eq Scratch.hook) === 1)
    val sparkHook = hooks.indexWhere(_.getClass.getName.startsWith("org.apache.spark.util.SparkShutdownHookManager"))
    assert(sparkHook >= 0 && sparkHook < hooks.indexWhere(_ eq Scratch.hook))
    Scratch.delete(d)
    assert(!Files.exists(d))
    assert(!Scratch.dirs.contains(d))
  }
}
