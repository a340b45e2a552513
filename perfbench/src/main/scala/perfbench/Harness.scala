package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Times the named phases of one operation and, while tracing, records
  * each as a span under the operation's span. */
final class Phases(tracer: Tracer) {
  val seconds: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def apply[T](name: String, kind: String = "phase")(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name, kind)(body)
    finally seconds(name) = seconds.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}

/** What one operation reports: whether its output checked correct, the
  * timed phases that make up its latency (checking is never among them),
  * and any workload-specific facts for the run record. */
final case class Outcome(ok: Boolean, msg: String, timed: Seq[String],
    extra: ListMap[String, Any] = ListMap.empty)

object Outcome {
  def check(ok: Boolean, msg: => String, timed: Seq[String],
      extra: ListMap[String, Any] = ListMap.empty): Outcome =
    Outcome(ok, if (ok) "" else msg, timed, extra)
}

/** A closed-loop workload: one client, one operation in flight. */
trait Workload {
  /** Operation names in dependency groups; a pass runs the groups in this
    * order and shuffles the operations inside each group. */
  def groups: Seq[Seq[String]]

  /** Make the seeded inputs and expected answers (repeatable). */
  def generate(): Unit

  /** Run one operation of the untimed warm-up pass. */
  def warm(op: String, ph: Phases): Outcome

  /** Run one operation of a timed pass. */
  def run(op: String, ph: Phases): Outcome

  /** Workload-specific facts for the run record. */
  def describe: ListMap[String, Any] = ListMap.empty
}

object Harness {
  /** Shuffle each group with `rnd` and concatenate. */
  def order(groups: Seq[Seq[String]], rnd: scala.util.Random): Seq[String] =
    groups.flatMap(g => rnd.shuffle(g))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Run one op; a thrown exception is a failed op, never a time. */
  def runOp(tracer: Tracer, op: String, body: Phases => Outcome)
      : (Outcome, Phases) = {
    val ph = new Phases(tracer)
    val out = try tracer.span(op, "op")(body(ph)) catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] $op failed: $t")
        Outcome(ok = false, s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
          .linesIterator.nextOption().getOrElse("").take(200), Nil)
    }
    (out, ph)
  }

  def opRecord(op: String, out: Outcome, ph: Phases): ListMap[String, Any] =
    ListMap("name" -> op, "ok" -> out.ok, "msg" -> out.msg,
      "latency_s" -> out.timed.map(ph.seconds.getOrElse(_, 0.0)).sum,
      "phases" -> ListMap.from(ph.seconds)) ++ out.extra
}
