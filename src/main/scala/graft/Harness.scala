package graft

import graft.SparkEntry.Gate
import org.apache.spark.sql.SparkSession

/** Plumbing shared by the mains (Bench, Verify, Stress, Explain, Cli):
  * the session a main runs on, which gates a run covers and how they
  * run, how a string enters a JSON artifact, and which code an artifact
  * measured.
  */
object Harness {

  /** The core count of a main's session: `SPARK_GRAFT_CPUS` when `env`
    * sets it, else `available`. Anything but a positive integer fails
    * loudly rather than falling back.
    */
  def cpus(env: Map[String, String], available: Int): Int =
    env.get("SPARK_GRAFT_CPUS").map { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }.getOrElse(available)

  /** The one session builder for mains: [[Engine.session]] on [[cpus]]
    * of this process's environment and processor count.
    */
  def session(appName: String): SparkSession =
    Engine.session(cpus(sys.env, Runtime.getRuntime.availableProcessors()), appName)

  /** `SPARK_GRAFT_ONLY=<name>[,<name>...]`, the dev-only selective run
    * (tokens as in [[select]]); unset runs all.
    */
  val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)

  /** The gates `tokens` select, sorted by name; `None` selects all. A
    * token is an exact gate name unless it ends in `*`, which makes it a
    * prefix: bare-prefix matching made exact lists impossible
    * ("ann_recall" dragged in ann_recall_pq/rp), which broke like-for-like
    * bisects.
    */
  def select(tokens: Option[Seq[String]]): Seq[Gate] = {
    def matches(name: String): Boolean = tokens.forall(_.exists(tok =>
      if (tok.endsWith("*")) name.startsWith(tok.dropRight(1)) else name == tok))
    SparkEntry.gates.filter(g => matches(g.name)).sortBy(_.name)
  }

  /** The gates this run covers: [[only]]'s selection. */
  def selectedGates: Seq[Gate] = select(only)

  /** Runs `f` over `gates` in order. A gate that throws anything at all
    * becomes `Left` of its message (logged to stderr after `tag`) and
    * the loop goes on: one broken gate must show as that gate's failure
    * in the artifact, never end the run or vanish from it.
    */
  def eachGate[A](gates: Seq[Gate], tag: String)(f: Gate => A): Seq[(Gate, Either[String, A])] =
    gates.map { g =>
      g -> (try Right(f(g)) catch { case t: Throwable =>
        System.err.println(s"$tag ${g.name}: $t")
        Left(Option(t.getMessage).getOrElse(t.getClass.getName))
      })
    }

  /** `s` as a JSON string literal: quote, backslash and every control
    * character (< 0x20) escaped. A tab or CR in an oracle's SQL would
    * otherwise make a `json.load` of the artifact fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The short HEAD sha an artifact measured, with "-dirty" when the
    * working tree has uncommitted changes, so a number can never
    * masquerade as a clean-SHA measurement; "unknown" outside git.
    */
  def commit: String = commitIn(new java.io.File("."))

  /** [[commit]] of the work tree holding `dir`. Git's stderr is
    * swallowed: outside a work tree its complaint is what "unknown"
    * already says.
    */
  private[graft] def commitIn(dir: java.io.File): String = try {
    val quiet = scala.sys.process.ProcessLogger(_ => ())
    def git(args: String*): String =
      scala.sys.process.Process("git" +: args, dir).!!(quiet).trim
    val sha = git("rev-parse", "--short", "HEAD")
    if (git("status", "--porcelain").nonEmpty) sha + "-dirty" else sha
  } catch { case scala.util.control.NonFatal(_) => "unknown" }
}
