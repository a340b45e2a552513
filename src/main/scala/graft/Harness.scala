package graft

import graft.SparkEntry.Gate

/** Plumbing shared by the gate-running mains (Bench, Verify, Stress,
  * Explain): which gates a run covers, how a string enters a JSON
  * artifact, and which code an artifact measured.
  */
object Harness {

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
  def commit: String = try {
    val sha = scala.sys.process.Process(
      Seq("git", "rev-parse", "--short", "HEAD")).!!.trim
    val dirty = scala.sys.process.Process(
      Seq("git", "status", "--porcelain")).!!.trim.nonEmpty
    if (dirty) sha + "-dirty" else sha
  } catch { case scala.util.control.NonFatal(_) => "unknown" }
}
