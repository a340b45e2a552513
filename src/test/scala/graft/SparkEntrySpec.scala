package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate-registry hygiene: one table declares each gate with its oracle,
  * so the surface itself is pinned here, not the sync of two maps.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("the registry rejects a gate name registered twice") {
    val g = SparkEntry.Gate("g", (s, d) => Engine.Tables(s, d).region, "SELECT 1")
    val err = intercept[IllegalArgumentException](
      SparkEntry.registry(g, g.copy(oracleSql = "SELECT 2")))
    assert(err.getMessage.contains("registered twice: g"), err.getMessage)
    assert(SparkEntry.registry(g, g.copy(name = "h")).map(_.name) === Seq("g", "h"))
  }

  test("the registry holds exactly the 225 pinned gate names") {
    val names = SparkEntry.gates.map(_.name).sorted
    assert(names.size === 225)
    // sha-256 of the sorted names, one per line
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(digest === "8c8fa188e12682c74b85caca4c939f6844ad6ccdf764b45c9f188e82eb814c52", names.mkString(","))
  }

  test("oracle SQL strings are non-empty") {
    SparkEntry.gates.foreach { g =>
      assert(g.oracleSql.trim.nonEmpty, s"${g.name} oracle is empty")
    }
  }
}
