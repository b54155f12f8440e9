package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.gates.Gate

/** The gate registry: one value per gate, its query and oracle together,
  * and no name twice. No session is needed: building the registry runs
  * no query. */
class GateRegistrySpec extends AnyFunSuite {

  private def gate(name: String, oracle: Option[String]) =
    Gate(name, (s, _) => s.emptyDataFrame, oracle)

  test("a gate list with a repeated name is refused at construction") {
    val e = intercept[IllegalArgumentException](Gate.registry(
      Seq(gate("q_a", Some("SELECT 1")), gate("q_b", None)),
      Seq(gate("q_a", Some("SELECT 2")))))
    assert(e.getMessage.contains("q_a") && !e.getMessage.contains("q_b"))
    assert(Gate.registry(Seq(gate("q_a", None)), Seq(gate("q_b", None)))
      .map(_.name) == Seq("q_a", "q_b"))
  }

  test("the registry holds 229 distinct gate names") {
    val names = SparkEntry.gates.map(_.name)
    assert(names.size == 229)
    assert(names.distinct.size == 229)
    assert(SparkEntry.queries.keySet == names.toSet)
  }

  test("exactly q_compression and q_multimodal_jpeg have no oracle") {
    assert(SparkEntry.gates.filter(_.oracle.isEmpty).map(_.name).toSet ==
      Set("q_compression", "q_multimodal_jpeg"))
    assert(SparkEntry.oracleSql.size == 227)
  }

  test("every oracle belongs to a gate") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
