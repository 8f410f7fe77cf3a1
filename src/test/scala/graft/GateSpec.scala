package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {

  private val noQuery: (SparkSession, String) => DataFrame =
    (_, _) => throw new UnsupportedOperationException

  test("the registry rejects a repeated gate name and names it") {
    val gates = Seq(Gate("ax_a", noQuery, "SELECT 1"),
      Gate("ax_b", noQuery, "SELECT 2"), Gate("ax_a", noQuery, "SELECT 3"))
    val e = intercept[IllegalArgumentException](Gate.registry(gates))
    assert(e.getMessage.contains("declared more than once: ax_a"))
  }

  test("a gate's oracle is read when asked for, not when declared") {
    var sql = "SELECT 1"
    val gate = Gate("ax_a", noQuery, sql)
    sql = "SELECT 2"
    assert(gate.oracle === "SELECT 2")
  }
}
