package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry: `queries` and `oracleSql` are `toMap` views of
  * `SparkEntry.gates`, so a repeated name would silently keep only its
  * last entry. No Spark session needed: nothing here runs a plan. */
class RegistrySpec extends AnyFunSuite {

  private val gates = SparkEntry.gates

  test("the 289 gate names are distinct") {
    val names = gates.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
    assert(names.size == 289)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every gate has a non-blank oracle twin") {
    assert(gates.filter(_.oracleSql.trim.isEmpty).map(_.name).isEmpty)
  }

  test("every gate has a positive stamp") {
    assert(gates.filterNot(_.stampSec > 0).map(_.name).isEmpty)
  }
}
