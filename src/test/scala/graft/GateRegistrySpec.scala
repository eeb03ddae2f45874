package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry is two maps keyed by query name: the Spark plans
  * ([[SparkEntry.queries]]) and their DuckDB oracles
  * ([[SparkEntry.oracleSql]]). A query without an oracle cannot be
  * checked, and an oracle without a query checks nothing, so the key
  * sets must match. Building the maps starts no Spark session. */
class GateRegistrySpec extends AnyFunSuite {

  test("every gate query has an oracle and every oracle has a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }
}
