package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate registry is two maps keyed by query name: the Spark plans
  * ([[SparkEntry.queries]]) and their DuckDB oracles
  * ([[SparkEntry.oracleSql]]). A query without an oracle cannot be
  * checked, and an oracle without a query checks nothing, so the key
  * sets must match. `Bench`'s median-of-3 pins are keyed by the same
  * names, and a pin for a missing gate is silently ignored. Building
  * the maps starts no Spark session. */
class GateRegistrySpec extends AnyFunSuite {

  test("every gate query has an oracle and every oracle has a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.nonEmpty)
    assert((queries -- oracles).isEmpty, s"queries without an oracle: ${queries -- oracles}")
    assert((oracles -- queries).isEmpty, s"oracles without a query: ${oracles -- queries}")
  }

  test("every Bench median-of-3 pin names a gate query") {
    val missing = Bench.fixtureHeavy -- SparkEntry.queries.keySet
    assert(Bench.fixtureHeavy.nonEmpty)
    assert(missing.isEmpty, s"pins without a gate: $missing")
  }
}
