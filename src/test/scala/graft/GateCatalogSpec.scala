package graft

import org.scalatest.funsuite.AnyFunSuite

/** The gate catalogue's registry and its oracles stay in step: every
  * gate in [[Queries.all]] has exactly one DuckDB oracle in
  * [[Queries.oracles]] and no oracle outlives its gate, and the gate
  * [[SparkEntry.entry]] runs is still registered. Needs no session. */
class GateCatalogSpec extends AnyFunSuite {

  test("every gate has an oracle and every oracle has a gate") {
    val gates = Queries.all.keySet
    val oracles = Queries.oracles.keySet
    assert((gates -- oracles).isEmpty, s"gates without an oracle: ${gates -- oracles}")
    assert((oracles -- gates).isEmpty, s"oracles without a gate: ${oracles -- gates}")
  }

  test("the end-to-end slice SparkEntry.entry runs is a registered gate") {
    assert(SparkEntry.queries.contains("q38_end_to_end_slice"))
  }
}
