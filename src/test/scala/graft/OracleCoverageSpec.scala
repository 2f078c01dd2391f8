package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins which gates carry a DuckDB oracle. No Spark job runs: both maps
  * are plain definitions. */
class OracleCoverageSpec extends AnyFunSuite {
  private val queries = SparkEntry.queries.keySet
  private val oracles = SparkEntry.oracleSql.keySet

  test("the gates without an oracle are exactly SparkEntry.NoOracle") {
    assert(queries -- oracles == SparkEntry.NoOracle)
  }

  test("every oracle belongs to a gate") {
    assert(oracles.subsetOf(queries), oracles -- queries)
  }

  test("the deliberately failing canary is a gate with an oracle") {
    assert(queries.contains(SparkEntry.FailingCanary))
    assert(oracles.contains(SparkEntry.FailingCanary))
    assert(!SparkEntry.NoOracle.contains(SparkEntry.FailingCanary))
  }
}
