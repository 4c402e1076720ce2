package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SparkEntry.queries` and `SparkEntry.oracleSql` are separate string-keyed
  * maps; Verify dumps one and the oracle compare reads the other, so a query
  * without an oracle (or an oracle without a query) would drop silently. */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has exactly one oracle, and there are 103 of each") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries.diff(oracles).isEmpty, "queries without an oracle")
    assert(oracles.diff(queries).isEmpty, "oracles without a query")
    assert(queries.size == 103)
  }
}
