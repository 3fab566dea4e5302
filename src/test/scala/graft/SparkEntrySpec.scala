package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SparkEntry` query registry, checked without a session: every
  * family's names land in `queries` exactly once, every oracle has a
  * query, and the names other mains hard-code are registered. */
class SparkEntrySpec extends AnyFunSuite {

  test("256 names registered, none shadowed by a second family") {
    assert(SparkEntry.queries.size == 256)
    assert(SparkEntry.families.map(_.queries.size).sum == 256)
    assert(SparkEntry.families.map(_.oracles.size).sum == SparkEntry.oracleSql.size)
  }

  test("every oracle has a query, and only q37 has no oracle") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet == Set("q37_approx_distinct"))
  }

  test("every Explain headline name is registered") {
    assert(Explain.Headline.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
