package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's shape: a fixed board of 252 queries, each with its
  * DuckDB oracle.
  */
class SparkEntrySpec extends AnyFunSuite {
  test("every declared query has a DuckDB oracle; the board holds 252") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.queries.size == 252)
  }
}
