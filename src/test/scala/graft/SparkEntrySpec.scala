package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's two maps name the same queries: a query without
  * an oracle would silently leave the DuckDB gate, and an oracle without a
  * query would compare against nothing.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("every query has a DuckDB oracle and every oracle a query") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert(queries == oracles,
      s"queries without an oracle: ${queries -- oracles}; oracles without a query: ${oracles -- queries}")
  }
}
