package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry, checked without a session: building the
  * maps only closes over query builders, it runs none of them.
  */
class QueryRegistrySpec extends AnyFunSuite {

  test("every declared query has exactly one oracle, and there are 193 of each") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((queries -- oracles).isEmpty, "queries without an oracle")
    assert((oracles -- queries).isEmpty, "oracles without a query")
    assert(queries.size == 193)
    assert(oracles.size == 193)
  }

  test("selectQueries: no filter keeps all, a filter keeps registry order, a typo fails") {
    val all = SparkEntry.queries.keys.toVector
    assert(SparkEntry.selectQueries(None) == all)
    val two = all.take(2)
    assert(SparkEntry.selectQueries(Some(two.reverse.mkString(","))) == two)
    val e = intercept[IllegalArgumentException](SparkEntry.selectQueries(Some("no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }
}
