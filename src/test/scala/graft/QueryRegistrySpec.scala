package graft

import org.scalatest.funsuite.AnyFunSuite

/** The declared-query registry ([[SparkEntry.all]]) is the one place a
  * query's name, build and oracle are stated; `SparkEntry.queries` and
  * `SparkEntry.oracleSql` are views of it.
  */
class QueryRegistrySpec extends AnyFunSuite {

  private val names = SparkEntry.all.map(_.name)

  test("query names are unique, and building a registry with a duplicate fails") {
    assert(names.distinct.size == names.size)
    val q = SparkEntry.all.head
    val e = intercept[IllegalArgumentException](SparkEntry.unique(Seq(q, SparkEntry.all(1), q)))
    assert(e.getMessage.contains(q.name), e.getMessage)
  }

  test("every query without an oracle states why") {
    val blank = SparkEntry.all.collect {
      case Query(name, _, NoOracle(reason, _)) if reason.trim.isEmpty => name
    }
    assert(blank.isEmpty, s"NoOracle with an empty reason: ${blank.mkString(", ")}")
  }

  test("queries and oracleSql are exactly the registry's views") {
    assert(SparkEntry.queries.keySet == names.toSet)
    val gated = SparkEntry.all.collect { case Query(name, _, Sql(sql)) => name -> sql }.toMap
    assert(SparkEntry.oracleSql == gated)
    SparkEntry.all.foreach(q => assert(SparkEntry.query(q.name) eq q))
    val e = intercept[IllegalArgumentException](SparkEntry.query("no_such_query"))
    assert(e.getMessage.contains("unknown query: no_such_query"))
  }
}
