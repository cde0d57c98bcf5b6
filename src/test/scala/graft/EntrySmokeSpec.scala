package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver's t1 smoke gate: `SparkEntry.entry` must return > 0
  * rows at sf0.001, and every declared query must have either an oracle
  * twin or be consciously rows-only.
  */
class EntrySmokeSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark

  test("entry (flagship diff) returns rows at sf0.001") {
    val n = SparkEntry.entry(spark).count()
    assert(n > 0, "t1 smoke gate: entry must produce rows")
  }

  test("every declared query has an oracle (no silent rows-only fallbacks)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without a query: $orphans")
  }

  test("query names are unique across suite maps (no map-merge shadowing)") {
    val total = SparkEntry.modules.map(_.size).sum
    assert(total === SparkEntry.queries.size,
      "a suite map shadowed another's query name during ++ merge")
  }

  test("a registry with a query name declared twice fails, naming it") {
    val e = intercept[IllegalArgumentException] {
      Query.byName(Seq(Query("a", (s, _) => s.range(1).toDF(), "SELECT 1"),
        Query("a", (s, _) => s.range(2).toDF(), "SELECT 2")))
    }
    assert(e.getMessage.endsWith("declared more than once: a"), e.getMessage)
  }
}
