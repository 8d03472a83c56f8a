package graft

import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's query and oracle maps. Builds the query list only:
  * runs no query and starts no SparkContext. */
class SparkEntrySpec extends AnyFunSuite {

  test("the suite holds 190 queries under distinct names") {
    val names = SparkEntry.all.map(_.name)
    assert(names.size == 190)
    assert(names.distinct.size == 190)
  }

  test("every query has a DuckDB oracle") {
    val missing = SparkEntry.all.filter(_.oracle.forall(_.trim.isEmpty)).map(_.name)
    assert(missing.isEmpty, missing)
  }

  test("the oracle keys are exactly the query names") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("a second query under an existing name is refused") {
    val q = Queries.Q("q_twice", None, (_, _) => sys.error("never run"))
    val e = intercept[IllegalArgumentException](SparkEntry.distinctNames(Seq(q, q)))
    assert(e.getMessage.contains("q_twice"))
  }
}
