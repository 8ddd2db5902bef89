package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one `QueryDef` per name, and `SparkEntry`'s
  * `queries` and `oracleSql` derived from the same list. */
class RegistrySpec extends AnyFunSuite {

  test("the registry holds 219 unique names, each with its oracle") {
    assert(SparkEntry.queries.size == 219)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.values.forall(_.trim.nonEmpty))
  }

  test("a repeated name throws instead of replacing its twin") {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](QueryDef.byName(Seq(
      QueryDef("a1", run, "SELECT 1"), QueryDef("b2", run, "SELECT 2"),
      QueryDef("a1", run, "SELECT 3"))))
    assert(e.getMessage.contains("a1"))
    assert(QueryDef.byName(Seq(QueryDef("a1", run, "SELECT 1"))).keySet ==
      Set("a1"))
  }
}
