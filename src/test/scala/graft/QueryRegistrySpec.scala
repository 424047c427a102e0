package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Query

/** The registry derivation behind `SparkEntry.queries`/`oracleSql`.
  * Spark-free: no query runs and no session starts. */
class QueryRegistrySpec extends AnyFunSuite {

  test("merging the registry rejects a duplicate query name and names it") {
    val q = Query("q_dup", (_, _) => null, "SELECT 1")
    val merge = Query.merged(Seq(q), (_: Query).oracle) _
    assert(merge(Map("q_other" -> "SELECT 2")) ==
      Map("q_other" -> "SELECT 2", "q_dup" -> "SELECT 1"))
    val clash = intercept[IllegalArgumentException](
      merge(Map("q_dup" -> "SELECT 2", "q_other" -> "SELECT 3")))
    assert(clash.getMessage.contains("q_dup"), clash.getMessage)
    val twice = intercept[IllegalArgumentException](
      Query.merged(Seq(q, q.copy(oracle = "SELECT 4")), (_: Query).oracle)(Map.empty))
    assert(twice.getMessage.contains("q_dup"), twice.getMessage)
  }
}
