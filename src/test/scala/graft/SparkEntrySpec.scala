package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The driver's query map is the union of the families listed once in
  * SparkEntry: no name is declared twice, and every oracle names a
  * query.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("query names are unique across families") {
    assert(SparkEntry.queries.size === SparkEntry.families.map(_.queries.size).sum)
    assert(SparkEntry.oracleSql.size === SparkEntry.families.map(_.oracles.size).sum)
  }

  test("every oracleSql key names a query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.toSeq.sorted}")
  }

  test("a name two families declare throws, naming both families") {
    val q: (SparkSession, String) => DataFrame = (_, _) => null
    object First extends QueryFamily {
      val queries = Map("q1" -> q, "q2" -> q)
      val oracles = Map.empty[String, String]
    }
    object Second extends QueryFamily {
      val queries = Map("q2" -> q)
      val oracles = Map.empty[String, String]
    }
    assert(SparkEntry.union(Seq(First))(_.queries).keySet === Set("q1", "q2"))
    val e = intercept[IllegalStateException] {
      SparkEntry.union(Seq(First, Second))(_.queries)
    }
    assert(e.getMessage.contains("q2"))
    assert(e.getMessage.contains("First") && e.getMessage.contains("Second"))
  }
}
