package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite with SparkSpec {

  test("entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run and are non-empty on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    // cheap structural smoke for the non-oracled queries (oracled ones are
    // covered by Verify + the DuckDB compare)
    val nonOracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    nonOracled.toSeq.sorted.foreach { name =>
      val n = SparkEntry.queries(name)(spark, dir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }
}
