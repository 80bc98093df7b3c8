package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

class RegistrySpec extends AnyFunSuite {

  private val body: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a registry that declares an id twice fails, naming the id") {
    val e = intercept[IllegalArgumentException](Registry.unique(Seq(
      Case("q1_twice", body, Some("SELECT 1")),
      Case("q2_once", body, None),
      Case("q1_twice", body, Some("SELECT 2")))))
    assert(e.getMessage.contains("q1_twice"))
    assert(!e.getMessage.contains("q2_once"))
  }
}
