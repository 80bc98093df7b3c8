package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class MaterializedAggSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = TempDirs.make("graft_matagg").toString
    (1 to 200).map(i => (i.toLong, s"g${i % 5}", i * 1.25))
      .toDF("id", "g", "v")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("maintained view equals the one-shot aggregate over the full input") {
    val dir = writeFixture()
    // re-stage as 3 ordered single-file batches so the stream genuinely
    // arrives in increments
    val staged = CorpusStreams.stageIdSlices(spark, dir, "id", Seq(70L, 140L))
    val got = MaterializedAgg.streamingRefresh(spark, staged, Seq("g"), "v")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    val expected = spark.read.parquet(dir)
      .groupBy("g").agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(27,4)")).cast("double").as("sum_value"))
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(got == expected && expected.nonEmpty)
  }

  test("result is batch-boundary invariant") {
    val dir = writeFixture()
    val a = MaterializedAgg.streamingRefresh(spark,
      CorpusStreams.stageIdSlices(spark, dir, "id", Seq(100L)), Seq("g"), "v")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    val b = MaterializedAgg.streamingRefresh(spark,
      CorpusStreams.stageIdSlices(spark, dir, "id", Seq(30L, 60L, 90L, 120L)),
      Seq("g"), "v")
      .orderBy("g").as[(String, Long, Double)].collect().toSeq
    assert(a == b)
  }
}
