package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class BloomJoinSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("bloom-prefiltered semi join equals the plain semi join") {
    val big = (1L to 2000L).map(i => (i % 500, i)).toDF("k", "payload")
    val small = Seq(7L, 13L, 99L, 499L, 123L).toDF("k2")
    val got = BloomJoin.semi(big, "k", small, "k2")
      .orderBy("k", "payload").as[(Long, Long)].collect().toSeq
    val exp = big.join(small, $"k" === $"k2", "left_semi")
      .orderBy("k", "payload").as[(Long, Long)].collect().toSeq
    assert(got == exp && got.nonEmpty)
  }

  test("mightContain has no false negatives and prunes most non-members") {
    val keys = (1L to 1000L).filter(_ % 10 == 0).map(Tuple1(_)).toDF("k")
    val bf = BloomJoin.buildFilter(keys, "k", expectedItems = 200, fpp = 0.01)
    val probe = (1L to 1000L).map(Tuple1(_)).toDF("k")
      .where(BloomJoin.mightContain(bf, col("k")))
      .as[Long].collect().toSet
    // every true member survives
    assert((1L to 1000L).filter(_ % 10 == 0).forall(probe.contains))
    // and the sketch is actually selective (fpp 1% over 900 non-members)
    assert(probe.size < 200, s"bloom passed ${probe.size} of 1000")
  }

  test("string keys work (probe hashes the same xxhash64 as the build)") {
    val big = Seq("a", "b", "c", "d", "e").toDF("s")
    val small = Seq("b", "e").toDF("s2")
    val got = BloomJoin.semi(big, "s", small, "s2").as[String].collect().toSet
    assert(got == Set("b", "e"))
  }

  test("the probe filter sits below the join in the physical plan") {
    // a file-backed input: over a LocalRelation the optimizer pre-evaluates
    // the probe away (ConvertToLocalRelation), which hides it from the plan
    val dir = TempDirs.make("graft_bloom_plan").toString
    (1L to 100L).map(i => (i, i * 2)).toDF("k", "v")
      .write.mode("overwrite").parquet(dir)
    val big = spark.read.parquet(dir)
    val small = Seq(1L, 2L).toDF("k2")
    val plan = BloomJoin.semi(big, "k", small, "k2")
      .queryExecution.executedPlan
    val txt = plan.toString
    assert(txt.contains("might_contain"), s"no bloom probe in plan:\n$txt")
    // the probe must sit on the scan side, BELOW the join node
    val joinIdx = txt.indexOf("Join")
    val probeIdx = txt.indexOf("might_contain")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe not below the join:\n$txt")
  }
}
