package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}
import graft.ops.Expectations
import graft.ops.Expectations.Rule

class QualityStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    (1L, Some(10.0), "click"),
    (2L, Some(500.0), "click"),
    (3L, Some(5.0), "weird"),
    (4L, None: Option[Double], "weird"),
    (5L, Some(20.0), "view"),
    (6L, Some(999.0), "view")
  ).toDF("id", "value", "typ")

  private val rules = Seq(
    Rule("value_ok", col("value") <= 300),
    Rule("type_ok", col("typ").isin("click", "view")))

  private def staged(cuts: Seq[Long]): String = {
    val dir = TempDirs.make("graft_gate_fix")
    fixture.write.mode("overwrite").parquet(s"$dir/src")
    CorpusStreams.stageIdSlices(spark, s"$dir/src", "id", cuts)
  }

  test("streaming gate equals the batch gate regardless of batch boundaries") {
    val (bPass, bQuar) = Expectations.split(fixture, rules)
    val expectedPass = bPass.select("id").as[Long].collect().sorted.toSeq
    val expectedQuar = bQuar
      .select(col("id"), concat_ws(",", col("violations")).as("v"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // the batch-side monitoring numbers (q112 shape): rows per violated rule
    val expectedCounts = rules.map(_.name).map { r =>
      r -> bQuar.where(array_contains(col("violations"), r)).count()
    }.toMap
    for (cuts <- Seq(Seq(4L), Seq(2L, 5L))) {
      val gate = QualityStreams.gateStreaming(spark, staged(cuts), rules,
        shufflePartitions = Some(4))
      assert(gate.pass.select("id").as[Long].collect().sorted.toSeq == expectedPass,
        s"pass side diverged for cuts $cuts")
      val got = gate.quarantine
        .select(col("id"), concat_ws(",", col("violations")).as("v"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      assert(got == expectedQuar, s"quarantine side diverged for cuts $cuts")
      // streamed per-rule counts equal the batch gate's, at any batch cut
      assert(gate.ruleViolations == expectedCounts,
        s"streamed metrics diverged for cuts $cuts: ${gate.ruleViolations}")
    }
  }

  test("checkpointed gate resumes: only newly-arrived files process, sinks don't duplicate") {
    val base = TempDirs.make("graft_gate_resume")
    val staged = base.resolve("staged"); java.nio.file.Files.createDirectories(staged)
    val pass = base.resolve("pass").toString
    val quar = base.resolve("quar").toString
    val ckpt = base.resolve("ckpt").toString
    // the file source lists FILES: write each arrival to a scratch dir and
    // move its single part file into the staged dir flat
    def stage(name: String, ids: Seq[Long]): Unit = {
      val scratch = base.resolve(s"scratch_$name")
      fixture.where(col("id").isin(ids: _*)).coalesce(1)
        .write.mode("overwrite").parquet(scratch.toString)
      val part = java.nio.file.Files.list(scratch).iterator()
      val f = Iterator.continually(part).takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.move(f, staged.resolve(s"$name.parquet"))
    }
    def runGate() = QualityStreams.gateStreaming(spark, staged.toString, rules,
      passDir = Some(pass), quarantineDir = Some(quar), checkpointDir = Some(ckpt))
    // day 1: ids 1-3 arrive (1 passes; 2,3 quarantine)
    stage("day1", Seq(1L, 2L, 3L))
    val g1 = runGate()
    assert(g1.pass.select("id").as[Long].collect().toSet == Set(1L))
    assert(g1.ruleViolations == Map("value_ok" -> 1L, "type_ok" -> 1L))
    // day 2: ids 4-6 arrive; the restarted gate must process ONLY them —
    // day 1's rows appear in the sinks exactly once
    stage("day2", Seq(4L, 5L, 6L))
    val g2 = runGate()
    assert(g2.pass.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L),
      "resume duplicated or dropped pass rows")
    assert(g2.quarantine.select("id").as[Long].collect().sorted.toSeq ==
      Seq(2L, 3L, 4L, 6L), "resume duplicated or dropped quarantine rows")
    // per-run metrics cover only this run's batches (documented contract):
    // id 4 fails both rules (null value + weird type), id 6 fails value_ok
    assert(g2.ruleViolations == Map("value_ok" -> 2L, "type_ok" -> 1L))
  }

  test("an all-clean stream yields a well-typed empty quarantine side") {
    val dir = TempDirs.make("graft_gate_clean")
    fixture.where(col("id") === 1L || col("id") === 5L)
      .write.mode("overwrite").parquet(s"$dir/src")
    val stagedDir = CorpusStreams.stageIdSlices(spark, s"$dir/src", "id", Seq(3L))
    val gate = QualityStreams.gateStreaming(spark, stagedDir, rules)
    assert(gate.pass.count() == 2)
    assert(gate.quarantine.isEmpty)
    assert(gate.quarantine.columns.toSeq == Seq("id", "value", "typ", "violations"))
    // every declared rule reports, zeros included
    assert(gate.ruleViolations == Map("value_ok" -> 0L, "type_ok" -> 0L))
  }
}
