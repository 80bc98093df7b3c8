package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}

import graft.ops.Expectations

/** Streaming face of [[graft.ops.Expectations]]: the quality gate run
  * continuously over an arriving file stream, routing each micro-batch's
  * rows to a pass sink or a quarantine sink (with their failed-rule
  * reasons) as they arrive — the reject-and-continue boundary a 100 TB
  * ingest pipeline keeps always-on rather than running as a nightly batch.
  *
  * Semantics equal the batch gate BY CONSTRUCTION: tagging is one
  * row-local projection ([[Expectations.check]]), so it commutes with
  * micro-batching — no state, no watermark, nothing that can drift with
  * batch boundaries. Scale: both sink writes are executor-side parquet
  * appends; no row or id ever touches the driver (the shape the streaming
  * corpus dedup sink established, `CorpusStreams.corpusDedupStreaming`).
  */
object QualityStreams {

  /** A finished gate run: the two routed sides plus the monitoring
    * artifact — cumulative per-rule violation row counts (every declared
    * rule present, zero included), the same numbers q112 computes batch-side
    * from the quarantine tags.
    */
  final case class GateResult(pass: DataFrame, quarantine: DataFrame,
      ruleViolations: Map[String, Long])

  /** Drive the gate over `stagedDir` (a directory of parquet files, one
    * micro-batch each), appending clean rows to a pass sink and violating
    * rows (plus `violations: array<string>`) to a quarantine sink; returns
    * the sinks read back with explicit schemas (so an all-clean or all-bad
    * stream still yields a well-typed empty side) plus per-rule violation
    * counts.
    *
    * Metrics are accumulated per micro-batch from the SAME persisted batch
    * the sink writes read — one row-local count aggregation over cached
    * data, no source re-read and no shuffle, updated live as batches
    * commit (a monitor can read the map mid-run under its lock). This is
    * deliberately NOT `Dataset.observe`: the foreachBatch body runs TWO
    * actions over the cached batch, and CollectMetrics accumulation under
    * re-execution would double-count; the explicit aggregation is exact by
    * construction.
    *
    * `passDir`/`quarantineDir`/`checkpointDir`: pass all three to make the
    * gate RESUMABLE — the checkpoint records which source files each
    * committed micro-batch consumed, so a restarted gate (same staged dir,
    * same checkpoint) processes only files that arrived since the last
    * commit and appends to the same sinks with no duplication; fresh temp
    * directories (the default) give the one-shot behavior. Note
    * `ruleViolations` counts THIS run's batches only — a monitor of a
    * resumed gate aggregates across runs itself.
    */
  def gateStreaming(spark: SparkSession, stagedDir: String,
      rules: Seq[Expectations.Rule],
      shufflePartitions: Option[Int] = None,
      passDir: Option[String] = None,
      quarantineDir: Option[String] = None,
      checkpointDir: Option[String] = None,
      batchAdaptive: Option[Boolean] = None): GateResult = {
    val stream = StagedStream.staged(spark, stagedDir)
    val schema = stream.schema
    val passSink = StagedStream.sinkOrTemp(passDir, "graft_gate_pass")
    val quarSink = StagedStream.sinkOrTemp(quarantineDir, "graft_gate_quarantine")
    // caller-provided sinks may not exist yet (first run of a resumable
    // gate) — the read-back below requires the directory to be present
    Seq(passSink, quarSink).foreach(d =>
      Files.createDirectories(java.nio.file.Paths.get(d)))
    // violated = NOT coalesce(pred, false): the same null-is-violation
    // semantics as Expectations.check, so these counts can never drift
    // from the quarantine tags
    val perRule = rules.map(r =>
      count(when(!coalesce(r.predicate, lit(false)), 1)).as(r.name))
    // written from the micro-batch thread, read from the caller thread
    // after the query finishes (and legitimately readable mid-run) — lock
    // rather than rely on the termination happens-before
    val metricsLock = new Object
    val ruleCounts = scala.collection.mutable.Map.empty[String, Long]
    rules.foreach(r => ruleCounts(r.name) = 0L)
    StagedStream.foreachStaged(stream, shufflePartitions, batchAdaptive,
        checkpointDir) { (b, _) =>
      val (pass, quarantine) = Expectations.split(b, rules)
      pass.write.mode("append").parquet(passSink)
      quarantine.write.mode("append").parquet(quarSink)
      val m = b.agg(perRule.head, perRule.tail: _*).head()
      metricsLock.synchronized {
        rules.zipWithIndex.foreach { case (r, i) =>
          ruleCounts(r.name) += m.getLong(i)
        }
      }
    }
    val quarSchema = StructType(schema.fields :+
      StructField("violations", ArrayType(StringType, containsNull = true)))
    GateResult(
      spark.read.schema(schema).parquet(passSink),
      spark.read.schema(quarSchema).parquet(quarSink),
      metricsLock.synchronized(ruleCounts.toMap))
  }
}
