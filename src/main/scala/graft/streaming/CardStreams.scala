package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.text
import graft.io.{LibraryParquet, StateStore}

/** Streaming per-source data card — the drift-monitoring face of
  * [[graft.ext.Report.dataCard]]: the document, token and quality-pass
  * counters are BATCH-ADDITIVE, so the card is maintained with one
  * delta-sized aggregation plus a groups-sized merge per micro-batch —
  * history is never rescanned. Additivity makes streaming == batch BY
  * CONSTRUCTION for these columns (asserted against the batch card in the
  * spec and by q142's oracle).
  *
  * The batch card's corpus-wide duplicate column is deliberately ABSENT
  * here: dup membership is not batch-additive (a doc flips to "duplicated"
  * when a LATER batch delivers its second copy), so a streamed version
  * would misreport early batches. The streaming card carries the additive
  * counters for live drift monitoring; the batch card stays the release
  * artifact.
  *
  * Restart contract: with `checkpointDir` set, the counters are PERSISTED
  * beside the checkpoint (`<checkpointDir>/card_state`, through the
  * crash-safe [[graft.io.StateStore]]: a fresh version per save behind an
  * atomically swapped pointer, so a crash mid-save serves the previous
  * card) after every batch and reloaded on start, tagged with the last
  * applied batchId. A restarted run therefore resumes BOTH the source
  * offsets (from the checkpoint) and the counters (from the state dir),
  * and a restart with another `groupCol` or `minStopwords` fails loudly
  * instead of mixing two card definitions — and because a
  * replayed micro-batch arrives with its original batchId, the
  * `batchId <= lastApplied` guard skips re-applying a batch whose counts
  * were persisted before the crash. Every crash window is covered:
  * before persist → batch replays and re-applies; after persist but
  * before the offset commit → batch replays and is SKIPPED; after the
  * commit → batch neither replays nor needs to. Exactly-once counters,
  * by construction. Without `checkpointDir` the card is single-run
  * in-memory state, as before.
  *
  * Scale: state is |sources| rows, localCheckpoint'ed per batch to keep
  * lineage flat over unbounded streams (the [[MaterializedAgg]] contract);
  * the persisted copy is one groups-sized parquet write per batch.
  */
object CardStreams {

  def streamingDataCard(
      spark: SparkSession, stagedDir: String,
      groupCol: String = "source", textCol: String = "text",
      minStopwords: Int = 1,
      shufflePartitions: Option[Int] = None,
      checkpointDir: Option[String] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    def cardOf(df: DataFrame): DataFrame = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(text.tokenCount(col(textCol)).cast("long")), lit(0L))
          .as("sum_tokens"),
        count(when(
          text.gopherReasons(col(textCol), minStopwords = minStopwords) === 0,
          1)).as("n_quality_pass"))
    val stateDir = checkpointDir.map(d => s"$d/card_state")
    val params = s"groupCol=$groupCol;minStopwords=$minStopwords"
    // written from the micro-batch thread, read by the caller after
    // the query finishes (and legitimately readable mid-run by a monitor)
    val stateLock = new Object
    val loaded = stateDir.flatMap(StateStore.load(_, Seq("card"),
      "streaming data card", params, "counters would mix two card definitions"))
    var state: Option[DataFrame] = loaded.map(v => LibraryParquet.read(spark, v.part("card")))
    var lastApplied: Long = loaded.fold(-1L)(_.counter)
    StagedStream.foreachStaged(stream, shufflePartitions, batchAdaptive,
        checkpointDir, persistBatch = false) { (batch, batchId) =>
      stateLock.synchronized {
        // a replayed batch (crash between persist and offset commit)
        // is already inside the persisted counters: skip it
        if (batchId > lastApplied) {
          val delta = cardOf(batch)
          val next = state match {
            case None => delta
            case Some(st) =>
              st.select(col(groupCol), col("n_docs").as("a_docs"),
                  col("sum_tokens").as("a_tok"), col("n_quality_pass").as("a_pass"))
                .join(delta, Seq(groupCol), "full")
                .select(col(groupCol),
                  (coalesce(col("a_docs"), lit(0L))
                    + coalesce(col("n_docs"), lit(0L))).as("n_docs"),
                  (coalesce(col("a_tok"), lit(0L))
                    + coalesce(col("sum_tokens"), lit(0L))).as("sum_tokens"),
                  (coalesce(col("a_pass"), lit(0L))
                    + coalesce(col("n_quality_pass"), lit(0L))).as("n_quality_pass"))
          }
          val materialized = next.localCheckpoint(true)
          stateDir.foreach(StateStore.save(_, params, batchId) { v =>
            materialized.write.parquet(s"$v/card")
          })
          state = Some(materialized)
          lastApplied = batchId
        }
      }
    }
    // a restarted run where every batch was already committed sees zero
    // new micro-batches — the reloaded state IS the answer
    stateLock.synchronized(state).getOrElse(
      throw new IllegalStateException(s"no micro-batches arrived from $stagedDir"))
  }
}
