package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.text

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
  * beside the checkpoint (`<checkpointDir>/card_state`, batch-versioned
  * directories behind an atomically-swapped manifest) after every
  * batch and reloaded on start, tagged with the last applied batchId. A
  * restarted run therefore resumes BOTH the source offsets (from the
  * checkpoint) and the counters (from the state dir) — and because a
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

  private val cardDirName = "card"
  private val manifestName = "card_manifest"

  private def versionDir(stateDir: java.io.File, batchId: Long) =
    new java.io.File(stateDir, s"${cardDirName}_$batchId")

  /** (loaded card, last applied batchId); (None, -1) when no persisted
    * state exists. The manifest names the batch whose `card_<batchId>`
    * directory is current; because the manifest is only ever swapped
    * atomically AFTER that directory is fully written, a manifest that
    * exists always points at a complete card (`_SUCCESS` is still
    * required, defensively).
    */
  private def loadCardState(
      spark: SparkSession, stateDir: java.io.File): (Option[DataFrame], Long) = {
    val manifest = new java.io.File(stateDir, manifestName)
    if (!manifest.exists()) (None, -1L)
    else {
      val lastApplied =
        new String(Files.readAllBytes(manifest.toPath), UTF_8).trim.toLong
      val card = versionDir(stateDir, lastApplied)
      if (!new java.io.File(card, "_SUCCESS").exists()) (None, -1L)
      else (Some(spark.read.parquet(card.toString)), lastApplied)
    }
  }

  /** Crash-safe save with NO lossy window: write the card to a fresh
    * batch-versioned directory, then atomically swap the manifest to
    * point at it, then garbage-collect superseded versions. A crash at
    * any instant leaves the manifest pointing at a complete older card —
    * the in-place-overwrite scheme this replaces had a window (manifest
    * deleted, card half-overwritten) where restart loaded (None, -1)
    * while the stream's committed offsets never replayed the lost
    * batches: silent total counter loss. `next` must already be
    * materialized (localCheckpoint) so this write never reads the
    * directory it is about to supersede.
    */
  private def saveCardState(
      next: DataFrame, stateDir: java.io.File, batchId: Long): Unit = {
    stateDir.mkdirs()
    val dir = versionDir(stateDir, batchId)
    next.write.mode("overwrite").parquet(dir.toString)
    val manifest = new java.io.File(stateDir, manifestName).toPath
    val tmp = new java.io.File(stateDir, manifestName + ".tmp").toPath
    Files.write(tmp, batchId.toString.getBytes(UTF_8))
    try Files.move(tmp, manifest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, manifest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // only after the commit: drop every older card_<id> version
    Option(stateDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(cardDirName + "_")
        && f.getName != dir.getName)
      .foreach(deleteRecursively)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }

  def streamingDataCard(
      spark: SparkSession, stagedDir: String,
      groupCol: String = "source", textCol: String = "text",
      minStopwords: Int = 1,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false,
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
    val stateDir = checkpointDir.map(d => new java.io.File(d, "card_state"))
    // written from the micro-batch thread, read by the caller after
    // the query finishes (and legitimately readable mid-run by a monitor)
    val stateLock = new Object
    val (loaded, loadedBatch) = stateDir
      .map(loadCardState(spark, _)).getOrElse((None, -1L))
    var state: Option[DataFrame] = loaded
    var lastApplied: Long = loadedBatch
    StagedStream.foreachStaged(stream, shufflePartitions, rocksdbState,
        batchAdaptive, checkpointDir, persistBatch = false) { (batch, batchId) =>
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
          stateDir.foreach(saveCardState(materialized, _, batchId))
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
