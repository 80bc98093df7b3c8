package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.IncrementalAgg

/** Streaming materialized-view maintenance: a per-group `(n, sum)` aggregate
  * kept current over an append stream with [[IncrementalAgg.refresh]] —
  * each micro-batch touches only its own rows plus the groups-sized state,
  * never the accumulated history. This is the streaming face of the same
  * delta arithmetic q102 gates: because refresh is bit-identical to
  * recompute, the maintained view after the last batch EQUALS the one-shot
  * aggregate over the full input regardless of where the stream was cut
  * (batch-boundary invariance, asserted in the spec and by q103's
  * recompute oracle).
  *
  * Scale: state is |groups| rows, localCheckpoint'ed per batch so lineage
  * stays flat over unbounded streams; per-batch cost is one delta-sized
  * aggregation plus a groups-sized outer join.
  */
object MaterializedAgg {

  def streamingRefresh(
      spark: SparkSession, stagedDir: String,
      groupCols: Seq[String], valueCol: String,
      nCol: String = "n", sumCol: String = "sum_value",
      scale: Int = 4,
      shufflePartitions: Option[Int] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    // written from the micro-batch thread, read from the caller thread after
    // the query finishes — synchronized explicitly rather than relying on the
    // termination happens-before
    val stateLock = new Object
    var state: Option[DataFrame] = None
    // bounding partitions here shrinks the per-batch groups-sized shuffle
    // AND the localCheckpoint'ed state materialization (tasks per batch)
    StagedStream.foreachStaged(stream, shufflePartitions, batchAdaptive,
        persistBatch = false) { (added, _) =>
      stateLock.synchronized {
        val next = state match {
          case None =>
            added.groupBy(groupCols.map(col): _*)
              .agg(count(lit(1)).as(nCol),
                sum(col(valueCol).cast(s"decimal(27,$scale)"))
                  .cast("double").as(sumCol))
          case Some(st) =>
            // append-only stream: no removals; an upstream CDC feed would
            // route its delete/old-image rows through `removed` instead
            val removed = spark.createDataFrame(
              java.util.Collections.emptyList[Row](), added.schema)
            IncrementalAgg.refresh(st, removed, added, groupCols, valueCol,
              nCol, sumCol, scale)
        }
        state = Some(next.localCheckpoint(true))
      }
    }
    stateLock.synchronized(state).getOrElse(
      throw new IllegalStateException(s"no micro-batches arrived from $stagedDir"))
  }
}
