package graft.streaming

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

import graft.io.LibraryParquet

/** The one runner of every streaming face in this package: how a face's
  * source is opened and how its query runs to completion — AvailableNow,
  * awaited, inside [[EventStreams.withStatePartitions]]'s conf scope. A
  * face is then only its operator wired between a source constructor and
  * one of the two sink shapes:
  *
  *  - [[toMemory]]: the monitors and stateful twins, whose result is the
  *    drained memory-sink table;
  *  - [[foreachStaged]]: the per-batch writers, whose body sees each
  *    micro-batch persisted and released around it (or, for a body that
  *    reads the batch once, not persisted at all).
  *
  * The reference's chunked fetch loop (`R/ffsql.R:276-333`) is this
  * micro-batch shape; keeping it in one place is what lets a failing
  * batch body or a per-batch timing be handled once for every face.
  */
private[streaming] object StagedStream {

  /** A staged directory — one parquet file per micro-batch, replayed in
    * mod-time order (the [[CorpusStreams.stageIdSlices]] layout) — opened
    * as a stream.
    */
  def staged(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(LibraryParquet.read(spark, dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** The `events` table at `path` (a parquet file or directory) opened as a
    * stream with `ts` normalized ([[EventStreams.normalizeTs]]). `dir` is
    * the directory actually streamed (default: `path` via
    * [[EventStreams.stageStreamDir]]); `schema` reuses an already-read
    * schema, so several sources over one table pay one schema read.
    */
  def events(spark: SparkSession, path: String, dir: Option[String] = None,
      schema: Option[StructType] = None): DataFrame =
    EventStreams.normalizeTs(spark.readStream
      .schema(schema.getOrElse(spark.read.parquet(path).schema))
      .parquet(dir.getOrElse(EventStreams.stageStreamDir(path))))

  /** A state bound checked once the query finishes
    * ([[EventStreams.auditStateSize]]): `what` names the monitor.
    */
  final case class StateCap(what: String, maxRows: Long, maxBytes: Long)

  /** Run `frame` to completion into the memory sink `queryName` and return
    * its rows as a local frame. `audit` measures, and caps, the finished
    * query's state before the drain ([[EventStreams.auditStateSize]]).
    *
    * The memory sink holds its rows on the driver behind a temp view, so
    * the view is dropped on every exit: after the drain, and before a
    * breached cap propagates. Otherwise each streaming query in a long
    * session pins its full result on the driver for the session's
    * lifetime (a 100-query battery accumulates them all).
    */
  def toMemory(frame: DataFrame, mode: OutputMode, queryName: String,
      partitions: Option[Int], rocksdb: Boolean = false,
      audit: Option[StateCap] = None): DataFrame = {
    val spark = frame.sparkSession
    EventStreams.withStatePartitions(spark, partitions, rocksdb) {
      val q = frame.writeStream.outputMode(mode).format("memory")
        .queryName(queryName).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      audit.foreach { a =>
        try EventStreams.auditStateSize(q, a.what, a.maxRows, a.maxBytes)
        catch {
          case e: IllegalStateException =>
            try spark.catalog.dropTempView(queryName)
            catch { case _: Exception => () } // release is best-effort
            throw e
        }
      }
    }
    val t = spark.table(queryName)
    val rows = t.collect()
    val schema = t.schema
    spark.catalog.dropTempView(queryName)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Run `stream` to completion, handing each micro-batch and its batch id
    * to `body`. The batch is persisted for the body's duration and
    * released however the body ends; a body that throws fails the query,
    * and the failure surfaces here from `awaitTermination`. Pass
    * `checkpointDir` to make the source progress restartable.
    *
    * `persistBatch = false` hands the body the batch as it is: for a body
    * that reads the batch once, caching all of its columns costs more
    * than that one pruned read.
    *
    * There is no state-store choice here: a file source feeding
    * `foreachBatch` has no stateful operator, so no state store is
    * opened (the stateful faces run through [[toMemory]]).
    */
  def foreachStaged(stream: DataFrame, partitions: Option[Int],
      adaptive: Option[Boolean] = None,
      checkpointDir: Option[String] = None,
      queryName: Option[String] = None,
      persistBatch: Boolean = true)(
      body: (DataFrame, Long) => Unit): Unit =
    EventStreams.withStatePartitions(stream.sparkSession, partitions,
        adaptive = adaptive) {
      val w = stream.writeStream
        .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
          if (!persistBatch) body(batch.toDF(), batchId)
          else {
            val b = batch.persist()
            try body(b.toDF(), batchId) finally b.unpersist()
          }
        }
        .trigger(Trigger.AvailableNow())
      val named = queryName.fold(w)(w.queryName)
      checkpointDir.fold(named)(named.option("checkpointLocation", _))
        .start().awaitTermination()
    }

  /** `dir`, or a fresh temp directory named `prefix…` that is deleted with
    * its contents when the JVM exits. (`File.deleteOnExit` cannot do that:
    * it skips a non-empty directory, and a sink fills with part files.)
    */
  def sinkOrTemp(dir: Option[String], prefix: String): String =
    dir.getOrElse {
      val d = Files.createTempDirectory(prefix)
      tempSinks.add(d)
      d.toString
    }

  private[streaming] val tempSinks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  sys.addShutdownHook(tempSinks.forEach { d =>
    try deleteTree(d) catch { case _: java.io.IOException => () }
  })

  /** Delete `p` and everything under it (no-op when absent). */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val listing = Files.walk(p)
      try listing.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally listing.close()
    }
}
