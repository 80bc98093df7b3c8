package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The few helpers several query families use: fixture-table reads, the
  * bench-shape scan fan-out, exact sums and timestamp literals, the
  * stopword literal for oracle SQL, the stream-name counter and the
  * load-or-build step of query-owned persisted states.
  *
  * Numeric-parity convention: any SUM over doubles goes through
  * `CAST(x AS DECIMAL(18,k))` and the exact decimal sum is cast back to
  * DOUBLE — identical bits on Spark and DuckDB regardless of partial-agg
  * order, so hashes match without tolerance. Per-row double arithmetic is
  * IEEE-identical and needs no such guard. Epoch seconds (BIGINT) stand in
  * for raw timestamps in outputs.
  */
object Shared {

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Bench-shape scan fan-out. The driver's tables are single-row-group
    * parquet files, so every scan is ONE task and a query whose expensive
    * work is row-local BEFORE its first exchange (gram hashing, window
    * generation, portable md5) serializes that work onto one core — and
    * its measured floor then tracks host load 1:1 (the q134 diagnosis).
    * An explicit-count repartition (AQE would coalesce a count-less one
    * of ~1 MB back to a single partition) spreads the CPU-bound stage;
    * call sites pick a key the downstream plan can reuse for co-located
    * joins/aggs. Results are unchanged for the row-local + order-
    * independent-aggregation shapes this is applied to. At production
    * scale the scan has real splits and this narrow shuffle stays
    * proportional to the slice it fans out.
    */
  private[graft] def fanOut(s: SparkSession, df: DataFrame, key: String,
      parts: Int = 0): DataFrame =
    df.repartition(
      if (parts > 0) parts
      else s.conf.get("spark.sql.shuffle.partitions", "32").toInt, col(key))

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * nanos-since-epoch long (`spark.sql.legacy.parquet.nanosAsLong=true`,
    * set in Verify/Bench sessions). Normalize to a microsecond TimestampType
    * column; integer DIV avoids double-precision loss on ~1.7e18 nanos.
    */
  private[graft] def events(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams.normalizeTs(t(s, d, "events"))

  /** Exact decimal-routed double sum (see the object doc). */
  private[graft] def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private[graft] def epochSec(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** DuckDB list literal of a [[graft.functions.text.stopwords]] inventory
    * — interpolated into oracle SQL so the lists can never drift.
    */
  private[graft] def swList(lang: String): String =
    graft.functions.text.stopwords(lang)
      .map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")

  private[graft] def ts(lit0: String): Column = lit(lit0).cast("timestamp")

  private[graft] val streamCounter = new AtomicInteger(0)

  /** The state a query keeps in its own scratch dir `dir` (a
    * [[graft.io.TextTables.scratchDir]] salted by the source fingerprint
    * and the state's params): `load` it, or on a miss clear `dir`, run
    * `buildAndSave` and load again. The clear drops whatever an older
    * on-disk layout left there, which the state store never deletes
    * itself; a dir still holding that layout's manifest (`_GRAFT_STATE`)
    * counts as a miss, so it is cleared once even where a store version
    * was committed beside it. A state that does not read back right
    * after its save is an error naming `dir`, not a bare `None.get`
    * after the full build.
    */
  private[graft] def loadOrBuild[S](dir: String)(load: => Option[S])(
      buildAndSave: => Unit): S = {
    val root = new java.io.File(dir)
    val hit = if (new java.io.File(root, "_GRAFT_STATE").exists()) None else load
    hit.getOrElse {
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      buildAndSave
      load.getOrElse(throw new IllegalStateException(
        s"state at $dir did not read back complete right after save — " +
          "check that parquet writes produce _SUCCESS markers " +
          "(mapreduce.fileoutputcommitter.marksuccessfuljobs)"))
    }
  }
}
