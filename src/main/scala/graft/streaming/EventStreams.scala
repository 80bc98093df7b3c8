package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table shape
  * (`event_id, ts, user_id, event_type, value, props`).
  *
  * The reference's chunked fetch loop (`R/ffsql.R:276-333`) is micro-batch
  * shaped; its true Spark-native descendant is Structured Streaming:
  * readStream -> transform -> sink, with watermarks and stateful ops.
  * Batch twins of each streaming query are provided so the SAME semantics
  * are verifiable against a SQL oracle (streaming parity = batch result on
  * the complete input).
  */
object EventStreams {

  /** Exact decimal-routed double sum (repo-wide `dsum` convention): partial
    * aggregation order over doubles is nondeterministic across core counts,
    * so oracle-compared sums go through an exact DECIMAL accumulation and
    * cast back — identical bits on any engine at any parallelism.
    */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  /** Normalize the `ts` column to TimestampType. Parquet TIMESTAMP(NANOS) is
    * read as a nanos-since-epoch long (requires
    * `spark.sql.legacy.parquet.nanosAsLong=true`); `ts DIV 1000` is integer
    * division — a double division would lose precision at ~1.7e18 nanos.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** The RocksDB state store provider that ships with Spark — the
    * production choice for large stateful streams: state lives off-heap /
    * on-disk per executor instead of as JVM-heap HDFS-backed maps, so state
    * size is bounded by local disk not executor memory, and changelog
    * checkpointing ships deltas rather than full snapshots.
    *
    * Measured by a one-off state-store benchmark (local[32], changelog
    * checkpointing on, warmed, every batch rewriting every key; the
    * round-10 record in SURVEY.md):
    * 1e5 keys/state-partition -> HDFS 4.77 s vs RocksDB 6.37 s;
    * 4e5 keys/partition -> 12.70 s vs 24.20 s. While state FITS IN HEAP
    * the default heap-map provider wins (mutating an in-memory map beats
    * RocksDB's native write + compaction path), which is why `rocksdbState`
    * is an opt-in on every stateful streaming face rather than the default. The
    * crossover is a memory bound, not a speed curve: at 100 TB with
    * state larger than executor heap the heap provider OOMs and RocksDB
    * (disk-bounded, delta-checkpointed) is the setting to flip first.
    */
  private[streaming] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with `spark.sql.shuffle.partitions` bounded to `n` (restored
    * after). Stateful streaming cost is dominated by per-store fixed
    * overhead — each micro-batch opens/commits one state store per shuffle
    * partition (FOUR per partition for a stream-stream join), and the state
    * partition count freezes from this conf at the query's first run.
    * Results are unaffected (state partitioning never changes semantics;
    * oracle-compared sums are decimal-routed, so partial-agg order is moot).
    * Queries in this engine run sequentially per session, so the temporary
    * swap cannot race a concurrent query.
    *
    * `rocksdb = true` additionally pins the state store provider to
    * [[RocksDbProvider]] WITH changelog checkpointing for queries STARTED
    * inside `body` (the provider, like the partition count, freezes from
    * conf at first run; restored after). Changelog checkpointing is the
    * production pairing the provider's scaladoc describes — each commit
    * ships the batch's delta instead of a full state snapshot (Spark
    * leaves it off by default only for pre-3.5 checkpoint compatibility).
    * See [[RocksDbProvider]] for the recorded numbers of the pairing and
    * when flipping the knob actually pays.
    * Provider choice never affects results — only where state bytes
    * live — and the streaming specs assert streamed == batch under both
    * providers.
    *
    * `adaptive = Some(false)` disables AQE for batch jobs started inside
    * `body` — the foreachBatch micro-batch bodies (optimization round 19).
    * AQE executes one job PER QUERY STAGE with a driver re-plan between
    * stages; over increment-sized frames every stage coalesces to a
    * handful of tasks anyway, so the adaptive machinery is pure per-batch
    * driver overhead (measured ~20% of the streamed dedup/probe walls —
    * ~14 one-task stages per batch at ~70 ms of submit/re-plan each,
    * ~0.05 s of task time). Plan-only: results are unaffected, and the
    * stateful streaming plans themselves never use AQE (Spark disables it
    * there). Like `n`, this encodes a caller's knowledge that increments
    * are BOUNDED — a deployment streaming TB-sized micro-batches should
    * leave it on, for the same reason it would raise `n`.
    */
  private[streaming] def withStatePartitions[T](
      spark: SparkSession, n: Option[Int], rocksdb: Boolean = false,
      adaptive: Option[Boolean] = None)(body: => T): T = {
    val confs =
      n.map("spark.sql.shuffle.partitions" -> _.toString).toSeq ++
        adaptive.map("spark.sql.adaptive.enabled" -> _.toString).toSeq ++
        (if (rocksdb)
          Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider,
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
              -> "true")
        else Nil)
    if (confs.isEmpty) body
    else {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** The engine-reported maxima the last [[auditStateSize]] measured —
    * rows and bytes are the state store's OWN numbers
    * (`StateOperatorProgress.numRowsTotal` / `memoryUsedBytes`, which the
    * RocksDB provider populates from RocksDB's total memory usage), so a
    * spec can compare them against what it derives from the drained sink
    * frame (round-16 verdict #5: the cap must trip on engine truth, and
    * the truth must be visible to assert against).
    */
  final case class StateAudit(what: String, rows: Long, bytes: Long,
      batches: Int)
  // a single slot, deliberately: the audit runs after a monitor's query
  // FINISHES (never concurrently within a session), and `what` stamps
  // which monitor the numbers belong to so a reader can detect a stale
  // or misattributed record instead of silently trusting it
  @volatile private[streaming] var lastStateAudit: Option[StateAudit] = None

  /** LOUD state-store telemetry for the Complete-mode monitors (round-16
    * verdict #5): the scaladocs ARGUE each monitor's state is bounded by
    * design (clamped bins, MG candidates, sketch registers, |groups|
    * rows); this reads the finished query's progress history and REPORTS
    * the measured maximum — total state rows and state-store bytes
    * across micro-batches — on stderr, the `maxBucket` telemetry
    * convention applied to streaming state. With `maxStateRows` set the
    * audit becomes a cap: a monitor whose key space turns out to grow
    * with the corpus (exactly what the bounded designs exist to prevent)
    * fails loudly instead of silently eating the state store. Rows are
    * the primary cap currency because they are deterministic per
    * fixture; `maxStateBytes` (round-17) additionally caps the
    * engine-reported byte high-water — provider-dependent in value, but
    * the store's OWN number under both the heap-map and RocksDB
    * providers, so a byte budget holds wherever the state lives.
    */
  private[streaming] def auditStateSize(
      q: org.apache.spark.sql.streaming.StreamingQuery, what: String,
      maxStateRows: Long, maxStateBytes: Long = Long.MaxValue): Unit = {
    require(maxStateRows >= 1, "maxStateRows must be at least 1")
    require(maxStateBytes >= 1, "maxStateBytes must be at least 1")
    val per = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .map(p => (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    if (per.nonEmpty) {
      val rows = per.map(_._1).max
      // max over batches INDEPENDENTLY of the row max: RocksDB's byte
      // high-water can land on a different commit than the row peak
      val bytes = per.map(_._2).max
      lastStateAudit = Some(StateAudit(what, rows, bytes, per.size))
      System.err.println(f"[graft] state audit $what: max $rows state " +
        f"rows, ~$bytes state bytes over ${per.size} committed batches" +
        (if (maxStateRows != Long.MaxValue) s" (cap $maxStateRows rows)"
        else "") +
        (if (maxStateBytes != Long.MaxValue) s" (cap $maxStateBytes bytes)"
        else ""))
      if (rows > maxStateRows) throw new IllegalStateException(
        s"$what streaming state grew to $rows rows — above the declared " +
          s"bound $maxStateRows, so the monitor's key space is growing " +
          "with the corpus; bound it (clamped score bins, MG candidates, " +
          "sketch registers) or raise maxStateRows if this size is planned")
      if (bytes > maxStateBytes) throw new IllegalStateException(
        s"$what streaming state grew to $bytes store-reported bytes — " +
          s"above the declared bound $maxStateBytes (the engine's own " +
          "number, RocksDB included); bound the key space or per-key " +
          "payload, or raise maxStateBytes if this size is planned")
    }
  }

  /** The file stream source requires a DIRECTORY; when given a single
    * parquet file, stage a symlink to it inside a temp dir.
    */
  def stageStreamDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
      d.toFile.deleteOnExit()
      val l = d.resolve(p.getFileName)
      java.nio.file.Files.createSymbolicLink(l, p.toAbsolutePath)
      l.toFile.deleteOnExit()
      d.toString
    }
  }

  /** Batch twin of [[enrichStreaming]]: events left-join a BROADCAST
    * dimension slice, aggregated per dimension segment (events without a
    * dimension row land in 'UNKNOWN' — enrichment must never drop facts).
    */
  def enrichBatch(
      events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String,
      segCol: String): DataFrame =
    events
      .join(broadcast(dim.select(col(dimKey), col(segCol))),
        events(eventKey) === dim(dimKey), "left")
      .groupBy(coalesce(col(segCol), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))

  /** Stream-static enrichment: the event stream joins a STATIC dimension
    * frame inside each micro-batch — the broadcast hash join adds no
    * stream shuffle and no state; the only stateful operator is the
    * segment aggregation, whose state is |segments| rows. At 100 TB/day
    * this is the canonical "enrich facts with a warehouse dimension on
    * the way in" shape: the dimension is re-resolved per micro-batch, so
    * a slowly-changing dimension picks up updates between batches without
    * restarts (contrast stream-stream joins, q94, which pay watermarked
    * state on both sides). Counts and decimal-routed sums are
    * batch-additive, so streaming == batch by construction.
    */
  def enrichStreaming(
      spark: SparkSession, eventsPath: String, dim: DataFrame,
      eventKey: String, dimKey: String, segCol: String, queryName: String,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val stream = StagedStream.events(spark, eventsPath)
    val agg = stream
      .join(broadcast(dim.select(col(dimKey), col(segCol))),
        stream(eventKey) === dim(dimKey), "left")
      .groupBy(coalesce(col(segCol), lit("UNKNOWN")).as("segment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
      shufflePartitions, rocksdbState)
  }

  /** Streaming approximate distinct count per group — the KMV sketch is
    * THE way to count distinct on a stream: exact `countDistinct` is
    * unsupported in streaming aggregation (its state would be the full
    * distinct set), while the BottomKAgg buffer is k longs per group,
    * state-store-friendly, and its merge is associative+commutative — so
    * the streamed sketch equals the batch sketch BIT-FOR-BIT and the
    * all-integer estimate inherits [[graft.ext.Sketches.kmvDistinctCount]]'s
    * oracle parity (q148). Output: `(groupCol, n_est)`.
    */
  def distinctEstimateStreaming(
      spark: SparkSession, eventsPath: String, groupCol: String,
      valueCol: String, queryName: String, k: Int = 16,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false,
      maxStateRows: Long = Long.MaxValue,
      maxStateBytes: Long = Long.MaxValue): DataFrame = {
    import graft.ext.Sketches
    val agg = StagedStream.events(spark, eventsPath)
      .groupBy(col(groupCol))
      .agg(graft.expressions.BottomKAgg
        .bottomKHashes(Sketches.kmvHash(col(valueCol)), k).as("bk"))
    // bounded by design at |groups| rows of k longs — measured + capped
    StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
        shufflePartitions, rocksdbState, Some(StagedStream.StateCap(
          "distinct-estimate monitor", maxStateRows, maxStateBytes)))
      .withColumn("n_est", Sketches.kmvEstimate(k))
      .select(col(groupCol), col("n_est"))
  }

  /** Streaming per-group quantile estimates — the q148 KMV argument,
    * applied to quantiles: exact streaming `percentile` would keep every
    * value in the state store, while the [[graft.expressions
    * .BottomKSample]] buffer is k (hash, value) pairs per group with an
    * associative+commutative merge, so the streamed sample equals the
    * batch sample BIT-FOR-BIT and the estimates inherit
    * [[graft.ext.Sketches.quantileSketch]]'s oracle parity (q154/q160).
    * Output: `(groupCol, q, n_sample, est)` — one row per quantile.
    */
  def quantileEstimateStreaming(
      spark: SparkSession, eventsPath: String, groupCol: String,
      hashKeyCol: String, valueCol: String, queryName: String,
      k: Int, qs: Seq[Double], interpolate: Boolean = false,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    import graft.ext.Sketches
    val agg = StagedStream.events(spark, eventsPath)
      .where(col(valueCol).isNotNull && col(hashKeyCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(graft.expressions.BottomKSample.bottomKSample(
        Sketches.kmvHash(col(hashKeyCol)), col(valueCol).cast("double"), k)
        .as("__vals"))
    Sketches.quantilePicks(
      StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
        shufflePartitions, rocksdbState),
      Seq(groupCol), qs, interpolate)
  }

  /** Batch twin: tumbling-window counts/sums per event_type. */
  def tumblingWindowBatch(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming version of [[tumblingWindowBatch]] driven synchronously over
    * parquet input: readStream -> watermark -> windowed agg -> memory sink
    * (complete mode, so every window is emitted even when the watermark
    * hasn't closed it). Returns the materialized result table.
    */
  def tumblingWindowStreaming(
      spark: SparkSession, eventsPath: String, queryName: String,
      windowLen: String = "1 hour", watermark: String = "10 minutes",
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val agg = StagedStream.events(spark, eventsPath)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
        col("n_events"), col("sum_value"))
    StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
      shufflePartitions, rocksdbState)
  }

  /** Streaming deduplication: stage the source file TWICE so the stream
    * genuinely carries every row duplicated, then drop duplicates on `keys`
    * within the watermark (`dropDuplicatesWithinWatermark` — state is
    * bounded by the watermark delay, unlike raw `dropDuplicates`, whose
    * key set grows forever on an unbounded stream). Both copies of a row
    * are identical, so the surviving set is deterministic: exactly the
    * distinct source rows.
    */
  def streamingDedup(
      spark: SparkSession, eventsPath: String, queryName: String,
      keys: Seq[String], watermark: String = "10 minutes",
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val p = java.nio.file.Paths.get(eventsPath).toAbsolutePath
    val d = java.nio.file.Files.createTempDirectory("graft_dup_stream")
    d.toFile.deleteOnExit()
    // stage every data file twice: a single parquet file directly, or — for
    // a directory-layout parquet dataset — each of its part files (the file
    // source lists files, it does not recurse into symlinked subdirs)
    val dataFiles: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(p)) {
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(p)
        try listing.iterator().asScala
          .filter(f => java.nio.file.Files.isRegularFile(f) &&
            !f.getFileName.toString.startsWith("_") &&
            !f.getFileName.toString.startsWith("."))
          .toSeq
        finally listing.close()
      } else Seq(p)
    // a Hive-partitioned layout (key=.../part-*.parquet) has no top-level
    // data files; fail loudly rather than streaming zero rows
    require(dataFiles.nonEmpty,
      s"streamingDedup: no data files directly under $p (partitioned layouts unsupported)")
    dataFiles.zipWithIndex.foreach { case (f, i) =>
      Seq("a", "b").foreach { side =>
        val l = d.resolve(s"copy_${side}_$i.parquet")
        java.nio.file.Files.createSymbolicLink(l, f)
        l.toFile.deleteOnExit()
      }
    }
    val deduped = StagedStream.events(spark, eventsPath, Some(d.toString))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)
    StagedStream.toMemory(deduped, OutputMode.Append(), queryName,
      shufflePartitions, rocksdbState)
  }

  /** The ONE gap-rule session-id assignment (lag -> flag -> running sum)
    * shared by [[sessionizeBatch]] and [[sessionBounds]] — a tweak to the
    * gap predicate or tie-break ordering here changes both consumers
    * together, so q30's sessions and q80's intervals cannot silently
    * diverge.
    */
  private[graft] def withSessionIds(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gapSec = gapMinutes * 60L
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > gapSec, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
  }

  /** Events annotated with a composite `session_key` string
    * (`user_id#session_id` under the shared gap rule) — the partition key
    * that scopes any per-user operator (funnel, transitions) to single
    * sessions instead of lifetimes.
    */
  def sessionKeyed(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .withColumn("session_key",
        concat_ws("#", col("user_id"), col("session_id").cast("long")))
      .drop("prev_ts", "new_session", "session_id")

  /** Batch sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Pure window functions (lag -> flag -> running sum), fully
    * SQL-expressible — the oracle twin of the stateful streaming version.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_sec"))

  /** Session INTERVALS from the same gap rule as [[sessionizeBatch]]:
    * `(user_id, session_id, session_start, session_end)` with bounds as
    * epoch seconds — the interval table an interval join (e.g.
    * [[graft.ops.RangeJoin]]) consumes.
    */
  def sessionBounds(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withSessionIds(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(unix_timestamp(min(col("ts"))).as("session_start"),
        unix_timestamp(max(col("ts"))).as("session_end"))

  /** Correlate two event types per user within a time bound — e.g. every
    * purchase within `withinMinutes` after a click. Works identically on
    * batch and streaming inputs; on streams this is a watermarked
    * stream-stream inner join whose state is bounded by the watermark plus
    * the time-range condition (Spark drops buffered rows older than
    * watermark + within).
    */
  def correlate(
      a: DataFrame, b: DataFrame,
      typeA: String, typeB: String,
      withinMinutes: Int = 60,
      watermark: String = "10 minutes"): DataFrame = {
    val isStreaming = a.isStreaming
    def side(df: DataFrame, typ: String, pfx: String): DataFrame = {
      val filtered = df.where(col("event_type") === typ)
        .select(col("user_id").as(s"${pfx}_user"), col("ts").as(s"${pfx}_ts"),
          col("event_id").as(s"${pfx}_id"), col("value").as(s"${pfx}_value"))
      if (isStreaming) filtered.withWatermark(s"${pfx}_ts", watermark) else filtered
    }
    val l = side(a, typeA, "a")
    val r = side(b, typeB, "b")
    l.join(r,
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $withinMinutes MINUTES"))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"),
        (unix_timestamp(col("b_ts")) - unix_timestamp(col("a_ts"))).as("lag_sec"))
  }

  /** Drive [[correlate]] as a real watermarked STREAM-STREAM inner join
    * (both sides `readStream`) into a memory sink. Inner joins in Append
    * mode emit each match as soon as both rows have arrived — the watermark
    * plus the join's time-range bound only limit how long unmatched rows
    * stay buffered (state eviction), so on a finite AvailableNow stream the
    * result equals the batch twin exactly.
    */
  def correlateStreaming(
      spark: SparkSession, eventsPath: String, queryName: String,
      typeA: String, typeB: String, withinMinutes: Int = 60,
      watermark: String = "10 minutes",
      userMod: Long = 1L,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val schema = Some(spark.read.parquet(eventsPath).schema)
    // userMod > 1 bounds join state to a deterministic 1/userMod user slice
    // — same machinery, proportionally less per-row state-store traffic
    def stream() = {
      val s0 = StagedStream.events(spark, eventsPath, schema = schema)
      if (userMod > 1L) s0.where(pmod(col("user_id"), lit(userMod)) === 0L) else s0
    }
    // A stream-stream join runs FOUR state stores per shuffle partition per
    // micro-batch, so this query benefits most from bounding them.
    StagedStream.toMemory(
      correlate(stream(), stream(), typeA, typeB, withinMinutes, watermark),
      OutputMode.Append(), queryName, shufflePartitions, rocksdbState)
  }

  /** Stateful streaming twin of [[graft.ops.Behavior.transitions]]: one
    * `(prev_type, next_type)` row per event that has a predecessor in its
    * user's `(ts, event_id)` order, with the LAST event per user carried
    * across micro-batches as state — O(users) state, each entry one small
    * record, never a buffer of events.
    *
    * Exactness contract: within a batch the group's events are sorted by
    * `(ts, event_id)`; across batches the carried last-event state splices
    * the sequences. Provided each user's events arrive batch-ordered by
    * `(ts, event_id)` — true for event-id-sliced staging of a time-ordered
    * log — every emitted pair is exactly the batch `lag` pair, so the
    * aggregated counts are bit-identical to the batch operator and sit
    * under its oracle verbatim.
    *
    * The contract is CHECKED, not assumed (ADVICE r10): each batch's first
    * sorted `(ts_us, event_id)` is compared against the carried state's
    * last, and a regression throws `IllegalStateException` — a mis-staged
    * stream fails the query loudly instead of emitting silently wrong
    * pairs that diverge from the batch oracle.
    */
  private def requireOrdered(
      op: String, uid: Long, last: LastEv, headTs: Long, headId: Long): Unit =
    if (headTs < last.ts || (headTs == last.ts && headId < last.event_id))
      throw new IllegalStateException(
        s"$op: user $uid batch starts at (ts_us=$headTs, event_id=$headId) " +
          s"BEFORE carried state (ts_us=${last.ts}, event_id=${last.event_id}) " +
          "— events must arrive batch-ordered by (ts, event_id) per user; " +
          "re-stage the stream time-sliced (see stageStreamDir)")

  def transitionsStateful(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // narrow serde: epoch-micros long instead of Timestamp, no payload
    // columns — the per-event encoder cost is the operator's floor
    val typed = events.select(col("event_id").cast("long"),
      unix_micros(col("ts")).as("ts_us"), col("user_id").cast("long"),
      col("event_type"))
      .as[EvLite]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, TransCount](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[EvLite], state: GroupState[LastEv]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            var last = state.getOption
            last.foreach(l => requireOrdered("transitionsStateful", uid, l,
              sorted.head.ts_us, sorted.head.event_id))
            // pre-aggregate per (group, batch): the emitted frame is
            // <= |types|^2 rows per user-batch instead of one row per
            // transition — the combine that cuts sink serde to noise;
            // summing the partials downstream is count-additive, so the
            // final frame is unchanged
            val out = scala.collection.mutable.HashMap.empty[(String, String), Long]
            sorted.foreach { e =>
              last.foreach { l =>
                val k = (l.event_type, e.event_type)
                out.update(k, out.getOrElse(k, 0L) + 1L)
              }
              last = Some(LastEv(e.ts_us, e.event_id, e.event_type))
            }
            state.update(last.get)
            out.iterator.map { case ((p, n), c) => TransCount(p, n, c) }
          }
      }.toDF()
  }

  /** Drive [[transitionsStateful]] over a staged multi-batch file stream
    * and aggregate the emitted pairs to the batch operator's
    * `(prev_type, next_type, n, prob)` frame.
    */
  def transitionsStatefulStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val stream = normalizeTs(StagedStream.staged(spark, stagedDir))
    StagedStream.toMemory(transitionsStateful(stream), OutputMode.Append(),
        queryName, shufflePartitions, rocksdbState)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(sum(col("n")).as("n"))
      .withColumn("prob",
        round(col("n").cast("double") / sum(col("n"))
          .over(Window.partitionBy(col("prev_type"))), 6))
  }

  /** Stateful streaming twin of [[graft.ops.Behavior.funnel]]: per user,
    * carry which funnel stages are reached (a fixed |stages|-bit state —
    * O(users) total) and emit `(user_id, stage_idx)` the first time each
    * stage completes IN ORDER. Greedy sequential advance equals the batch
    * chained-window rule: processing a user's events in `(ts, event_id)`
    * order, "stage k-1 already reached" is exactly "a qualifying stage-
    * (k-1) event exists strictly earlier", and the first advancing event
    * is the minimum — so per-stage user counts are bit-identical to batch
    * and q189's oracle gates the streamed result verbatim (same arrival-
    * order contract as [[transitionsStateful]]).
    */
  def funnelStateful(events: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty && stages.distinct.size == stages.size,
      "stages must be non-empty and distinct")
    val spark = events.sparkSession
    import spark.implicits._
    val stageIdx = stages.zipWithIndex.toMap
    val nStages = stages.size
    val typed = events.select(col("event_id").cast("long"),
      unix_micros(col("ts")).as("ts_us"), col("user_id").cast("long"),
      col("event_type")).as[EvLite]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelReach, StageReach](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[EvLite], state: GroupState[FunnelReach]) =>
          val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            // same fail-fast arrival-order check as transitionsStateful
            // (ADVICE r10): greedy stage advance is only batch-exact when
            // batches splice in (ts, event_id) order, so a regression throws
            state.getOption.filter(_.lastTs != Long.MinValue).foreach { s =>
              requireOrdered("funnelStateful", uid,
                LastEv(s.lastTs, s.lastId, ""),
                sorted.head.ts_us, sorted.head.event_id)
            }
            val reached = state.getOption.map(_.reached.toArray)
              .getOrElse(Array.fill(nStages)(false))
            val out = List.newBuilder[StageReach]
            sorted.foreach { e =>
              stageIdx.get(e.event_type).foreach { k =>
                if (!reached(k) && (k == 0 || reached(k - 1))) {
                  reached(k) = true
                  out += StageReach(uid, k)
                }
              }
            }
            state.update(FunnelReach(reached.toSeq,
              sorted.last.ts_us, sorted.last.event_id))
            out.result().iterator
          }
      }.toDF()
  }

  /** Drive [[funnelStateful]] over a staged multi-batch stream and
    * assemble the batch operator's `(stage_idx, stage, n_users,
    * conv_from_first, conv_from_prev)` frame from the emitted reaches
    * (the ratio windows run over the |stages|-row frame — trivially
    * single-partition).
    */
  def funnelStatefulStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      stages: Seq[String],
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val stream = normalizeTs(StagedStream.staged(spark, stagedDir))
    import spark.implicits._
    val counts = StagedStream.toMemory(funnelStateful(stream, stages),
        OutputMode.Append(), queryName, shufflePartitions, rocksdbState)
      .groupBy(col("stage_idx")).agg(count(lit(1)).as("n_users"))
    val stageDf = stages.zipWithIndex
      .map { case (st, k) => (k, st) }.toDF("stage_idx", "stage")
    val full = Window.orderBy("stage_idx")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ord = Window.orderBy("stage_idx")
    stageDf.join(counts, Seq("stage_idx"), "left")
      .na.fill(0L, Seq("n_users"))
      .withColumn("__n0", max(when(col("stage_idx") === 0, col("n_users"))).over(full))
      .withColumn("__np", coalesce(lag(col("n_users"), 1).over(ord), col("n_users")))
      .select(col("stage_idx"), col("stage"), col("n_users"),
        round(col("n_users").cast("double") / col("__n0"), 6).as("conv_from_first"),
        round(col("n_users").cast("double") / col("__np"), 6).as("conv_from_prev"))
  }

  /** Stateful streaming twin of [[graft.ops.Behavior.rollingActive]]: per
    * user, carry the set of window-days already counted and emit each
    * `(user, window_day)` exactly once — pure dedup semantics, so unlike
    * the funnel/transition twins this needs NO arrival-order contract:
    * any batch split of any permutation yields the batch result.
    *
    * State is BOUNDED (ADVICE r10 — previously every (user, window_day)
    * ever seen was carried forever): a window `w` can only be re-emitted
    * by a future event whose day lies in `[w - windowDays + 1, w]`, so
    * once the user's stream has advanced `lateHorizonDays` past `w`, the
    * entry is dead weight and is evicted. State per user is then
    * O(windowDays + lateHorizonDays) longs regardless of stream length.
    * Exactness then holds only for streams whose per-user out-of-order
    * arrival is bounded by `lateHorizonDays` days (an event later than
    * that may re-emit an evicted window as a duplicate) — so eviction is
    * OPT-IN (ADVICE r11): the default horizon is negative = keep every
    * window, preserving the original exact-for-any-permutation contract;
    * callers with a real arrival-lateness bound pass it explicitly to
    * buy bounded state.
    *
    * ==Behavior change (round 12)==
    * The default FLIPPED from `lateHorizonDays = 30` (bounded state,
    * eviction on) to `-1` (exact, UNBOUNDED per-user state growth on
    * long streams). A long-running caller that relied on the old default
    * for memory safety must now pass its lateness bound explicitly —
    * silence here means exactness-by-default, not bounded-by-default.
    */
  def rollingActiveStateful(events: DataFrame, windowDays: Int = 7,
      lateHorizonDays: Int = -1): DataFrame = {
    require(windowDays >= 1, "windowDays must be at least 1")
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events.select(col("event_id").cast("long"),
      unix_micros(col("ts")).as("ts_us"), col("user_id").cast("long"),
      col("event_type")).as[EvLite]
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState[SeenWindows, WindowHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[EvLite], state: GroupState[SeenWindows]) =>
          val seen = scala.collection.mutable.Set[Long](
            state.getOption.map(_.wds).getOrElse(Nil): _*)
          val out = List.newBuilder[WindowHit]
          evs.foreach { e =>
            val d = e.ts_us / 86400000000L
            var w = d
            while (w < d + windowDays) {
              if (seen.add(w)) out += WindowHit(uid, w)
              w += 1
            }
          }
          // evict closed windows: max event day seen so far is derivable
          // from the seen set (its max window minus windowDays-1, stable
          // under evicting only OLD entries), no extra state field needed
          val kept =
            if (lateHorizonDays < 0 || seen.isEmpty) seen
            else {
              val maxEventDay = seen.max - (windowDays - 1)
              seen.filter(_ >= maxEventDay - lateHorizonDays)
            }
          state.update(SeenWindows(kept.toSeq))
          out.result().iterator
      }.toDF()
  }

  /** Drive [[rollingActiveStateful]] over a staged stream and count the
    * emitted hits per window — bit-identical to the batch operator.
    */
  def rollingActiveStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      windowDays: Int = 7,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val stream = normalizeTs(StagedStream.staged(spark, stagedDir))
    StagedStream.toMemory(rollingActiveStateful(stream, windowDays),
        OutputMode.Append(), queryName, shufflePartitions, rocksdbState)
      .groupBy(col("window_day")).agg(count(lit(1)).as("n_active"))
  }

  /** Streamed CUSUM level-shift monitor: the decimal daily totals are ONE
    * Complete-mode aggregation — additive and order-insensitive, so the
    * accumulated frame equals the batch [[graft.ops.Behavior.dailyTotals]]
    * wherever the stream is cut — and the CUSUM scoring/argmax runs on
    * the drained (group, day) frame. The batch q204 oracle gates the
    * streamed monitor verbatim; state is bounded by groups x days.
    */
  def cusumStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      groupCols: Seq[String], valCol: String,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val daily = graft.ops.Behavior.dailyTotals(
      normalizeTs(StagedStream.staged(spark, stagedDir)), groupCols, valCol)
    graft.ops.Behavior.cusumFromDaily(
      StagedStream.toMemory(daily, OutputMode.Complete(), queryName,
        shufflePartitions, rocksdbState),
      groupCols)
  }

  /** Streamed EWMA monitor — the [[cusumStreaming]] pattern verbatim: the
    * decimal daily totals are ONE Complete-mode aggregation (additive,
    * order-insensitive, so the accumulated frame equals batch wherever
    * the stream is cut); the alpha=1/2 halving fold then runs on the
    * drained (group, day) frame, where its recursion order is the same
    * sorted order batch uses. The batch q220 oracle gates the streamed
    * monitor verbatim; state is bounded by groups x days.
    */
  def ewmaStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      groupCols: Seq[String], valCol: String,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val daily = graft.ops.Behavior.dailyTotals(
      normalizeTs(StagedStream.staged(spark, stagedDir)), groupCols, valCol)
    val drained = StagedStream.toMemory(daily, OutputMode.Complete(),
        queryName, shufflePartitions, rocksdbState)
      .select(groupCols.map(col) :+ col("d") :+
        col("x").cast("double").as("x"): _*)
    graft.ops.Profile.ewmaHalf(drained, groupCols, "d", "x")
  }

  /** Streamed two-sample KS monitor — the [[cusumStreaming]] pattern over
    * [[graft.ops.Profile.ksSideCounts]]: per-(group, value) side counts
    * are additive, so the Complete-mode frame equals batch under any cut
    * and the ECDF-gap scan runs once on the drained counts. q230's
    * oracle gates the streamed monitor verbatim; state is bounded by
    * groups x distinct values (the same bound the batch window pays).
    * `prep` applies any pre-aggregation derivation (e.g. a cohort
    * column) to the raw stream.
    */
  def ksDriftStreaming(
      spark: SparkSession, stagedDir: String, queryName: String,
      groupCols: Seq[String], sideCol: String, valCol: String,
      sideA: String, sideB: String,
      prep: DataFrame => DataFrame = identity,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    val stream = prep(normalizeTs(StagedStream.staged(spark, stagedDir)))
    val counts = graft.ops.Profile.ksSideCounts(
      stream, groupCols, sideCol, valCol, sideA, sideB)
    graft.ops.Profile.ksFromCounts(
      StagedStream.toMemory(counts, OutputMode.Complete(), queryName,
        shufflePartitions, rocksdbState),
      groupCols)
  }

  // NOTE: these must be public — Catalyst's generated (de)serializer code
  // cannot access private nested case classes.
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  /** Narrow input row for [[transitionsStateful]] (epoch micros, no payload). */
  case class EvLite(event_id: Long, ts_us: Long, user_id: Long, event_type: String)
  /** Carried last event per user for [[transitionsStateful]]. */
  case class LastEv(ts: Long, event_id: Long, event_type: String)
  /** Per-(user, batch) transition partial count. */
  case class TransCount(prev_type: String, next_type: String, n: Long)
  /** Carried stage-reach bitmap per user for [[funnelStateful]]. */
  case class FunnelReach(reached: Seq[Boolean],
      lastTs: Long = Long.MinValue, lastId: Long = Long.MinValue)
  /** Carried counted window-days per user for [[rollingActiveStateful]]. */
  case class SeenWindows(wds: Seq[Long])
  /** One emitted first-activity-in-window hit. */
  case class WindowHit(user_id: Long, window_day: Long)
  /** One emitted in-order stage completion. */
  case class StageReach(user_id: Long, stage_idx: Int)
  /** `sumScaled` is the exact DECIMAL(_,4) sum as an unscaled long — the
    * stateful twin of the repo-wide `dsum` convention: accumulating raw
    * doubles in state would make the emitted sum depend on FP addition
    * order and break hash parity with a SQL oracle.
    */
  case class SessionState(start: Long, last: Long, n: Long, sumScaled: Long)
  /** Output row of stateful sessionization. */
  case class Session(user_id: Long, session_start: Long, n_events: Long, sum_value: Double)

  /** Per-event DECIMAL(_,4) quantization, identical to Spark's
    * `CAST(v AS DECIMAL(18,4))` (string-shortest-repr + HALF_UP).
    */
  private def scaled4(v: Double): Long =
    java.math.BigDecimal.valueOf(v).setScale(4, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  private def unscaled4ToDouble(s: Long): Double =
    java.math.BigDecimal.valueOf(s, 4).doubleValue()

  /** Stateful streaming sessionization with `flatMapGroupsWithState`:
    * sessions accumulate in per-user state; a session is emitted when a later
    * event arrives past the gap. Demonstrates the custom-state surface
    * (`KeyValueGroupedDataset`) on the same semantics as [[sessionizeBatch]].
    *
    * Ordering contract: events must arrive per-user in event-time order
    * ACROSS micro-batches (within a batch they are sorted here). Out-of-order
    * arrivals older than the open session are merged into it rather than
    * reordered — full reordering needs watermark-held buffering, which this
    * operator deliberately trades away for O(1) state per user.
    */
  def sessionizeStateful(
      events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    val typed = events.select(col("event_id").cast("long"), col("ts"),
      col("user_id").cast("long"), col("event_type"), col("value").cast("double"))
      .as[Ev]

    val sessions = typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // Accumulate events into gap-separated sessions; emit closed ones.
          val sortedEvs = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var open = state.getOption.getOrElse(Nil)
          val closed = scala.collection.mutable.ListBuffer.empty[Session]
          sortedEvs.foreach { e =>
            val t = e.ts.getTime
            open match {
              case s :: rest if t - s.last <= gapMs =>
                open = SessionState(s.start, t, s.n + 1,
                  s.sumScaled + scaled4(e.value)) :: rest
              case s :: rest =>
                closed += Session(userId, s.start / 1000, s.n,
                  unscaled4ToDouble(s.sumScaled))
                open = SessionState(t, t, 1, scaled4(e.value)) :: rest
              case Nil =>
                open = SessionState(t, t, 1, scaled4(e.value)) :: Nil
            }
          }
          state.update(open)
          closed.iterator
      }
    sessions.toDF()
  }

  /** Drive [[sessionizeStateful]] over a real file stream into a memory
    * sink (Append mode, AvailableNow). Append emits a session only when a
    * later event CLOSES it, so the result is every session except each
    * user's final (still-open) one — a deterministic, SQL-expressible
    * subset of [[sessionizeBatch]], which is exactly what makes the custom
    * stateful operator oracle-checkable.
    */
  def sessionizeStatefulStreaming(
      spark: SparkSession, eventsPath: String, queryName: String,
      gapMinutes: Int = 30,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false): DataFrame = {
    StagedStream.toMemory(
      sessionizeStateful(StagedStream.events(spark, eventsPath), gapMinutes),
      OutputMode.Append(), queryName, shufflePartitions, rocksdbState)
  }
}
