package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class EventStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def ev(id: Long, minute: Long, user: Long, typ: String, v: Double) =
    (id, new Timestamp(1700000000000L + minute * 60000L), user, typ, v)

  private def events = Seq(
    ev(1, 0, 1, "click", 1.0), ev(2, 5, 1, "view", 2.0),
    ev(3, 50, 1, "click", 3.0), // >30min gap: new session for user 1
    ev(4, 0, 2, "click", 4.0), ev(5, 200, 2, "view", 5.0),
    ev(6, 210, 2, "click", 6.0))
    .toDF("event_id", "ts", "user_id", "event_type", "value")

  test("sessionizeBatch splits on the inactivity gap") {
    val out = EventStreams.sessionizeBatch(events, gapMinutes = 30)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "sum_value")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 1L, 2L, 3.0), (1L, 2L, 1L, 3.0),
      (2L, 1L, 1L, 4.0), (2L, 2L, 2L, 11.0)))
  }

  test("stateful streaming sessionization matches batch on closed sessions") {
    // Two micro-batches: events arrive in ts order per user; sessions closed
    // by a later event are emitted. The still-open final sessions stay in
    // state (append-mode semantics) — compare only the closed ones.
    // batches must respect per-user event-time order (operator contract);
    // coalesce(1) keeps each batch a single file.
    val dir = TempDirs.make("graft_sess").toString
    events.where($"event_id".isin(1, 2, 4)).coalesce(1).write.parquet(s"$dir/b1")

    val schema = events.schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/b*/")
    val q = EventStreams.sessionizeStateful(stream, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_test").start()
    q.processAllAvailable()
    events.where($"event_id".isin(3, 5, 6)).coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable()
    q.stop()

    val closed = spark.table("sess_test")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    // user 1: session (2 events, 3.0) closed by event 3;
    // user 2: session (1 event, 4.0) closed by event 5.
    assert(closed.contains((1L, 2L, 3.0)))
    assert(closed.contains((2L, 1L, 4.0)))
  }

  test("stateful streaming transitions splice sequences across micro-batches") {
    // split MID-user-sequence: user 1's click->view pair is in b1, its
    // view->click pair crosses the batch boundary (the carried state path)
    val dir = TempDirs.make("graft_trans").toString
    events.where($"event_id".isin(1, 2, 4)).coalesce(1).write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/b*/")
    val q = EventStreams.transitionsStateful(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_test").start()
    q.processAllAvailable()
    events.where($"event_id".isin(3, 5, 6)).coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("trans_test")
      .groupBy("prev_type", "next_type").agg(sum($"n").as("n"))
      .as[(String, String, Long)].collect().toSet
    val batch = graft.ops.Behavior.transitions(events)
      .select($"prev_type", $"next_type", $"n")
      .as[(String, String, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch == Set(("click", "view", 2L), ("view", "click", 2L)))
  }

  test("stateful streaming funnel: stage reach carried across batches equals batch") {
    // click -> view funnel: user 1 completes it ACROSS the batch split
    // (click in b1, view in b2 — the carried-bitmap path); user 2
    // completes within b1
    val dir = TempDirs.make("graft_funnel").toString
    events.where($"event_id".isin(1, 4, 5)).coalesce(1).write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/b*/")
    val q = EventStreams.funnelStateful(stream, Seq("click", "view"))
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_test").start()
    q.processAllAvailable()
    events.where($"event_id".isin(2, 3, 6)).coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("funnel_test")
      .groupBy("stage_idx").count()
      .as[(Int, Long)].collect().toMap
    val batch = graft.ops.Behavior.funnel(events, Seq("click", "view"))
      .select($"stage_idx", $"n_users").as[(Int, Long)].collect().toMap
    assert(streamed == batch)
    assert(batch == Map(0 -> 2L, 1 -> 2L)) // both users complete in order
  }

  test("stateful streaming rolling-active dedups (user, window) across batches") {
    // user 1 active day X in BOTH batches: the carried seen-set must not
    // double count its windows; day X+2 adds only the new windows
    val dir = TempDirs.make("graft_wau").toString
    events.where($"event_id".isin(1, 2, 4)).coalesce(1).write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/b*/")
    val q = EventStreams.rollingActiveStateful(stream, windowDays = 3)
      .writeStream.outputMode("append").format("memory")
      .queryName("wau_test").start()
    q.processAllAvailable()
    events.where($"event_id".isin(3, 5, 6)).coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("wau_test")
      .groupBy("window_day").count()
      .as[(Long, Long)].collect().toMap
    val batch = graft.ops.Behavior.rollingActive(events, windowDays = 3)
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
  }

  test("transitionsStateful fails fast when a batch regresses behind carried state") {
    // user 1's minute-50 event arrives in b1, its minute-0/5 events in b2 —
    // a violated arrival-order contract must THROW (ADVICE r10), not emit
    // silently wrong pairs that diverge from the batch oracle
    val dir = TempDirs.make("graft_trans_ooo").toString
    events.where($"event_id".isin(3, 4)).coalesce(1).write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/b*/")
    val q = EventStreams.transitionsStateful(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_ooo_test").start()
    q.processAllAvailable()
    events.where($"event_id".isin(1, 2)).coalesce(1).write.parquet(s"$dir/b2")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(10000)
    }
    q.stop()
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(c => c.isInstanceOf[IllegalStateException] &&
      c.getMessage.contains("BEFORE carried state")),
      s"expected the fail-fast IllegalStateException in ${chain(e).map(_.getClass.getSimpleName)}")
  }

  test("rollingActiveStateful evicts closed windows yet matches batch in-order; negative horizon keeps all") {
    // Three batches for user 1: day 0 -> day 40 -> day 0 REPLAYED. With a
    // 3-day horizon the day-40 batch evicts every day-0 window from state
    // (they are >3 days behind), so the beyond-horizon replay re-emits
    // them (the documented bounded-exactness trade); with a negative
    // horizon nothing is ever evicted and the replay dedups exactly.
    def run(horizon: Int, tag: String): Map[Long, Long] = {
      val dir = TempDirs.make(s"graft_wau_$tag").toString
      val far = Seq((7L, new Timestamp(1700000000000L + 40L * 86400000L), 1L, "click", 9.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      events.coalesce(1).write.parquet(s"$dir/b1")
      val stream = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/b*/")
      val q = EventStreams.rollingActiveStateful(
        stream, windowDays = 3, lateHorizonDays = horizon)
        .writeStream.outputMode("append").format("memory")
        .queryName(s"wau_ev_$tag").start()
      q.processAllAvailable()
      far.coalesce(1).write.parquet(s"$dir/b2")
      q.processAllAvailable()
      events.where($"event_id" === 1).coalesce(1).write.parquet(s"$dir/b3")
      q.processAllAvailable()
      q.stop()
      spark.table(s"wau_ev_$tag")
        .groupBy("window_day").count().as[(Long, Long)].collect().toMap
    }
    val keepAll = run(-1, "keep")
    val evicting = run(3, "ev")
    val day0 = 1700000000000L / 86400000L
    // negative horizon: exact dedup — day-0 windows counted once for user 1
    assert(keepAll(day0) == 2L, s"users 1+2 once each: $keepAll")
    // 3-day horizon: the replay after eviction re-emits user 1's windows
    assert(evicting(day0) == 3L,
      s"evicted windows must re-emit on beyond-horizon replay: $evicting")
    // in-order prefix (b1+b2 only) is batch-exact either way: the day-40
    // windows are untouched by eviction in both runs
    assert(keepAll(day0 + 40) == 1L && evicting(day0 + 40) == 1L)
  }

  test("watermark drops late data in streaming windowed aggregation") {
    val dir = TempDirs.make("graft_late").toString
    // batch 1: events up to minute 200
    events.where($"event_id" =!= 4).coalesce(1).write.parquet(s"$dir/b1")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/b*/")
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("update").format("memory")
      .queryName("late_test").start()
    q.processAllAvailable()
    // batch 2: event 4 is at minute 0 — far behind the watermark
    // (max seen 200min - 10min), so the stateful agg must drop it
    events.where($"event_id" === 4).coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable()
    val dropped = q.lastProgress.stateOperators(0).numRowsDroppedByWatermark
    q.stop()
    assert(dropped == 1L, s"expected 1 late row dropped, got $dropped")
  }

  test("correlateStreaming driver (dual readStream -> memory sink) matches the batch twin") {
    val path = sys.props.getOrElse("graft.fixture.dir", "/root/testdata/sf0.001") + "/events.parquet"
    assume(new java.io.File(path).exists(), s"fixture $path not found — skipping")
    val batch = EventStreams.correlate(
      EventStreams.normalizeTs(spark.read.parquet(path)),
      EventStreams.normalizeTs(spark.read.parquet(path)),
      "click", "purchase", 60)
      .orderBy("user_id", "a_id", "b_id").collect().toSeq
    val streamed = EventStreams.correlateStreaming(
      spark, path, "graft_spec_corr_drv", "click", "purchase", 60)
      .orderBy("user_id", "a_id", "b_id").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("stream-stream correlate matches its batch twin on the sf0.001 fixture") {
    val dir = "/root/testdata/sf0.001"
    val batchEvents = EventStreams.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    val expected = EventStreams.correlate(
      batchEvents, batchEvents, "click", "purchase", 60)
      .orderBy("user_id", "a_id", "b_id").collect().toSeq

    val stream = EventStreams.normalizeTs(
      spark.readStream.schema(spark.read.parquet(s"$dir/events.parquet").schema)
        .parquet(EventStreams.stageStreamDir(s"$dir/events.parquet")))
    val q = EventStreams.correlate(stream, stream, "click", "purchase", 60)
      .writeStream.outputMode("append").format("memory")
      .queryName("corr_test").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("corr_test")
      .orderBy("user_id", "a_id", "b_id").collect().toSeq
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("tumbling window batch/streaming parity on the sf0.001 fixture") {
    val dir = "/root/testdata/sf0.001"
    val batch = EventStreams.tumblingWindowBatch(
      EventStreams.normalizeTs(spark.read.parquet(s"$dir/events.parquet")))
      .orderBy("wstart", "event_type").collect().toSeq
    val streamed = EventStreams.tumblingWindowStreaming(
      spark, s"$dir/events.parquet", "tw_parity_test")
      .orderBy("wstart", "event_type").collect().toSeq
    assert(batch == streamed)
  }

  test("stream-static enrichment matches batch; unmatched facts keep flowing") {
    val dir = "/root/testdata/sf0.001"
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = EventStreams.enrichBatch(
      EventStreams.normalizeTs(spark.read.parquet(s"$dir/events.parquet")),
      dim, "user_id", "c_custkey", "c_mktsegment")
      .orderBy("segment").collect().toSeq
    val streamed = EventStreams.enrichStreaming(
      spark, s"$dir/events.parquet", dim,
      "user_id", "c_custkey", "c_mktsegment", "enrich_parity_test")
      .orderBy("segment").collect().toSeq
    assert(batch == streamed)
    // facts must be conserved: the segment totals sum to the event count
    val total = batch.map(_.getLong(1)).sum
    assert(total == spark.read.parquet(s"$dir/events.parquet").count())
    // a dimension with holes routes unmatched facts to UNKNOWN — and the
    // streamed totals still conserve every event
    val holes = dim.where(col("c_custkey") % 2 === 0)
    val gapped = EventStreams.enrichStreaming(
      spark, s"$dir/events.parquet", holes,
      "user_id", "c_custkey", "c_mktsegment", "enrich_gap_test")
      .orderBy("segment").collect().toSeq
    assert(gapped.exists(_.getString(0) == "UNKNOWN"))
    assert(gapped.map(_.getLong(1)).sum == total)
  }

  test("streaming KMV distinct == batch sketch estimate; exact below k") {
    val dir = "/root/testdata/sf0.001"
    val streamed = EventStreams.distinctEstimateStreaming(
      spark, s"$dir/events.parquet", "event_type", "user_id",
      "kmv_stream_test", k = 16)
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    val batch = graft.ext.Sketches.kmvDistinctCount(
      EventStreams.normalizeTs(spark.read.parquet(s"$dir/events.parquet")),
      Seq("event_type"), "user_id", k = 16, withExact = false)
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    assert(streamed == batch) // associative merge: stream == batch sketch
    // with k above the true cardinality the sketch is exact
    val exact = EventStreams.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
      .groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    val roomy = EventStreams.distinctEstimateStreaming(
      spark, s"$dir/events.parquet", "event_type", "user_id",
      "kmv_stream_roomy_test", k = 5000)
      .orderBy("event_type").as[(String, Long)].collect().toSeq
    assert(roomy == exact)
  }

  test("streaming quantile sketch == batch sketch estimates, incl. interpolation") {
    val dir = "/root/testdata/sf0.001"
    val qs = Seq(0.25, 0.5, 0.9)
    def batchDf = EventStreams.normalizeTs(
      spark.read.parquet(s"$dir/events.parquet"))
    Seq(false, true).foreach { interp =>
      val streamed = EventStreams.quantileEstimateStreaming(
        spark, s"$dir/events.parquet", "event_type", "event_id", "value",
        s"qsk_stream_test_$interp", k = 32, qs = qs, interpolate = interp)
        .orderBy("event_type", "q")
        .as[(String, Double, Long, Double)].collect().toSeq
      val batch = graft.ext.Sketches.quantileSketch(
        batchDf, Seq("event_type"), col("event_id"), "value",
        k = 32, qs = qs, interpolate = interp)
        .orderBy("event_type", "q")
        .as[(String, Double, Long, Double)].collect().toSeq
      // associative sample merge: the streamed sketch IS the batch sketch
      assert(streamed == batch, s"interpolate=$interp")
      assert(streamed.nonEmpty && streamed.forall(_._3 == 32L))
    }
  }

  test("rocksdbState=true: RocksDB-backed state, identical results, conf restored") {
    val dir = "/root/testdata/sf0.001"
    // provider choice moves state bytes, never results: RocksDB-backed
    // streaming must equal the batch twin bit for bit
    val batch = EventStreams.tumblingWindowBatch(
      EventStreams.normalizeTs(spark.read.parquet(s"$dir/events.parquet")))
      .orderBy("wstart", "event_type").collect().toSeq
    val streamed = EventStreams.tumblingWindowStreaming(
      spark, s"$dir/events.parquet", "tw_rocksdb_test",
      shufflePartitions = Some(4), rocksdbState = true)
      .orderBy("wstart", "event_type").collect().toSeq
    assert(batch == streamed)
    // the swap is scoped: neither conf leaks past the driver call
    val key = "spark.sql.streaming.stateStore.providerClass"
    assert(!spark.conf.getOption(key).contains(EventStreams.RocksDbProvider),
      "provider conf leaked out of withStatePartitions")
  }

  test("streamingDedup survivors = distinct source rows (doubled stream)") {
    val dir = TempDirs.make("graft_sd").toString
    events.coalesce(1).write.parquet(s"$dir/src")
    val out = EventStreams.streamingDedup(spark, s"$dir/src", "sd_test",
      keys = Seq("event_id"))
    assert(out.count() == events.count())
    assert(out.select("event_id").as[Long].collect().toSet ==
      events.select("event_id").as[Long].collect().toSet)
  }

  test("sessionizeStatefulStreaming emits all but each user's final session") {
    val dir = TempDirs.make("graft_ssd").toString
    events.coalesce(1).write.parquet(s"$dir/src")
    val closed = EventStreams.sessionizeStatefulStreaming(
      spark, s"$dir/src", "sss_test")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect().toSet
    // user 1: first session (2 events) closed by the 50-minute event;
    // user 2: first session (1 event) closed at minute 200; finals open
    assert(closed == Set((1L, 2L, 3.0), (2L, 1L, 4.0)))
  }
}
