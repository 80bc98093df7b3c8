package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.NaLocfPlusOne
import graft.streaming.EventStreams

/** Event analytics over the `events` log: sessions, tumbling, sliding and
  * range windows, as-of and interval joins, funnels, retention,
  * transitions, experiment readouts, time-series monitors — each streamed
  * twin beside its batch face, sharing one oracle.
  */
object EventQueries extends Family {
  import Shared._

  /** Shared q178/q179 oracle: the HLL register frame rebuilt from the same
    * portable md5 hash — `register = h mod 64`, `rho = 55 - bitlength
    * (h div 64)` (suffix 0 ⇒ 55) — ONE string, so the batch and streamed
    * sketch faces can never assert different things (the register max is
    * order-insensitive, so streamed == batch bit-for-bit with no recount).
    */
  private val hllRegOracle: String =
    """WITH h AS (SELECT event_type,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
           FROM events WHERE user_id IS NOT NULL),
         rr AS (SELECT event_type, CAST(hv % 64 AS INT) AS register,
             CASE WHEN hv // 64 = 0 THEN 55
                  ELSE 55 - length(bin(hv // 64)) END AS rho
           FROM h)
         SELECT event_type, register, CAST(max(rho) AS INT) AS max_rho
         FROM rr GROUP BY 1, 2 ORDER BY event_type, register"""

  /** Shared by q220 (batch EWMA) and q225 (streamed monitor): the
    * recursive CTE replays the exact `(x_t + s_(t-1))/2` halving chain —
    * division by two is an exponent shift, so both engines round only the
    * per-step IEEE addition, identically.
    */
  private val ewmaOracle: String =
    """WITH RECURSIVE daily AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         o AS (SELECT event_type, d, x,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
           FROM daily),
         r AS (SELECT event_type, d, x, rn, x AS ewma FROM o WHERE rn = 1
           UNION ALL
           SELECT o.event_type, o.d, o.x, o.rn, (o.x + r.ewma) / 2
           FROM o JOIN r ON o.event_type = r.event_type AND o.rn = r.rn + 1)
         SELECT event_type, d, x, ewma FROM r ORDER BY event_type, d"""

  /** Shared by q204 (batch CUSUM) and q209 (streamed monitor — the daily
    * decimal totals are additive, so the Complete-mode frame equals batch
    * under any stream cut and one replay gates both).
    */
  private val cusumOracle: String =
    """WITH daily AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             sum(CAST(value AS DECIMAL(18,4))) AS x
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         w AS (SELECT event_type, d, x,
             sum(x) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
             sum(x) OVER (PARTITION BY event_type) AS tot,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM daily),
         sc AS (SELECT event_type, d, n,
             CAST(tot AS DOUBLE) / n AS mean,
             CAST(cum AS DOUBLE) - i * (CAST(tot AS DOUBLE) / n) AS s
           FROM w),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
             ORDER BY abs(s) DESC, d) AS rn FROM sc)
         SELECT event_type, CAST(n AS BIGINT) AS n_days, d AS change_day,
           round(s, 6) + 0 AS s_at_change, round(mean, 6) AS daily_mean
         FROM r WHERE rn = 1 ORDER BY event_type"""

  /** Shared by q201 (batch sliding-window distinct) and q206 (stateful
    * streaming twin — each (user, window) is emitted exactly once from
    * carried state, a pure dedup, so one replay gates both under any
    * batch split).
    */
  private val rollingActiveOracle: String =
    """WITH ud AS (SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d FROM events),
       w AS (SELECT DISTINCT user_id, d + i AS window_day
         FROM ud, unnest(generate_series(0, 6)) AS t(i))
       SELECT window_day, count(*) AS n_active FROM w
       GROUP BY 1 ORDER BY 1"""

  /** Shared by q189 (batch chained-window funnel) and q198 (stateful
    * streaming twin — the carried stage-reach bitmap makes streamed stage
    * counts equal the batch rule exactly, so one replay gates both).
    */
  private val funnelOracle: String =
    """WITH s0 AS (SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS q0 FROM events),
         p0 AS (SELECT *, min(q0) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp0 FROM s0),
         s1 AS (SELECT *, CASE WHEN event_type = 'view' AND pp0 IS NOT NULL
             THEN ts END AS q1 FROM p0),
         p1 AS (SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp1 FROM s1),
         s2 AS (SELECT *, CASE WHEN event_type = 'click' AND pp1 IS NOT NULL
             THEN ts END AS q2 FROM p1),
         p2 AS (SELECT *, min(q2) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp2 FROM s2),
         s3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND pp2 IS NOT NULL
             THEN ts END AS q3 FROM p2),
         u AS (SELECT user_id, min(q0) AS r0, min(q1) AS r1, min(q2) AS r2,
             min(q3) AS r3 FROM s3 GROUP BY 1),
         c AS (SELECT count(r0) AS n0, count(r1) AS n1, count(r2) AS n2,
             count(r3) AS n3 FROM u)
         SELECT * FROM (
           SELECT CAST(0 AS INT) AS stage_idx, 'signup' AS stage, n0 AS n_users,
             round(CAST(n0 AS DOUBLE) / n0, 6) AS conv_from_first,
             round(CAST(n0 AS DOUBLE) / n0, 6) AS conv_from_prev FROM c
           UNION ALL
           SELECT CAST(1 AS INT), 'view', n1,
             round(CAST(n1 AS DOUBLE) / n0, 6),
             round(CAST(n1 AS DOUBLE) / n0, 6) FROM c
           UNION ALL
           SELECT CAST(2 AS INT), 'click', n2,
             round(CAST(n2 AS DOUBLE) / n0, 6),
             round(CAST(n2 AS DOUBLE) / n1, 6) FROM c
           UNION ALL
           SELECT CAST(3 AS INT), 'purchase', n3,
             round(CAST(n3 AS DOUBLE) / n0, 6),
             round(CAST(n3 AS DOUBLE) / n2, 6) FROM c)
         ORDER BY stage_idx"""

  /** Shared by q191 (batch lag window) and q195 (stateful streaming twin —
    * the carried last-event state makes the streamed pairs exactly the
    * batch lag pairs, so one replay gates both).
    */
  private val transitionsOracle: String =
    """WITH e AS (SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type FROM events),
       c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
           FROM e WHERE prev_type IS NOT NULL GROUP BY 1, 2)
       SELECT prev_type, next_type, n,
         round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS prob
       FROM c ORDER BY prev_type, next_type"""

  val cases: Seq[Case] = Seq(

    Case("q59_asof_join", (s, d) => {
      // as-of join: each purchase matched to the user's latest at-or-before
      // click within 1h (union + running last — one shuffle, no range join)
      val ev = events(s, d)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("c_id"), col("ts"))
      graft.ops.AsOfJoin.lastPrior(purchases, clicks,
        partitionCols = Seq("user_id"), timeCol = "ts",
        refPayloadCols = Seq("c_id"), toleranceSec = Some(3600),
        lagCol = Some("lag_us"))
        .select(col("user_id"), col("p_id"), col("c_id"), col("lag_us"))
        .orderBy("user_id", "p_id")
    }, oracle = Some(
      """WITH p AS (SELECT user_id, event_id AS p_id,
             CAST(epoch_us(ts) AS BIGINT) AS pt
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, event_id AS c_id,
             CAST(epoch_us(ts) AS BIGINT) AS ct
           FROM events WHERE event_type = 'click')
         SELECT p.user_id AS user_id, p_id,
           CASE WHEN ct IS NOT NULL AND pt - ct <= 3600000000 THEN c_id END AS c_id,
           CASE WHEN ct IS NOT NULL AND pt - ct <= 3600000000 THEN pt - ct END AS lag_us
         FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ct <= p.pt
         ORDER BY p.user_id, p_id""")),

    Case("q60_stream_dedup", (s, d) => {
      // watermarked streaming dedup over a stream carrying every event
      // twice; survivors = the distinct source rows exactly
      val name = s"graft_stream_dd_${streamCounter.incrementAndGet()}"
      EventStreams.streamingDedup(s, s"$d/events.parquet", name,
        keys = Seq("event_id"), shufflePartitions = Some(8))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"), col("value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
         FROM events ORDER BY event_id""")),

    Case("q30_sessionize", (s, d) => {
      EventStreams.sessionizeBatch(events(s, d), gapMinutes = 30)
        .orderBy("user_id", "session_id")
    }, oracle = Some(
      """WITH e AS (SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
               CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
               THEN 1 ELSE 0 END AS new_session FROM e),
         g AS (SELECT user_id, event_id, ts, value,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
             FROM f)
         SELECT user_id, session_id, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_sec
         FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    Case("q31_window_tumbling", (s, d) => {
      EventStreams.tumblingWindowBatch(events(s, d), "1 hour")
        .orderBy("wstart", "event_type")
    }, oracle = Some(
      """WITH b AS (SELECT
           (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS wstart,
           event_type, value FROM events)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    Case("q55_stream_stateful_sessions", (s, d) => {
      // flatMapGroupsWithState sessionization over a real stream: Append
      // mode emits sessions when closed, so the result is sessionizeBatch
      // minus each user's final (open) session — SQL-expressible.
      // Cost note: typed-state streaming pays encoder serde + state-store
      // commits (~4x the windowed streaming agg, ~20x the batch twin q30);
      // it exists for custom-state SEMANTICS — pipelines that can express
      // their sessions as window functions should use the q30 path.
      val name = s"graft_stream_ss_${streamCounter.incrementAndGet()}"
      EventStreams.sessionizeStatefulStreaming(s, s"$d/events.parquet", name,
          shufflePartitions = Some(8))
        .orderBy("user_id", "session_start")
    }, oracle = Some(
      """WITH e AS (SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
               CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
               THEN 1 ELSE 0 END AS ns FROM e),
         g AS (SELECT user_id, ts, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             FROM f),
         sess AS (SELECT user_id, sid,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             count(*) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
           FROM g GROUP BY user_id, sid)
         SELECT user_id, session_start, n_events, sum_value FROM sess
         WHERE sid < (SELECT max(s2.sid) FROM sess s2 WHERE s2.user_id = sess.user_id)
         ORDER BY user_id, session_start""")),

    Case("q32_stream_tumbling", (s, d) => {
      val name = s"graft_stream_tw_${streamCounter.incrementAndGet()}"
      EventStreams.tumblingWindowStreaming(s, s"$d/events.parquet", name, "1 hour",
          shufflePartitions = Some(8))
        .orderBy("wstart", "event_type")
    }, oracle = Some(
      """WITH b AS (SELECT
           (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS wstart,
           event_type, value FROM events)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    Case("q43_sliding_window", (s, d) => {
      // sliding window: 2h length, 1h slide — every event lands in 2 windows
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("wstart", "event_type")
    }, oracle = Some(
      """WITH fe AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type, value
                     FROM events),
         b AS (SELECT (es - es % 3600) AS wstart, event_type, value FROM fe
               UNION ALL
               SELECT (es - es % 3600) - 3600 AS wstart, event_type, value FROM fe)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""")),

    Case("q42_session_window", (s, d) => {
      // Native gap-session operator (session_window) — batch twin of the
      // flatMapGroupsWithState sessionizer; gap semantics: diff >= gap splits.
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), unix_timestamp(col("sw.start")).as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }, oracle = Some(
      """WITH e AS (SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
             FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
               epoch(ts) - epoch(prev_ts) >= 1800 THEN 1 ELSE 0 END AS ns FROM e),
         g AS (SELECT user_id, ts, value,
             CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
             FROM f)
         SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    Case("q50_correlate", (s, d) => {
      // per-user event correlation (click -> purchase within 60 min):
      // the batch twin of the watermarked stream-stream join
      EventStreams.correlate(events(s, d), events(s, d), "click", "purchase", 60)
        .orderBy("user_id", "a_id", "b_id")
    }, oracle = Some(
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
         CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS lag_sec
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
         ORDER BY 1, 2, 3""")),

    Case("q80_session_range_join", (s, d) => {
      // points-to-containing-interval join as a bin-bucketed EQUI-join (no
      // broadcast-nested-loop); intervals renamed so the common-lineage
      // self-reference cannot alias attribute ids
      val ev = events(s, d)
      val sessions = EventStreams.sessionBounds(ev, gapMinutes = 30)
        .select(col("user_id").as("s_user_id"), col("session_id"),
          col("session_start"), col("session_end"))
      val points = ev.select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"))
      graft.ops.RangeJoin.bucketed(points, "es",
        sessions, "session_start", "session_end",
        keys = Seq("user_id" -> "s_user_id"), binSize = 3600L)
        .select(col("event_id"), col("user_id"),
          col("session_id").cast("long").as("session_id"))
        .orderBy("event_id", "session_id")
    }, oracle = Some(
      // q30's session CTE, reduced to interval bounds + a containment join
      """WITH e AS (SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
             CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS new_session FROM e),
         g AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM f),
         s AS (SELECT user_id, session_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS session_end
           FROM g GROUP BY user_id, session_id)
         SELECT ev.event_id, s.user_id, CAST(s.session_id AS BIGINT) AS session_id
         FROM (SELECT event_id, user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events) ev
         JOIN s ON ev.user_id = s.user_id
           AND ev.es BETWEEN s.session_start AND s.session_end
         ORDER BY event_id, session_id""")),

    Case("q147_stream_enrich", (s, d) => {
      // stream-static enrichment: the event stream broadcast-joins the
      // customer dimension per micro-batch (no stream shuffle, no join
      // state — the only state is the |segments|-row aggregation);
      // facts without a dimension row keep flowing as 'UNKNOWN'
      val name = s"graft_stream_enrich_${streamCounter.incrementAndGet()}"
      val dim = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      EventStreams.enrichStreaming(s, s"$d/events.parquet", dim,
          "user_id", "c_custkey", "c_mktsegment", name,
          shufflePartitions = Some(8))
        .orderBy("segment")
    }, oracle = Some(
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY 1""")),

    Case("q148_stream_distinct", (s, d) => {
      // distinct users per event type over a stream: exact countDistinct
      // is unsupported in streaming aggregation (state = the whole
      // distinct set); the KMV sketch's k-longs-per-group state streams,
      // its merge is associative, and the integer estimate hash-matches
      // the oracle's SQL rebuild of the same sketch
      val name = s"graft_stream_kmv_${streamCounter.incrementAndGet()}"
      EventStreams.distinctEstimateStreaming(s, s"$d/events.parquet",
          "event_type", "user_id", name, k = 16,
          shufflePartitions = Some(8),
          // declared bound LIVE in the battery (r16 verdict #5): state is
          // |event_type| rows of k longs — generous headroom, loud breach
          maxStateRows = 1000L)
        .orderBy("event_type")
    }, oracle = Some(
      """WITH hv AS (SELECT DISTINCT event_type,
             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv
           FROM events),
         r AS (SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
           FROM hv),
         st AS (SELECT event_type, count(*) AS nd,
             max(CASE WHEN rn = 16 THEN hv END) AS kth
           FROM r GROUP BY event_type)
         SELECT event_type,
           CAST(CASE WHEN nd < 16 THEN nd
                     ELSE (15 * 4294967296) // kth END AS BIGINT) AS n_est
         FROM st ORDER BY event_type""")),

    Case("q189_funnel", (s, d) => {
      // strictly-ordered funnel over each user's (ts, event_id) sequence:
      // one user-window pass chains the stage reach minima, the per-user
      // flags aggregate on the SAME user key (no second exchange), the
      // 4-stage summary is a 1-row frame exploded tall
      graft.ops.Behavior.funnel(events(s, d),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("stage_idx")
    }, oracle = Some(
      // streamed == batch by construction (order-insensitive counts), so
      // the q185 replay gates the streaming monitoring path verbatim
      // the same chained strictly-before window mins: an event advances a
      // stage only if the previous stage's running min over ROWS UNBOUNDED
      // PRECEDING .. 1 PRECEDING (the strict prefix in (ts, event_id) order)
      // is non-null; count(col) = count of non-null reach timestamps
      funnelOracle)),

    Case("q190_cohort_retention", (s, d) => {
      // weekly cohort x offset retention; epoch-aligned integer weeks so
      // no engine week-start convention is involved
      graft.ops.Behavior.cohortRetention(events(s, d))
        .orderBy("cohort_week", "week_offset")
    }, oracle = Some(
      """WITH wk AS (SELECT user_id AS u,
             CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS w FROM events),
         m AS (SELECT u, w, min(w) OVER (PARTITION BY u) AS cohort_week FROM wk),
         dd AS (SELECT DISTINCT u, cohort_week, w - cohort_week AS week_offset FROM m),
         c AS (SELECT cohort_week, week_offset, count(*) AS n_users
             FROM dd GROUP BY 1, 2),
         f AS (SELECT *, max(CASE WHEN week_offset = 0 THEN n_users END)
             OVER (PARTITION BY cohort_week) AS base FROM c)
         SELECT cohort_week, week_offset, n_users,
           round(CAST(n_users AS DOUBLE) / base, 6) AS retention
         FROM f ORDER BY cohort_week, week_offset""")),

    Case("q191_event_transitions", (s, d) => {
      // first-order Markov transition matrix of the event stream; one lag
      // window + a |types|^2-key count, probabilities exact integer ratios
      graft.ops.Behavior.transitions(events(s, d))
        .orderBy("prev_type", "next_type")
    }, oracle = Some(transitionsOracle)),

    Case("q195_stream_transitions", (s, d) => {
      // q191 with the log ARRIVING as an event-id-sliced stream: the
      // carried last-event-per-user state (O(users), one record each)
      // splices sequences across micro-batches, so the emitted pairs are
      // exactly the batch lag pairs and q191's oracle gates this verbatim
      import graft.streaming.CorpusStreams
      // one mid-log cut: two micro-batches are exactly what exercises the
      // cross-batch state splice; more slices only re-pay staging writes
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_trans_${streamCounter.incrementAndGet()}"
      EventStreams.transitionsStatefulStreaming(s, staged, name,
          shufflePartitions = Some(4))
        .orderBy("prev_type", "next_type")
    }, oracle = Some(transitionsOracle)),

    Case("q201_rolling_active", (s, d) => {
      // sliding 7-day distinct users per day: distinct (user, day) frame
      // explodes into the 7 windows it serves — never a range self-join
      graft.ops.Behavior.rollingActive(events(s, d), windowDays = 7)
        .orderBy("window_day")
    }, oracle = Some(rollingActiveOracle)),

    Case("q209_stream_cusum", (s, d) => {
      // q204 with the log ARRIVING as a stream: daily decimal totals are
      // additive, so the Complete-mode frame — and the CUSUM peak over
      // it — is bit-identical to batch wherever the stream is cut
      import graft.streaming.CorpusStreams
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_cusum_${streamCounter.incrementAndGet()}"
      EventStreams.cusumStreaming(s, staged, name,
          Seq("event_type"), "value", shufflePartitions = Some(4))
        .orderBy("event_type")
    }, oracle = Some(cusumOracle)),

    Case("q210_interpolate_gaps", (s, d) => {
      // linear-interpolation gap fill (the LOCF flagship's time-series
      // sibling): daily decimal totals thinned to a deterministic sparse
      // pattern (day % 3 == 0), re-gridded over each type's full day
      // range, nulls interpolated between neighbors — two ignore-nulls
      // windows on one group exchange
      val daily = graft.ops.Behavior.dailyTotals(events(s, d),
          Seq("event_type"), "value")
        .select(col("event_type"), col("d"), col("x").cast("double").as("v"))
      val sparse = daily.where(col("d") % 3 === 0)
      val grid = daily.groupBy(col("event_type"))
        .agg(min(col("d")).as("__lo"), max(col("d")).as("__hi"))
        .select(col("event_type"),
          explode(sequence(col("__lo"), col("__hi"))).as("d"))
      graft.ops.NaLocfPlusOne.interpolateByGroup(
          grid.join(sparse, Seq("event_type", "d"), "left"),
          Seq("event_type"), "d", "v")
        .select(col("event_type"), col("d"), col("filled"))
        .orderBy("event_type", "d")
    }, oracle = Some(
      // same sparse pattern, same grid, the same neighbor windows (IGNORE
      // NULLS running last / reversed first) and one fixed interp tree
      """WITH daily AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         sparse AS (SELECT * FROM daily WHERE d % 3 = 0),
         bounds AS (SELECT event_type, min(d) AS lo, max(d) AS hi
           FROM daily GROUP BY 1),
         grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS d
           FROM bounds),
         sp AS (SELECT g.event_type, g.d, s.v
           FROM grid g LEFT JOIN sparse s USING (event_type, d)),
         w AS (SELECT event_type, d, v,
             last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS po,
             last_value(v IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
             first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS no,
             first_value(v IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
           FROM sp)
         SELECT event_type, d, round(CASE
             WHEN v IS NOT NULL THEN v
             WHEN pv IS NULL AND nv IS NULL THEN NULL
             WHEN pv IS NULL THEN nv
             WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * CAST(d - po AS DOUBLE) /
               CAST(no - po AS DOUBLE) END, 6) AS filled
         FROM w ORDER BY event_type, d""")),

    Case("q215_top_paths", (s, d) => {
      // most common first-3-event-type sequences: one user window
      // truncated to 3 rows/user, a fixed conditional pivot, a tiny count
      graft.ops.Behavior.topPaths(events(s, d), k = 3, topK = 10)
    }, oracle = Some(
      """WITH r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS rn FROM events),
         p AS (SELECT user_id,
             max(CASE WHEN rn = 1 THEN event_type END) AS p1,
             max(CASE WHEN rn = 2 THEN event_type END) AS p2,
             max(CASE WHEN rn = 3 THEN event_type END) AS p3
           FROM r WHERE rn <= 3 GROUP BY 1),
         c AS (SELECT concat_ws(' > ', p1, p2, p3) AS path, count(*) AS n
           FROM p GROUP BY 1)
         SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""")),

    Case("q218_session_funnel", (s, d) => {
      // the q189 funnel scoped to SESSIONS: stages must complete in order
      // within one gap session — the composite (user, session) key drives
      // the same chained-window machinery; counts are sessions, not users
      val withSess = graft.streaming.EventStreams
        .sessionKeyed(events(s, d), gapMinutes = 30)
      graft.ops.Behavior.funnel(withSess,
          Seq("view", "click", "purchase"), userCol = "session_key")
        .orderBy("stage_idx")
    }, oracle = Some(
      // q30's session CTE builds the composite key; then the q189 chain
      // partitioned by it, with session counts in the tall summary
      """WITH e0 AS (SELECT user_id, event_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f0 AS (SELECT *, CASE WHEN prev_ts IS NULL OR
             CAST(floor(epoch(ts)) AS BIGINT) -
               CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS ns FROM e0),
         g0 AS (SELECT *, concat(user_id, '#', CAST(sum(ns) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
               AS sk FROM f0),
         s0 AS (SELECT sk, event_id, ts, event_type,
             CASE WHEN event_type = 'view' THEN ts END AS q0 FROM g0),
         p0 AS (SELECT *, min(q0) OVER (PARTITION BY sk ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp0 FROM s0),
         s1 AS (SELECT *, CASE WHEN event_type = 'click' AND pp0 IS NOT NULL
             THEN ts END AS q1 FROM p0),
         p1 AS (SELECT *, min(q1) OVER (PARTITION BY sk ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp1 FROM s1),
         s2 AS (SELECT *, CASE WHEN event_type = 'purchase' AND pp1 IS NOT NULL
             THEN ts END AS q2 FROM p1),
         u AS (SELECT sk, min(q0) AS r0, min(q1) AS r1, min(q2) AS r2
           FROM s2 GROUP BY 1),
         c AS (SELECT count(r0) AS n0, count(r1) AS n1, count(r2) AS n2 FROM u)
         SELECT * FROM (
           SELECT CAST(0 AS INT) AS stage_idx, 'view' AS stage, n0 AS n_users,
             round(CAST(n0 AS DOUBLE) / n0, 6) AS conv_from_first,
             round(CAST(n0 AS DOUBLE) / n0, 6) AS conv_from_prev FROM c
           UNION ALL
           SELECT CAST(1 AS INT), 'click', n1,
             round(CAST(n1 AS DOUBLE) / n0, 6),
             round(CAST(n1 AS DOUBLE) / n0, 6) FROM c
           UNION ALL
           SELECT CAST(2 AS INT), 'purchase', n2,
             round(CAST(n2 AS DOUBLE) / n0, 6),
             round(CAST(n2 AS DOUBLE) / n1, 6) FROM c)
         ORDER BY stage_idx""")),

    Case("q220_ewma_smooth", (s, d) => {
      // alpha=1/2 EWMA per event type over the decimal-exact daily
      // totals: halving is an exponent shift, so the recursion's only
      // rounding is one IEEE add per step — bit-reproducible in any
      // engine that replays the same fold order
      val daily = graft.ops.Behavior.dailyTotals(events(s, d),
          Seq("event_type"), "value")
        .select(col("event_type"), col("d"), col("x").cast("double").as("x"))
      graft.ops.Profile.ewmaHalf(daily, Seq("event_type"), "d", "x")
        .orderBy("event_type", "d")
    }, oracle = Some(ewmaOracle)),

    Case("q221_weekday_residuals", (s, d) => {
      // day-of-week seasonal screen: count-scaled residual against the
      // same-weekday baseline (n_wd*x - sum_wd, exact decimal — no mean
      // division), one broadcast stat join on the tiny daily frame
      val daily = graft.ops.Behavior.dailyTotals(events(s, d),
          Seq("event_type"), "value")
        .select(col("event_type"), col("d").as("day"),
          col("x").cast("double").as("x"))
      graft.ops.Profile.weekdayResiduals(daily, Seq("event_type"), "day", "x")
        .orderBy("event_type", "day")
    }, oracle = Some(
      // count-scaled weekday residual: n_wd*x - sum_wd stays exact decimal
      // (no mean division), epoch day 0 is a Thursday hence the +4 shift
      """WITH daily AS (SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
             sum(CAST(value AS DECIMAL(18,4))) AS xdec
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         p AS (SELECT event_type, day, CAST(xdec AS DOUBLE) AS x, xdec,
             (day + 4) % 7 AS wd FROM daily),
         b AS (SELECT event_type, wd, count(*) AS n_wd, sum(xdec) AS swd
           FROM p GROUP BY 1, 2)
         SELECT p.event_type, p.day, p.x, p.wd, b.n_wd,
           CAST(b.n_wd * p.xdec - b.swd AS DOUBLE) AS scaled_resid
         FROM p JOIN b USING (event_type, wd) ORDER BY event_type, day""")),

    Case("q225_stream_ewma", (s, d) => {
      // q220 with the log ARRIVING as a stream: daily decimal totals are
      // additive (Complete mode == batch under any cut), the halving fold
      // runs on the drained frame in the same sorted order — q220's
      // oracle gates the streamed monitor verbatim
      import graft.streaming.CorpusStreams
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_ewma_${streamCounter.incrementAndGet()}"
      EventStreams.ewmaStreaming(s, staged, name,
          Seq("event_type"), "value", shufflePartitions = Some(4))
        .orderBy("event_type", "d")
    }, oracle = Some(
      // q220's recursion replayed verbatim: streamed daily totals are
      // additive, so Complete mode == batch under any cut (the q204/q209
      // single-oracle convention)
      ewmaOracle)),

    Case("q233_ab_cuped", (s, d) => {
      // variance-reduced experiment readout: pre-period value sums as the
      // CUPED covariate (cutoff = Jan 16), pooled theta from exact
      // decimal moments, per-variant raw vs adjusted means side by side
      graft.ops.Behavior.abTestCuped(
        events(s, d).withColumn("variant", pmod(col("user_id"), lit(2))),
        "variant", "value", cutoffEpoch = 1705363200L)
    }, oracle = Some(
      // CUPED replay: exact decimal per-user sums and pooled moments, one
      // double tree for theta/xbar, rounded per-user adjustments summed as
      // decimals, two-row pivot by variant order
      """WITH pu AS (SELECT user_id % 2 AS variant, user_id,
             sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) < 1705363200
                 THEN CAST(value AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS x,
             sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) >= 1705363200
                 THEN CAST(value AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS y
           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(x * x AS DECIMAL(38,8))) AS sxx,
             sum(CAST(x * y AS DECIMAL(38,8))) AS sxy
           FROM pu),
         s AS (SELECT CASE WHEN n * CAST(sxx AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0 THEN 0.0
               ELSE (n * CAST(sxy AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                 (n * CAST(sxx AS DOUBLE) -
                 CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END AS theta,
             CAST(sx AS DOUBLE) / n AS xbar FROM m),
         adj AS (SELECT variant, x, y,
             round(CAST(y AS DOUBLE) -
               s.theta * (CAST(x AS DOUBLE) - s.xbar), 6) AS yadj
           FROM pu CROSS JOIN s),
         v AS (SELECT variant, count(*) AS nu,
             round(CAST(sum(y) AS DOUBLE) / count(*), 6) + 0 AS mean_y,
             round(CAST(sum(CAST(yadj AS DECIMAL(18,6))) AS DOUBLE)
               / count(*), 6) + 0 AS mean_adj
           FROM adj GROUP BY 1),
         o AS (SELECT v.*, row_number() OVER (ORDER BY variant) AS rn FROM v)
         SELECT
           max(CASE WHEN rn = 1 THEN CAST(variant AS VARCHAR) END) AS variant_a,
           max(CASE WHEN rn = 1 THEN nu END) AS n_a,
           max(CASE WHEN rn = 1 THEN mean_y END) AS mean_y_a,
           max(CASE WHEN rn = 1 THEN mean_adj END) AS mean_adj_a,
           max(CASE WHEN rn = 2 THEN CAST(variant AS VARCHAR) END) AS variant_b,
           max(CASE WHEN rn = 2 THEN nu END) AS n_b,
           max(CASE WHEN rn = 2 THEN mean_y END) AS mean_y_b,
           max(CASE WHEN rn = 2 THEN mean_adj END) AS mean_adj_b,
           (SELECT round(theta, 6) + 0 FROM s) AS theta
         FROM o""")),

    Case("q214_ab_test", (s, d) => {
      // experiment readout: user_id-parity variants, conversion = a
      // high-value purchase (rare enough that neither side saturates),
      // exact counts + one fixed double tree for the two-proportion z
      graft.ops.Behavior.abTest(
        events(s, d).withColumn("variant",
          when(col("user_id") % 2 === 0, "control").otherwise("treatment")),
        "variant",
        conversion = col("event_type") === "purchase" && col("value") >= 48.0)
    }, oracle = Some(
      // per-user conversion flags, per-variant counts, the identical pooled
      // two-proportion z tree over the exact integers
      """WITH pu AS (SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS v,
             max(CASE WHEN event_type = 'purchase' AND value >= 48.0
               THEN 1 ELSE 0 END) AS c
           FROM events GROUP BY 1, 2),
         bv AS (SELECT v, count(*) AS n, CAST(sum(c) AS BIGINT) AS k
           FROM pu GROUP BY 1),
         w AS (SELECT
             max(CASE WHEN v = 'control' THEN v END) AS variant_a,
             max(CASE WHEN v = 'control' THEN n END) AS n_a,
             max(CASE WHEN v = 'control' THEN k END) AS conv_a,
             max(CASE WHEN v = 'treatment' THEN v END) AS variant_b,
             max(CASE WHEN v = 'treatment' THEN n END) AS n_b,
             max(CASE WHEN v = 'treatment' THEN k END) AS conv_b
           FROM bv),
         t AS (SELECT *, CAST(conv_a AS DOUBLE) / n_a AS pa,
             CAST(conv_b AS DOUBLE) / n_b AS pb,
             CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pp
           FROM w)
         SELECT variant_a, n_a, conv_a, round(pa, 6) AS p_a,
           variant_b, n_b, conv_b, round(pb, 6) AS p_b,
           round(pa - pb, 6) + 0 AS p_diff,
           CASE WHEN pp * (1.0 - pp) = 0 THEN NULL
             ELSE round((pa - pb) / sqrt(pp * (1.0 - pp) *
               (1.0 / n_a + 1.0 / n_b)), 6) + 0 END AS z_score
         FROM t""")),

    Case("q213_bounce_rate", (s, d) => {
      // daily single-event-session share over the q30 gap sessions; exact
      // integer ratios, one aggregation over the (user, session) frame
      graft.ops.Behavior.bounceRate(events(s, d), gapMinutes = 30)
        .orderBy("day")
    }, oracle = Some(
      // q30's session CTE aggregated to (session, n, start day), then the
      // exact daily bounce ratio
      """WITH e AS (SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
             CAST(floor(epoch(ts)) AS BIGINT) -
               CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS ns FROM e),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
         sess AS (SELECT user_id, sid, count(*) AS n,
             CAST(floor(epoch(min(ts))) AS BIGINT) // 86400 AS day
           FROM g GROUP BY 1, 2),
         agg AS (SELECT day, count(*) AS n_sessions,
             count(CASE WHEN n = 1 THEN 1 END) AS n_bounce
           FROM sess GROUP BY 1)
         SELECT day, n_sessions, n_bounce,
           round(CAST(n_bounce AS DOUBLE) / n_sessions, 6) AS bounce_rate
         FROM agg ORDER BY day""")),

    Case("q211_funnel_latency", (s, d) => {
      // stage-to-stage conversion latency over the q189 reach-time pass:
      // decimal-exact means, interpolated medians, one user exchange
      graft.ops.Behavior.funnelLatency(events(s, d),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("from_stage", "to_stage")
    }, oracle = Some(
      // the q189 chain, then per-transition duration branches with the
      // decimal mean and quantile_cont median (the q37 convention)
      """WITH s0 AS (SELECT user_id, event_id, ts, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS q0 FROM events),
         p0 AS (SELECT *, min(q0) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp0 FROM s0),
         s1 AS (SELECT *, CASE WHEN event_type = 'view' AND pp0 IS NOT NULL
             THEN ts END AS q1 FROM p0),
         p1 AS (SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp1 FROM s1),
         s2 AS (SELECT *, CASE WHEN event_type = 'click' AND pp1 IS NOT NULL
             THEN ts END AS q2 FROM p1),
         p2 AS (SELECT *, min(q2) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pp2 FROM s2),
         s3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND pp2 IS NOT NULL
             THEN ts END AS q3 FROM p2),
         u AS (SELECT user_id, min(q0) AS r0, min(q1) AS r1, min(q2) AS r2,
             min(q3) AS r3 FROM s3 GROUP BY 1),
         d AS (
           SELECT 'signup' AS from_stage, 'view' AS to_stage,
             CAST(floor(epoch(r1)) AS BIGINT) - CAST(floor(epoch(r0)) AS BIGINT) AS dur
           FROM u WHERE r1 IS NOT NULL
           UNION ALL
           SELECT 'view', 'click',
             CAST(floor(epoch(r2)) AS BIGINT) - CAST(floor(epoch(r1)) AS BIGINT)
           FROM u WHERE r2 IS NOT NULL
           UNION ALL
           SELECT 'click', 'purchase',
             CAST(floor(epoch(r3)) AS BIGINT) - CAST(floor(epoch(r2)) AS BIGINT)
           FROM u WHERE r3 IS NOT NULL)
         SELECT from_stage, to_stage, count(*) AS n_users,
           round(CAST(sum(CAST(dur AS DECIMAL(18,0))) AS DOUBLE) / count(*), 6)
             AS mean_sec,
           round(quantile_cont(dur, 0.5), 6) AS p50_sec
         FROM d GROUP BY 1, 2 ORDER BY from_stage, to_stage""")),

    Case("q212_rate_anomalies", (s, d) => {
      // bot screen: users with a superhuman single-minute burst; one
      // (user, minute) aggregation, struct-max peak, no event-level window
      graft.ops.Behavior.rateAnomalies(events(s, d), threshold = 1)
        .orderBy("user_id")
    }, oracle = Some(
      """WITH m AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY n DESC, minute) AS rn FROM m)
         SELECT user_id, minute AS peak_minute, n AS n_peak
         FROM r WHERE rn = 1 AND n > 1 ORDER BY user_id""")),

    Case("q205_session_lift", (s, d) => {
      // market-basket lift between event types over behavioral sessions:
      // per-session self-join on the distinct (session, type) frame
      // (<= |types| rows each), type totals broadcast, exact ratios
      graft.ops.Behavior.sessionLift(events(s, d), gapMinutes = 30)
        .orderBy("type_a", "type_b")
    }, oracle = Some(
      // the q30 session CTE -> distinct (session, type) -> pair join; lift
      // as the same exact integer ratio, rounded once
      """WITH e AS (SELECT user_id, event_id, ts, event_type,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
             CAST(floor(epoch(ts)) AS BIGINT) -
               CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
             THEN 1 ELSE 0 END AS ns FROM e),
         g AS (SELECT *, sum(ns) OVER (PARTITION BY user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
         st AS (SELECT DISTINCT user_id, sid, event_type FROM g),
         tot AS (SELECT count(*) AS n FROM
           (SELECT DISTINCT user_id, sid FROM st)),
         tc AS (SELECT event_type, count(*) AS nt FROM st GROUP BY 1),
         pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_ab
           FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
             AND a.event_type < b.event_type
           GROUP BY 1, 2)
         SELECT type_a, type_b, n_ab,
           round(CAST(n_ab AS DOUBLE) * tot.n / (ta.nt * tb.nt), 6) AS lift
         FROM pr JOIN tc ta ON ta.event_type = type_a
                 JOIN tc tb ON tb.event_type = type_b, tot
         ORDER BY type_a, type_b""")),

    Case("q206_stream_rolling_active", (s, d) => {
      // q201 with the log ARRIVING as a stream: per-user seen-window state
      // emits each (user, window) once — pure dedup semantics, no arrival
      // -order contract, so q201's oracle gates any batch split verbatim
      import graft.streaming.CorpusStreams
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_wau_${streamCounter.incrementAndGet()}"
      EventStreams.rollingActiveStreaming(s, staged, name, windowDays = 7,
          shufflePartitions = Some(4))
        .orderBy("window_day")
    }, oracle = Some(rollingActiveOracle)),

    Case("q204_cusum_changepoint", (s, d) => {
      // level-shift detection per event type: decimal-exact daily totals,
      // CUSUM peak with a deterministic argmax; the windows run on the
      // (type, day) frame, never on events
      graft.ops.Behavior.cusumChangePoint(events(s, d),
          Seq("event_type"), "value")
        .orderBy("event_type")
    }, oracle = Some(
      // decimal daily sums + decimal running cumulative; S from the exact
      // pieces in one double expression; argmax replayed with the same
      // (|S| desc, day) ordering
      cusumOracle)),

    Case("q196_mad_outliers", (s, d) => {
      // robust median/MAD outlier screen per event type: three bounded
      // group aggregations, broadcast stat joins, 3-sigma-equivalent cut
      graft.ops.Behavior.madOutliers(events(s, d), Seq("event_type"), "value")
        .orderBy("event_type")
    }, oracle = Some(
      // three-pass replay: quantile_cont median, MAD over absolute
      // deviations, then the 3-sigma-equivalent robust cut — percentile and
      // quantile_cont share the interpolated convention (the q37 precedent)
      """WITH e AS (SELECT event_type, value FROM events
           WHERE value IS NOT NULL),
         med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           FROM e GROUP BY 1),
         dev AS (SELECT e.event_type, e.value, m.med,
             abs(e.value - m.med) AS ad
           FROM e JOIN med m USING (event_type)),
         mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
           FROM dev GROUP BY 1),
         sc AS (SELECT d.event_type, d.ad, d.med, m2.mad
           FROM dev d JOIN mad m2 USING (event_type))
         SELECT event_type, count(*) AS n, round(max(med), 6) AS median,
           round(max(mad), 6) AS mad,
           count(CASE WHEN ad > 3.0 * 1.4826 * mad THEN 1 END) AS n_outliers
         FROM sc GROUP BY event_type ORDER BY event_type""")),

    Case("q197_interval_overlap", (s, d) => {
      // interval x interval overlap as a bin-bucketed EQUI-join, each pair
      // emitted once in its intersection's first bin (no pair-explosion
      // distinct): where do a user's view sessions overlap click sessions
      val ev = events(s, d)
      def bounds(typ: String, p: String) =
        EventStreams.sessionBounds(ev.where(col("event_type") === typ),
            gapMinutes = 480)
          .select(col("user_id").as(s"${p}_user"),
            col("session_id").cast("long").as(s"${p}_sid"),
            col("session_start").as(s"${p}_start"),
            col("session_end").as(s"${p}_end"))
      graft.ops.RangeJoin.overlapBucketed(
          bounds("view", "v"), "v_start", "v_end",
          bounds("click", "c"), "c_start", "c_end",
          keys = Seq("v_user" -> "c_user"), binSize = 3600L)
        .select(col("v_user").as("user_id"), col("v_sid"), col("c_sid"),
          greatest(col("v_start"), col("c_start")).as("overlap_start"),
          least(col("v_end"), col("c_end")).as("overlap_end"),
          (least(col("v_end"), col("c_end")) -
            greatest(col("v_start"), col("c_start"))).as("overlap_sec"))
        .orderBy("user_id", "v_sid", "c_sid")
    }, oracle = Some(
      // per-type 480-min-gap activity sessions (the q30 session CTE shape),
      // then the inclusive-overlap join per user
      """WITH se AS (SELECT event_type, user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY event_type, user_id
               ORDER BY ts, event_id) AS prev_ts
           FROM events WHERE event_type IN ('view', 'click')),
         f AS (SELECT *, CASE WHEN prev_ts IS NULL OR
             CAST(floor(epoch(ts)) AS BIGINT) -
               CAST(floor(epoch(prev_ts)) AS BIGINT) > 28800
             THEN 1 ELSE 0 END AS ns FROM se),
         g AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY event_type, user_id
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid FROM f),
         b AS (SELECT event_type, user_id, sid,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS s_start,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS s_end
           FROM g GROUP BY 1, 2, 3)
         SELECT v.user_id AS user_id, v.sid AS v_sid, c.sid AS c_sid,
           greatest(v.s_start, c.s_start) AS overlap_start,
           least(v.s_end, c.s_end) AS overlap_end,
           least(v.s_end, c.s_end) - greatest(v.s_start, c.s_start)
             AS overlap_sec
         FROM (SELECT * FROM b WHERE event_type = 'view') v
         JOIN (SELECT * FROM b WHERE event_type = 'click') c
           ON v.user_id = c.user_id
             AND v.s_start <= c.s_end AND c.s_start <= v.s_end
         ORDER BY 1, 2, 3""")),

    Case("q198_stream_funnel", (s, d) => {
      // q189 with the log ARRIVING as a stream: the carried stage-reach
      // bitmap (O(users) state) makes streamed per-stage counts
      // bit-identical to the batch chained-window rule — q189's oracle
      // gates this verbatim
      import graft.streaming.CorpusStreams
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_funnel_${streamCounter.incrementAndGet()}"
      EventStreams.funnelStatefulStreaming(s, staged, name,
          Seq("signup", "view", "click", "purchase"),
          shufflePartitions = Some(4))
        .orderBy("stage_idx")
    }, oracle = Some(funnelOracle)),

    Case("q192_trend_ols", (s, d) => {
      // per-type OLS trend of event value over the hour index from a fixed
      // origin: exact decimal sufficient statistics, one O(groups) shuffle,
      // coefficients a fixed IEEE double tree over the exact sums
      val ev = events(s, d).select(col("event_type"),
        ((unix_timestamp(col("ts")) - lit(1704067200L)) / lit(3600L))
          .cast("long").as("hour_idx"),
        col("value"))
      graft.ops.Profile.trendOls(ev, Seq("event_type"), "hour_idx", "value")
        .orderBy("event_type")
    }, oracle = Some(
      // exact decimal sums -> double closed form, the identical expression
      // tree on both engines (see Profile.trendOls exactness contract)
      """WITH e AS (SELECT event_type,
             (CAST(floor(epoch(ts)) AS BIGINT) - 1704067200) // 3600 AS x,
             value AS y FROM events),
         g AS (SELECT event_type, count(*) AS n,
             sum(CAST(x AS DECIMAL(18,4))) AS sx,
             sum(CAST(y AS DECIMAL(18,4))) AS sy,
             sum(CAST(x AS DECIMAL(18,4)) * CAST(x AS DECIMAL(18,4))) AS sxx,
             sum(CAST(y AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS syy,
             sum(CAST(x AS DECIMAL(18,4)) * CAST(y AS DECIMAL(18,4))) AS sxy
           FROM e WHERE x IS NOT NULL AND y IS NOT NULL GROUP BY 1),
         dd AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
             CAST(sxy AS DOUBLE) AS sxyd FROM g),
         f AS (SELECT event_type, n, nd, sxd, syd,
             (nd * sxyd - sxd * syd) AS covn,
             (nd * sxxd - sxd * sxd) AS varxn,
             (nd * syyd - syd * syd) AS varyn FROM dd)
         SELECT event_type, n,
           round(covn / varxn, 6) + 0 AS slope,
           round((syd - (covn / varxn) * sxd) / nd, 6) + 0 AS intercept,
           round((covn * covn) / (varxn * varyn), 6) AS r2
         FROM f ORDER BY event_type""")),

    Case("q178_hll_registers", (s, d) => {
      // distinct users per event type as a HyperLogLog sketch: Catalyst's
      // hash partial agg IS the register merge (<= 64 integer rows per
      // (group, partition) pre-shuffle where exact countDistinct shuffles
      // every distinct user) — the oracle rebuilds the ENTIRE register
      // frame from the same portable md5, so the sketch itself sits under
      // the hash gate, not a summary of it; the float estimator over
      // these registers is spec-asserted (SketchesSpec, q167 split)
      graft.ext.Sketches.hllRegisters(
          events(s, d), Seq("event_type"), "user_id", p = 6)
        .orderBy("event_type", "register")
    }, oracle = Some(
      // the naive contains replay of the Aho-Corasick pass: a phrase hits
      // iff it is a plain substring, counted once per distinct phrase
      // ONE shared register-frame replay for both sketch faces — streamed ==
      // batch by construction (order-insensitive max), no recount needed
      hllRegOracle)),

    Case("q179_stream_hll", (s, d) => {
      // q178's sketch over a STREAM of arriving batches: register max is
      // associative + order-insensitive, so the Complete-mode streamed
      // frame is bit-identical to the batch build wherever the stream is
      // cut — q178's oracle gates this path verbatim (state = the <= 64
      // rows per group where exact streaming distinct holds every user)
      import graft.streaming.CorpusStreams
      val ev = events(s, d)
      val mid = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mid))
      val name = s"graft_stream_hll_${streamCounter.incrementAndGet()}"
      CorpusStreams.hllRegistersStreaming(s, staged, "event_type", "user_id",
          name, p = 6, shufflePartitions = Some(8),
          // declared bound live: |event_type| x 2^6 register rows
          maxStateRows = 10000L)
        .orderBy("event_type", "register")
    }, oracle = Some(hllRegOracle)),

    Case("q94_stream_correlate", (s, d) => {
      // q50's click->purchase attribution driven as a REAL watermarked
      // stream-stream join (both sides readStream); inner-join Append emits
      // every match on a finite stream, so q50's SQL oracle gates the
      // streaming path too
      val name = s"graft_stream_corr_${streamCounter.incrementAndGet()}"
      // userMod=8: a deterministic eighth of the users — the stream-stream
      // join's per-row state traffic is a cost driver, and the sliced
      // query exercises identical machinery. shufflePartitions=8 bounds the
      // other driver, the 4-stores-per-partition-per-batch fixed overhead.
      EventStreams.correlateStreaming(s, s"$d/events.parquet", name,
          "click", "purchase", withinMinutes = 60, userMod = 8L,
          shufflePartitions = Some(8))
        .orderBy("user_id", "a_id", "b_id")
    }, oracle = Some(
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
         CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS lag_sec
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'
           AND a.user_id % 8 = 0 AND b.user_id % 8 = 0
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
         ORDER BY 1, 2, 3""")),
  )
}
