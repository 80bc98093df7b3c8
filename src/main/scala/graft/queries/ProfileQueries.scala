package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.streaming.EventStreams

/** Profiling and data quality: per-column profiles, histograms and
  * quantiles (exact, sampled and sketched), count and distinct sketches,
  * expectation gates, key and privacy audits, drift tests and feature
  * statistics over the fixture tables.
  */
object ProfileQueries extends Family {
  import Shared._

  /** Shared by q230 (batch KS drift) and q237 (streamed monitor — the
    * (cohort, value) side counts are additive, so Complete mode equals
    * batch under any cut). Window sums of BIGINT promote to HUGEINT in
    * DuckDB — every emitted integer CASTs back (the q175 class).
    */
  private val ksOracle: String =
    """WITH s AS (SELECT user_id % 2 AS cohort, value AS v, event_type
           FROM events
           WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
         per AS (SELECT cohort, v,
             count(*) FILTER (WHERE event_type = 'click') AS ca,
             count(*) FILTER (WHERE event_type = 'view') AS cb
           FROM s GROUP BY 1, 2),
         c AS (SELECT cohort, v,
             sum(ca) OVER (PARTITION BY cohort ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS i,
             sum(cb) OVER (PARTITION BY cohort ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS j,
             sum(ca) OVER (PARTITION BY cohort) AS n,
             sum(cb) OVER (PARTITION BY cohort) AS m
           FROM per)
         SELECT cohort, CAST(max(n) AS BIGINT) AS n_a,
           CAST(max(m) AS BIGINT) AS n_b,
           CAST(max(abs(i * m - j * n)) AS BIGINT) AS d_scaled,
           CASE WHEN max(n) = 0 OR max(m) = 0 THEN NULL
                ELSE round(CAST(max(abs(i * m - j * n)) AS DOUBLE) /
                  (max(n) * max(m)), 6) END AS ks
         FROM c GROUP BY cohort ORDER BY cohort"""

  val cases: Seq[Case] = Seq(

    Case("q61_bottomk_sketch", (s, d) => {
      // KMV bottom-k sketch per source via the custom TypedImperativeAggregate
      // (bounded buffer, map-side combinable); exploded flat for the oracle
      val h = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      t(s, d, "documents")
        .select(col("source"), h.as("hv"))
        .groupBy(col("source"))
        .agg(graft.expressions.BottomKAgg.bottomKHashes(col("hv"), 8).as("bk"))
        .select(col("source"), posexplode(col("bk")).as(Seq("rn", "hv")))
        .select(col("source"), (col("rn") + 1).cast("long").as("rn"), col("hv"))
        .orderBy("source", "rn")
    }, oracle = Some(
      """WITH h AS (SELECT DISTINCT source,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h)
         SELECT source, CAST(rn AS BIGINT) AS rn, hv FROM r WHERE rn <= 8
         ORDER BY source, rn""")),

    Case("q62_profile", (s, d) => {
      // exact one-pass per-column profiling (nulls, distincts, min/max)
      graft.ops.Profile(t(s, d, "documents")).orderBy("column")
    }, oracle = Some(
      """WITH p AS (
           SELECT 'doc_id' AS "column", count(*) AS n_rows,
             count(*) FILTER (WHERE doc_id IS NULL) AS n_nulls,
             count(DISTINCT doc_id) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_value,
             CAST(max(doc_id) AS VARCHAR) AS max_value FROM documents
           UNION ALL
           SELECT 'text', count(*), count(*) FILTER (WHERE text IS NULL),
             count(DISTINCT text), min(text), max(text) FROM documents
           UNION ALL
           SELECT 'lang', count(*), count(*) FILTER (WHERE lang IS NULL),
             count(DISTINCT lang), min(lang), max(lang) FROM documents
           UNION ALL
           SELECT 'source', count(*), count(*) FILTER (WHERE source IS NULL),
             count(DISTINCT source), min(source), max(source) FROM documents
           UNION ALL
           SELECT 'n_chars', count(*), count(*) FILTER (WHERE n_chars IS NULL),
             count(DISTINCT n_chars), CAST(min(n_chars) AS VARCHAR),
             CAST(max(n_chars) AS VARCHAR) FROM documents)
         SELECT * FROM p ORDER BY "column"""")),

    Case("q77_histogram", (s, d) => {
      graft.ops.Profile.histogram(t(s, d, "orders"), "o_totalprice",
        width = 50000.0, maxBucket = 19)
        .withColumnRenamed("sum_value", "sum_price")
        .orderBy("bucket")
    }, oracle = Some(
      """SELECT CAST(least(greatest(floor(o_totalprice/50000.0), 0), 19) AS BIGINT) AS bucket,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY bucket ORDER BY bucket""")),

    Case("q78_quantile_trim", (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Profile.quantileTrim(docs, "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH n AS (SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         q AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
                      quantile_cont(n_tokens, 0.95) AS hi FROM n)
         SELECT doc_id, n_tokens FROM n, q
         WHERE n_tokens >= lo AND n_tokens <= hi ORDER BY doc_id""")),

    Case("q145_cms_estimate", (s, d) => {
      // Count-Min frequency estimates for probe supplier keys next to the
      // exact counts: the sketch build's partial agg IS the map-side
      // sketch (<= 4*w rows per partition pre-shuffle), the probe joins
      // the 4*w-row sketch by broadcast; integer-only so the estimate
      // itself hash-matches the oracle's SQL rebuild of the same sketch
      import graft.ext.Sketches
      val w = 1024
      // fanOut: 600k portable md5s were one scan task; the suppkey
      // partitioning also co-locates the exact-count aggregation
      val li = fanOut(s, t(s, d, "lineitem"), "l_suppkey")
      val sketch = Sketches.cmsSketch(li, "l_suppkey", w)
      val probes = t(s, d, "supplier")
        .where(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey").as("l_suppkey"))
      val exact = li.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(sketch, probes, "l_suppkey", w)
        .join(exact, Seq("l_suppkey"), "left")
        .select(col("l_suppkey"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"), col("n_est"))
        .orderBy("l_suppkey")
    }, oracle = Some(
      """WITH js AS (SELECT unnest([0, 1, 2, 3]) AS j),
         b AS (SELECT j,
             CAST(concat('0x', substring(md5(CAST(l_suppkey AS VARCHAR)),
               j * 8 + 1, 8)) AS BIGINT) % 1024 AS bucket
           FROM lineitem, js),
         sk AS (SELECT j, bucket, count(*) AS cnt FROM b GROUP BY j, bucket),
         pr AS (SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 10 = 0),
         pb AS (SELECT k, j,
             CAST(concat('0x', substring(md5(CAST(k AS VARCHAR)),
               j * 8 + 1, 8)) AS BIGINT) % 1024 AS bucket
           FROM pr, js),
         est AS (SELECT k, min(coalesce(cnt, 0)) AS n_est
           FROM pb LEFT JOIN sk USING (j, bucket) GROUP BY k),
         ex AS (SELECT l_suppkey AS k, count(*) AS n
           FROM lineitem GROUP BY l_suppkey)
         SELECT e.k AS l_suppkey, CAST(coalesce(x.n, 0) AS BIGINT) AS n_exact,
           CAST(e.n_est AS BIGINT) AS n_est
         FROM est e LEFT JOIN ex x USING (k) ORDER BY l_suppkey""")),

    Case("q154_quantile_sketch", (s, d) => {
      // per-group quantile estimates from the bounded bottom-k-by-hash
      // sample: O(k) state per group, ONE map-side-combinable aggregation
      // — the scalable stand-in for exact percentile (q37), whose state is
      // every value. The sample is a SET function of the group (merge-order
      // independent), so the ESTIMATES themselves sit under the hash
      // oracle: the SQL replays the identical k-smallest-(hash, value)
      // slice and the identical nearest-rank-lower element pick.
      graft.ext.Sketches.quantileSketch(
        t(s, d, "documents"), Seq("source"), col("doc_id"), "n_chars",
        k = 64, qs = Seq(0.25, 0.5, 0.75, 0.9))
        .orderBy("source", "q")
    }, oracle = Some(
      // bottom-k-by-hash quantile sketch replica: the k smallest
      // (md5-prefix hash, value) pairs per source are the sample; the
      // estimate is the nearest-rank-lower element sample[floor(q*(n-1))]
      // of the value-sorted sample — the exact slice + element pick the
      // engine computes, so estimates hash-match bit-for-bit
      """WITH h AS (SELECT source,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv,
             CAST(n_chars AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
         r AS (SELECT source, hv, v,
             row_number() OVER (PARTITION BY source ORDER BY hv, v) AS rn
           FROM h),
         srt AS (SELECT source, v,
             row_number() OVER (PARTITION BY source ORDER BY v) AS vr,
             count(*) OVER (PARTITION BY source) AS n
           FROM r WHERE rn <= 64),
         qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
         SELECT s.source, qs.q, CAST(s.n AS BIGINT) AS n_sample, s.v AS est
         FROM srt s CROSS JOIN qs
         WHERE s.vr = CAST(floor(qs.q * (s.n - 1)) AS INT) + 1
         ORDER BY source, q""")),

    Case("q160_quantile_interp", (s, d) => {
      // q154's sketch under the percentile/quantile_cont convention
      // (q37): linear interpolation between the two bracketing sample
      // elements at p = q*(n-1), upper index clamped. Same bounded
      // aggregation; the oracle replays the identical bracketing picks
      // and the identical IEEE double arithmetic (house 6-dp round).
      graft.ext.Sketches.quantileSketch(
        t(s, d, "documents"), Seq("source"), col("doc_id"), "n_chars",
        k = 64, qs = Seq(0.25, 0.5, 0.75, 0.9), interpolate = true)
        .orderBy("source", "q")
    }, oracle = Some(
      // q154's slice with the quantile_cont pick: both bracketing elements
      // at p = q*(n-1) joined in, linear interpolation in IEEE double with
      // the house 6-dp round; upper index clamped at n (q=1.0 / frac=0)
      """WITH h AS (SELECT source,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv,
             CAST(n_chars AS DOUBLE) AS v
           FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
         r AS (SELECT source, hv, v,
             row_number() OVER (PARTITION BY source ORDER BY hv, v) AS rn
           FROM h),
         srt AS (SELECT source, v,
             row_number() OVER (PARTITION BY source ORDER BY v) AS vr,
             count(*) OVER (PARTITION BY source) AS n
           FROM r WHERE rn <= 64),
         qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q),
         pos AS (SELECT g.source, g.n, qs.q, qs.q * (g.n - 1) AS p
           FROM (SELECT DISTINCT source, n FROM srt) g CROSS JOIN qs)
         SELECT p.source, p.q AS q, CAST(p.n AS BIGINT) AS n_sample,
           round(l.v + (p.p - floor(p.p)) * (u.v - l.v), 6) AS est
         FROM pos p
         JOIN srt l ON l.source = p.source
           AND l.vr = CAST(floor(p.p) AS INT) + 1
         JOIN srt u ON u.source = p.source
           AND u.vr = least(CAST(floor(p.p) AS INT) + 2, CAST(p.n AS INT))
         ORDER BY p.source, p.q""")),

    Case("q161_stream_quantile", (s, d) => {
      // q154's bounded quantile sketch on a STREAM (the q148 argument
      // applied to quantiles): exact streaming percentile would hold
      // every value in the state store; the bottom-k-by-hash sample is k
      // (hash, value) pairs per group with an associative merge, so the
      // streamed sample — and therefore every estimate — is bit-identical
      // to the batch sketch and sits under the same hash oracle
      val name = s"graft_stream_qsk_${streamCounter.incrementAndGet()}"
      EventStreams.quantileEstimateStreaming(s, s"$d/events.parquet",
          "event_type", "event_id", "value", name, k = 64,
          qs = Seq(0.25, 0.5, 0.75, 0.9), shufflePartitions = Some(8))
        .orderBy("event_type", "q")
    }, oracle = Some(
      // q154's sketch replica over the event stream's group/key/value —
      // streamed == batch bit-for-bit, so ONE SQL rebuild gates both
      """WITH h AS (SELECT event_type,
             CAST(concat('0x', substring(md5(CAST(event_id AS VARCHAR)), 1, 8))
               AS BIGINT) AS hv,
             CAST(value AS DOUBLE) AS v
           FROM events WHERE value IS NOT NULL AND event_id IS NOT NULL),
         r AS (SELECT event_type, hv, v,
             row_number() OVER (PARTITION BY event_type ORDER BY hv, v) AS rn
           FROM h),
         srt AS (SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS vr,
             count(*) OVER (PARTITION BY event_type) AS n
           FROM r WHERE rn <= 64),
         qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS q)
         SELECT s.event_type, qs.q, CAST(s.n AS BIGINT) AS n_sample, s.v AS est
         FROM srt s CROSS JOIN qs
         WHERE s.vr = CAST(floor(qs.q * (s.n - 1)) AS INT) + 1
         ORDER BY event_type, q""")),

    Case("q149_cms_native", (s, d) => {
      // production twin of q145: seeded-xxhash64 buckets, no per-row md5
      // string materialization — different hash family, so no SQL oracle
      // (the q138 pattern); guarantees are spec-asserted and the exact
      // audit column here still exposes any gross break
      import graft.ext.Sketches
      val w = 1024
      // same fanOut as q145 (xxhash64 is cheap, but the 2.4M-row
      // posexplode + partial agg was still one task)
      val li = fanOut(s, t(s, d, "lineitem"), "l_suppkey")
      val sketch = Sketches.cmsSketch(li, "l_suppkey", w, native = true)
      val probes = t(s, d, "supplier")
        .where(col("s_suppkey") % 10 === 0)
        .select(col("s_suppkey").as("l_suppkey"))
      val exact = li.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_exact"))
      Sketches.cmsEstimate(sketch, probes, "l_suppkey", w, native = true)
        .join(exact, Seq("l_suppkey"), "left")
        .select(col("l_suppkey"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"), col("n_est"))
        .orderBy("l_suppkey")
    }, oracle = None),

    Case("q150_correlation", (s, d) => {
      // deterministic Pearson matrix: Spark's corr() is merge-order-
      // dependent float accumulation; this routes the five raw moments
      // through exact decimal sums (products taken IN decimal) and
      // derives corr as a per-group double scalar — bit-stable across
      // partitionings and engines, one pass, one combinable agg
      // the operator emits full-precision doubles; the oracle comparison
      // rounds to 6 dp (house convention, see cosine/ratio oracles)
      // because the DECIMAL(38,8)->DOUBLE cast of the raw moments is
      // correctly rounded in Spark but not in DuckDB — an oracle-side
      // artifact at the 16th significant digit, not an engine defect
      graft.ops.Profile.correlationMatrix(t(s, d, "lineitem"),
          Seq("l_returnflag"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .withColumn("corr", round(col("corr"), 6) + lit(0.0))
        .orderBy("l_returnflag", "col_x", "col_y")
    }, oracle = Some(
      // the q126 chain minus the (non-additive) dup column: the streamed
      // card's counters are batch-additive, so the one-shot SQL is its oracle
      """WITH r AS (SELECT l_returnflag,
           CAST(l_quantity AS DECIMAL(18,4)) AS q,
           CAST(l_extendedprice AS DECIMAL(18,4)) AS e,
           CAST(l_discount AS DECIMAL(18,4)) AS dd,
           -- widen one product operand so DuckDB multiplies in hugeint
           -- (DECIMAL(37,8) result, same exact value as Spark's)
           CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS qw,
           CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS ew,
           CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS dw
         FROM lineitem),
         -- pairwise-complete: each pair's moments restricted (FILTER) to
         -- rows where BOTH its columns are non-null, mirroring the
         -- operator's per-pair conditional aggregates
         a AS (SELECT l_returnflag,
           count(*) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS n_qe,
           CAST(sum(q) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS DOUBLE) AS sx_qe,
           CAST(sum(e) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS DOUBLE) AS sy_qe,
           CAST(sum(qw * q) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS DOUBLE) AS sxx_qe,
           CAST(sum(ew * e) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS DOUBLE) AS syy_qe,
           CAST(sum(qw * e) FILTER (WHERE q IS NOT NULL AND e IS NOT NULL) AS DOUBLE) AS sxy_qe,
           count(*) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS n_qd,
           CAST(sum(q) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sx_qd,
           CAST(sum(dd) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sy_qd,
           CAST(sum(qw * q) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sxx_qd,
           CAST(sum(dw * dd) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS syy_qd,
           CAST(sum(qw * dd) FILTER (WHERE q IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sxy_qd,
           count(*) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS n_ed,
           CAST(sum(e) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sx_ed,
           CAST(sum(dd) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sy_ed,
           CAST(sum(ew * e) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sxx_ed,
           CAST(sum(dw * dd) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS syy_ed,
           CAST(sum(ew * dd) FILTER (WHERE e IS NOT NULL AND dd IS NOT NULL) AS DOUBLE) AS sxy_ed
         FROM r GROUP BY l_returnflag)
         SELECT l_returnflag, col_x, col_y, n, round(corr, 6) + 0 AS corr FROM (
           SELECT l_returnflag, 'l_quantity' AS col_x, 'l_extendedprice' AS col_y, n_qe AS n,
             CASE WHEN sqrt((CAST(n_qe AS DOUBLE) * sxx_qe - sx_qe * sx_qe) *
                            (CAST(n_qe AS DOUBLE) * syy_qe - sy_qe * sy_qe)) > 0
               THEN (CAST(n_qe AS DOUBLE) * sxy_qe - sx_qe * sy_qe) /
                 sqrt((CAST(n_qe AS DOUBLE) * sxx_qe - sx_qe * sx_qe) *
                            (CAST(n_qe AS DOUBLE) * syy_qe - sy_qe * sy_qe)) END AS corr
           FROM a
           UNION ALL
           SELECT l_returnflag, 'l_quantity', 'l_discount', n_qd,
             CASE WHEN sqrt((CAST(n_qd AS DOUBLE) * sxx_qd - sx_qd * sx_qd) *
                            (CAST(n_qd AS DOUBLE) * syy_qd - sy_qd * sy_qd)) > 0
               THEN (CAST(n_qd AS DOUBLE) * sxy_qd - sx_qd * sy_qd) /
                 sqrt((CAST(n_qd AS DOUBLE) * sxx_qd - sx_qd * sx_qd) *
                            (CAST(n_qd AS DOUBLE) * syy_qd - sy_qd * sy_qd)) END
           FROM a
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', 'l_discount', n_ed,
             CASE WHEN sqrt((CAST(n_ed AS DOUBLE) * sxx_ed - sx_ed * sx_ed) *
                            (CAST(n_ed AS DOUBLE) * syy_ed - sy_ed * sy_ed)) > 0
               THEN (CAST(n_ed AS DOUBLE) * sxy_ed - sx_ed * sy_ed) /
                 sqrt((CAST(n_ed AS DOUBLE) * sxx_ed - sx_ed * sx_ed) *
                            (CAST(n_ed AS DOUBLE) * syy_ed - sy_ed * sy_ed)) END
           FROM a)
         ORDER BY l_returnflag, col_x, col_y""")),

    Case("q200_kmv_overlap", (s, d) => {
      // cross-corpus overlap estimate from two O(k) bottom-k sketches:
      // "how much of slice B is already in slice A" without a join of the
      // corpora; estimates exact below k distinct values, md5-portable
      val docs = t(s, d, "documents")
      graft.ext.Sketches.kmvOverlap(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", k = 64)
    }, oracle = Some(
      // full KMV replay: per-side bottom-64 of the md5 32-bit prefix,
      // union sketch re-ranked, the q130 (k-1)*2^32 div kth estimator,
      // jaccard = shared fraction of the union sketch (rounded BEFORE the
      // intersection product, as the engine computes it)
      """WITH ha AS (SELECT DISTINCT
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS hv
           FROM documents WHERE doc_id % 2 = 0),
         hb AS (SELECT DISTINCT
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS hv
           FROM documents WHERE doc_id % 2 = 1),
         sa AS (SELECT hv FROM
           (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM ha)
           WHERE rn <= 64),
         sb AS (SELECT hv FROM
           (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hb)
           WHERE rn <= 64),
         sm AS (SELECT hv, rn FROM
           (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM
             (SELECT hv FROM sa UNION SELECT hv FROM sb))
           WHERE rn <= 64),
         st AS (SELECT
           (SELECT count(*) FROM sa) AS na,
           (SELECT count(*) FROM sb) AS nb,
           (SELECT count(*) FROM sm) AS msz,
           (SELECT max(CASE WHEN rn = 64 THEN hv END) FROM sm) AS kth,
           (SELECT count(*) FROM sm WHERE hv IN (SELECT hv FROM sa)
              AND hv IN (SELECT hv FROM sb)) AS shared)
         SELECT CAST(na AS BIGINT) AS n_a_sample, CAST(nb AS BIGINT) AS n_b_sample,
           CAST(CASE WHEN msz < 64 THEN msz
                ELSE (63 * 4294967296) // kth END AS BIGINT) AS union_est,
           round(CAST(shared AS DOUBLE) / msz, 6) AS jaccard_est,
           round(round(CAST(shared AS DOUBLE) / msz, 6) *
             CAST(CASE WHEN msz < 64 THEN msz
                  ELSE (63 * 4294967296) // kth END AS BIGINT), 2) AS inter_est
         FROM st""")),

    Case("q202_quantile_bins", (s, d) => {
      // exact equal-frequency deciles of document length per language:
      // rank-based ntile with a deterministic tie-break, one exchange
      graft.ops.Profile.quantileBins(t(s, d, "documents"),
          Seq("lang"), "n_chars", n = 10, tieCol = "doc_id")
        .orderBy("lang", "bin")
    }, oracle = Some(
      """WITH b AS (SELECT lang, n_chars,
             CAST(ntile(10) OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS INT) AS bin
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT lang, bin, count(*) AS n, min(n_chars) AS lo,
           max(n_chars) AS hi
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""")),

    Case("q217_percentile_rank", (s, d) => {
      // scale-free per-language length normalization: rank arithmetic
      // only (percent_rank, ties share a rank), one group exchange
      graft.ops.Profile.percentRankNormalize(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars")
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6)
             AS pct_rank
         FROM documents WHERE n_chars IS NOT NULL ORDER BY doc_id""")),

    Case("q277_feature_moments", (s, d) => {
      // the full per-group moment matrix (cov + corr, diagonal included)
      // in ONE fixed-buffer GramMoments pass — the q260 aggregate
      // promoted to arbitrary named feature columns: the exchange
      // carries one buffer per (group, partition) whatever the width,
      // where the q150 pair-explode path writes d(d-1)/2 structs per
      // row. Listwise-complete (documented); exact decimal sums under
      // the same hash oracle discipline as q150/q260
      graft.ops.Profile.featureMomentsMatrix(t(s, d, "lineitem"),
          Seq("l_returnflag"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("l_returnflag", "col_x", "col_y")
    }, oracle = Some(
      // exact decimal moments (one widened operand -> hugeint products,
      // the q150 trick), the identical double tree, 6-dp round + signed-
      // zero normalize; listwise-complete WHERE mirrors the engine
      raw"""WITH r AS (SELECT l_returnflag,
             CAST(l_quantity AS DECIMAL(18,4)) AS v0,
             CAST(l_extendedprice AS DECIMAL(18,4)) AS v1,
             CAST(l_discount AS DECIMAL(18,4)) AS v2,
             CAST(CAST(l_quantity AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS w0,
             CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS w1,
             CAST(CAST(l_discount AS DECIMAL(18,4)) AS DECIMAL(19,4)) AS w2
           FROM lineitem
           WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             AND l_discount IS NOT NULL),
         g AS (SELECT l_returnflag, count(*) AS n,
             sum(v0) AS sx0, sum(v1) AS sx1, sum(v2) AS sx2,
             sum(w0 * v0) AS s00, sum(w0 * v1) AS s01, sum(w0 * v2) AS s02,
             sum(w1 * v1) AS s11, sum(w1 * v2) AS s12, sum(w2 * v2) AS s22
           FROM r GROUP BY 1),
         p AS (
           SELECT l_returnflag, 'l_quantity' AS col_x, 'l_quantity' AS col_y,
             n, CAST(sx0 AS DOUBLE) sxd, CAST(sx0 AS DOUBLE) syd,
             CAST(s00 AS DOUBLE) sxyd, CAST(s00 AS DOUBLE) sxxd,
             CAST(s00 AS DOUBLE) syyd FROM g
           UNION ALL
           SELECT l_returnflag, 'l_quantity', 'l_extendedprice',
             n, CAST(sx0 AS DOUBLE), CAST(sx1 AS DOUBLE),
             CAST(s01 AS DOUBLE), CAST(s00 AS DOUBLE), CAST(s11 AS DOUBLE)
           FROM g
           UNION ALL
           SELECT l_returnflag, 'l_quantity', 'l_discount',
             n, CAST(sx0 AS DOUBLE), CAST(sx2 AS DOUBLE),
             CAST(s02 AS DOUBLE), CAST(s00 AS DOUBLE), CAST(s22 AS DOUBLE)
           FROM g
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', 'l_extendedprice',
             n, CAST(sx1 AS DOUBLE), CAST(sx1 AS DOUBLE),
             CAST(s11 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s11 AS DOUBLE)
           FROM g
           UNION ALL
           SELECT l_returnflag, 'l_extendedprice', 'l_discount',
             n, CAST(sx1 AS DOUBLE), CAST(sx2 AS DOUBLE),
             CAST(s12 AS DOUBLE), CAST(s11 AS DOUBLE), CAST(s22 AS DOUBLE)
           FROM g
           UNION ALL
           SELECT l_returnflag, 'l_discount', 'l_discount',
             n, CAST(sx2 AS DOUBLE), CAST(sx2 AS DOUBLE),
             CAST(s22 AS DOUBLE), CAST(s22 AS DOUBLE), CAST(s22 AS DOUBLE)
           FROM g)
         SELECT l_returnflag, col_x, col_y, n,
           round((CAST(n AS DOUBLE) * sxyd - sxd * syd) /
             (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0 AS cov,
           CASE WHEN sqrt((CAST(n AS DOUBLE) * sxxd - sxd * sxd) *
               (CAST(n AS DOUBLE) * syyd - syd * syd)) > 0
             THEN round((CAST(n AS DOUBLE) * sxyd - sxd * syd) /
               sqrt((CAST(n AS DOUBLE) * sxxd - sxd * sxd) *
                 (CAST(n AS DOUBLE) * syyd - syd * syd)), 6) + 0
           END AS corr
         FROM p ORDER BY l_returnflag, col_x, col_y""")),

    Case("q230_ks_drift", (s, d) => {
      // continuous-distribution drift (the chi-square test's complement):
      // exact integer KS distance between click and view value
      // distributions per user-parity cohort — rank arithmetic only, one
      // window exchange over the distinct-value frame
      graft.ops.Profile.ksDrift(
          events(s, d).withColumn("cohort", pmod(col("user_id"), lit(2))),
          Seq("cohort"), "event_type", "value", "click", "view")
        .orderBy("cohort")
    }, oracle = Some(
      // window sums of BIGINT promote to HUGEINT in DuckDB — every
      // emitted integer CASTs back (the q175 class)
      ksOracle)),

    Case("q234_gini_features", (s, d) => {
      // which metadata field predicts English content: log-free Gini
      // split gain per feature (two-class impurity is one fixed double
      // tree; per-value terms rounded then decimal-summed)
      graft.ops.Profile.giniFeatureScores(
          t(s, d, "documents")
            .withColumn("len_bucket", expr("n_chars div 500")),
          Seq("source", "len_bucket"), col("lang") === "en")
        .orderBy("feature")
    }, oracle = Some(
      // two-class Gini replay: the SAME 1 - p1^2 - p0^2 double tree, terms
      // rounded then decimal-summed; one CTE block per feature, UNION ALL
      """WITH b AS (SELECT count(*) AS n,
             count(*) FILTER (WHERE lang = 'en') AS k FROM documents),
         bg AS (SELECT n, round(1.0 -
             (CAST(k AS DOUBLE)/n)*(CAST(k AS DOUBLE)/n) -
             (CAST(n - k AS DOUBLE)/n)*(CAST(n - k AS DOUBLE)/n), 6)
             AS base FROM b),
         f1 AS (SELECT CAST(source AS VARCHAR) AS v, count(*) AS nv,
             count(*) FILTER (WHERE lang = 'en') AS n1
           FROM documents GROUP BY 1),
         t1 AS (SELECT bg.n, bg.base,
             round((CAST(nv AS DOUBLE)/bg.n) * round(1.0 -
               (CAST(n1 AS DOUBLE)/nv)*(CAST(n1 AS DOUBLE)/nv) -
               (CAST(nv - n1 AS DOUBLE)/nv)*(CAST(nv - n1 AS DOUBLE)/nv), 6),
               6) AS term
           FROM f1 CROSS JOIN bg),
         w1 AS (SELECT n, base,
             CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS weighted
           FROM t1 GROUP BY 1, 2),
         f2 AS (SELECT CAST(n_chars // 500 AS VARCHAR) AS v, count(*) AS nv,
             count(*) FILTER (WHERE lang = 'en') AS n1
           FROM documents GROUP BY 1),
         t2 AS (SELECT bg.n, bg.base,
             round((CAST(nv AS DOUBLE)/bg.n) * round(1.0 -
               (CAST(n1 AS DOUBLE)/nv)*(CAST(n1 AS DOUBLE)/nv) -
               (CAST(nv - n1 AS DOUBLE)/nv)*(CAST(nv - n1 AS DOUBLE)/nv), 6),
               6) AS term
           FROM f2 CROSS JOIN bg),
         w2 AS (SELECT n, base,
             CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS weighted
           FROM t2 GROUP BY 1, 2)
         SELECT 'source' AS feature, n, base AS base_gini,
           weighted AS weighted_gini, round(base - weighted, 6) + 0 AS gain
         FROM w1
         UNION ALL
         SELECT 'len_bucket', n, base, weighted, round(base - weighted, 6) + 0
         FROM w2
         ORDER BY feature""")),

    Case("q237_stream_ks_drift", (s, d) => {
      // q230 with the log ARRIVING as a stream: per-(cohort, value) side
      // counts are additive (Complete mode == batch under any cut); the
      // ECDF-gap scan runs on the drained counts — q230's oracle gates
      // this verbatim
      import graft.streaming.CorpusStreams
      val mx = events(s, d).agg(max(col("event_id"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mx / 2))
      val name = s"graft_stream_ks_${streamCounter.incrementAndGet()}"
      EventStreams.ksDriftStreaming(s, staged, name,
          Seq("cohort"), "event_type", "value", "click", "view",
          prep = df => df.withColumn("cohort", pmod(col("user_id"), lit(2))),
          shufflePartitions = Some(4))
        .orderBy("cohort")
    }, oracle = Some(
      // q230's replay verbatim: streamed side counts are additive, so
      // Complete mode == batch under any cut
      ksOracle)),

    Case("q238_percentile_gate", (s, d) => {
      // FineWeb-style per-source length gate: each source drops its own
      // shortest 20% (ties share a rank, so ties at the cut survive
      // together); report = survivors per source
      graft.ops.Profile.percentileGate(
          t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          Seq("source"), "n_chars", minPct = 0.2)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source")
    }, oracle = Some(
      """WITH r AS (SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT source, count(*) AS n_kept, min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
         FROM r WHERE round(pr, 6) >= 0.2
         GROUP BY source ORDER BY source""")),

    Case("q240_join_skew", (s, d) => {
      // pre-flight shuffle-join advisor: hottest order keys in lineitem
      // with exact counts and per-key skew factors vs the uniform share
      graft.ops.Profile.joinSkewReport(t(s, d, "lineitem"), "l_orderkey",
          topK = 5)
        .orderBy("rnk")
    }, oracle = Some(
      """WITH c AS (SELECT l_orderkey AS key, count(*) AS n_rows
           FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1),
         s AS (SELECT count(*) AS n_keys,
             CAST(sum(n_rows) AS BIGINT) AS total_rows FROM c),
         t AS (SELECT key, n_rows,
             CAST(row_number() OVER (ORDER BY n_rows DESC, key) AS BIGINT)
               AS rnk
           FROM c ORDER BY n_rows DESC, key LIMIT 5)
         SELECT rnk, key, n_rows, n_keys, total_rows,
           round(CAST(n_rows AS DOUBLE) * n_keys / total_rows, 6) AS skew
         FROM t CROSS JOIN s ORDER BY rnk""")),

    Case("q241_l_diversity", (s, d) => {
      // the q208 k-anonymity companion: quasi-identifier groups whose
      // sensitive attribute (an account-balance band) shows fewer than l
      // distinct values — a k-anonymous group still leaks when most
      // members share the sensitive value
      graft.ops.Expectations.lDiversityAudit(
          t(s, d, "customer").withColumn("bal_band",
            floor(col("c_acctbal") / 2000).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5)
        .orderBy("c_nationkey", "c_mktsegment")
    }, oracle = Some(
      """WITH p AS (SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band,
             count(*) AS n
           FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS n,
           count(*) AS n_sensitive
         FROM p GROUP BY 1, 2 HAVING count(*) < 5
         ORDER BY c_nationkey, c_mktsegment""")),

    Case("q242_fd_violations", (s, d) => {
      // functional-dependency profiler: does o_custkey determine
      // o_orderpriority (it should not) — per violating determinant, row
      // and distinct counts, majority value, rows a repair would rewrite
      graft.ops.Expectations.fdViolations(t(s, d, "orders"),
          Seq("o_custkey"), "o_orderpriority")
        .orderBy("o_custkey")
    }, oracle = Some(
      """WITH p AS (SELECT o_custkey, o_orderpriority, count(*) AS n
           FROM orders GROUP BY 1, 2),
         v AS (SELECT o_custkey, CAST(sum(n) AS BIGINT) AS n_rows,
             count(*) AS n_rhs
           FROM p GROUP BY 1 HAVING count(*) > 1),
         m AS (SELECT o_custkey, o_orderpriority AS majority, n AS maj_n
           FROM (SELECT p.*, row_number() OVER (PARTITION BY o_custkey
               ORDER BY n DESC, o_orderpriority) AS r FROM p)
           WHERE r = 1)
         SELECT v.o_custkey, v.n_rows, v.n_rhs, m.majority,
           v.n_rows - m.maj_n AS minority_rows
         FROM v JOIN m USING (o_custkey) ORDER BY v.o_custkey""")),

    Case("q244_calibration", (s, d) => {
      // reliability curve for "length predicts English": exact rank
      // deciles (ntile, doc_id ties), per-bin positive rates — the
      // artifact a quality-classifier gate ships with its threshold
      graft.ops.Profile.calibrationReport(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"), col("lang")),
          "n_chars", col("lang") === "en", bins = 10, tieCol = "doc_id")
        .orderBy("bin")
    }, oracle = Some(
      """WITH b AS (SELECT n_chars, lang,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT bin, count(*) AS n,
           count(*) FILTER (WHERE lang = 'en') AS n_pos,
           min(n_chars) AS score_lo, max(n_chars) AS score_hi,
           round(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
             / count(*), 6) AS pos_rate
         FROM b GROUP BY bin ORDER BY bin""")),

    Case("q246_filter_agreement", (s, d) => {
      // which quality screens are redundant vs load-bearing: pairwise
      // confusion counts for three deterministic gates, all pairs from
      // ONE corpus aggregation pass
      val docs = t(s, d, "documents")
      graft.ops.Expectations.signalAgreement(docs, Seq(
          "len_ok" -> (col("n_chars") >= 500),
          "lang_en" -> (col("lang") === "en"),
          "stop_rich" -> (graft.functions.text
            .stopwordRatio(col("text")) >= 0.05)))
        .orderBy("signal_a", "signal_b")
    }, oracle = Some(
      // three deterministic gates; FILTER counts skip null signals exactly
      // like the engine's count(when(...)); agreement denominators use the
      // four counters, not count(*)
      (raw"""WITH t0 AS (SELECT n_chars, lang,
             list_distinct(list_filter(regexp_split_to_array(lower(text),
               '[^\p{L}\p{N}_]+'), x -> x <> '')) AS tk
           FROM documents),
         f AS (SELECT n_chars >= 500 AS len_ok, lang = 'en' AS lang_en,
             (CASE WHEN len(tk) = 0 THEN 0.0
                   ELSE CAST(len(list_intersect(tk, """ + swList("en") +
        raw""")) AS DOUBLE) / len(tk) END) >= 0.05 AS stop_rich
           FROM t0),
         c AS (SELECT
             count(*) FILTER (WHERE len_ok AND lang_en) AS bb0,
             count(*) FILTER (WHERE len_ok AND NOT lang_en) AS ab0,
             count(*) FILTER (WHERE NOT len_ok AND lang_en) AS ba0,
             count(*) FILTER (WHERE NOT len_ok AND NOT lang_en) AS nn0,
             count(*) FILTER (WHERE len_ok AND stop_rich) AS bb1,
             count(*) FILTER (WHERE len_ok AND NOT stop_rich) AS ab1,
             count(*) FILTER (WHERE NOT len_ok AND stop_rich) AS ba1,
             count(*) FILTER (WHERE NOT len_ok AND NOT stop_rich) AS nn1,
             count(*) FILTER (WHERE lang_en AND stop_rich) AS bb2,
             count(*) FILTER (WHERE lang_en AND NOT stop_rich) AS ab2,
             count(*) FILTER (WHERE NOT lang_en AND stop_rich) AS ba2,
             count(*) FILTER (WHERE NOT lang_en AND NOT stop_rich) AS nn2
           FROM f)
         SELECT * FROM (
           SELECT 'len_ok' AS signal_a, 'lang_en' AS signal_b,
             bb0 AS n_both, ab0 AS n_only_a, ba0 AS n_only_b,
             nn0 AS n_neither,
             round(CAST(bb0 + nn0 AS DOUBLE) / (bb0 + ab0 + ba0 + nn0), 6)
               AS agreement FROM c
           UNION ALL
           SELECT 'len_ok', 'stop_rich', bb1, ab1, ba1, nn1,
             round(CAST(bb1 + nn1 AS DOUBLE) / (bb1 + ab1 + ba1 + nn1), 6)
             FROM c
           UNION ALL
           SELECT 'lang_en', 'stop_rich', bb2, ab2, ba2, nn2,
             round(CAST(bb2 + nn2 AS DOUBLE) / (bb2 + ab2 + ba2 + nn2), 6)
             FROM c)
         ORDER BY signal_a, signal_b"""))),

    Case("q208_k_anonymity", (s, d) => {
      // privacy release audit: quasi-identifier combos re-identifiable to
      // fewer than k individuals; one bounded aggregation
      graft.ops.Expectations.kAnonymityAudit(t(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 30)
        .orderBy("c_nationkey", "c_mktsegment")
    }, oracle = Some(
      """SELECT c_nationkey, c_mktsegment, count(*) AS n
         FROM customer GROUP BY 1, 2 HAVING count(*) < 30
         ORDER BY c_nationkey, c_mktsegment""")),

    Case("q130_distinct_estimate", (s, d) => {
      // KMV cardinality estimate per source next to the exact count — the
      // estimator is pure integer math over the q61 sketch, so the whole
      // row (including the ESTIMATE) sits under the hash oracle
      graft.ext.Sketches.kmvDistinctCount(
        t(s, d, "documents"), Seq("source"), "text", k = 16)
        .orderBy("source")
    }, oracle = Some(
      // KMV replica: k-th smallest distinct md5-prefix hash per source;
      // (k-1)*2^32 // h_(k) in BIGINT floor division, exact-sketch fallback
      """WITH hv AS (SELECT DISTINCT source,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
           FROM hv),
         st AS (SELECT source, count(*) AS nd,
             max(CASE WHEN rn = 16 THEN hv END) AS kth
           FROM r GROUP BY source),
         ex AS (SELECT source, count(DISTINCT text) AS n_exact
           FROM documents GROUP BY source)
         SELECT s.source, CAST(e.n_exact AS BIGINT) AS n_exact,
           CAST(CASE WHEN s.nd < 16 THEN s.nd
                     ELSE (15 * 4294967296) // s.kth END AS BIGINT) AS n_est
         FROM st s JOIN ex e USING (source) ORDER BY source""")),

    Case("q141_sampled_quantiles", (s, d) => {
      // bounded-cost percentile estimation: a 25% DETERMINISTIC content
      // sample (md5 threshold — no RNG, any engine reproduces the exact
      // rows) feeds within-sample exact quantiles; the full-corpus
      // quantile sits alongside to quantify sampling error. The sample
      // bound is what makes per-group percentile cost corpus-independent.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("source"),
          text.tokenCount(col("text")).cast("long").as("n_tok"),
          conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("h"))
      docs.groupBy(col("source")).agg(
        expr("percentile(n_tok, 0.5)").as("p50_exact"),
        expr("percentile(if(h < 1073741824, n_tok, null), 0.5)").as("p50_sampled"),
        count(when(col("h") < 1073741824L, 1)).as("n_sampled"))
        .orderBy("source")
    }, oracle = Some(
      raw"""WITH b AS (SELECT source,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h
           FROM documents WHERE text IS NOT NULL)
         SELECT source,
           quantile_cont(n_tok, 0.5) AS p50_exact,
           quantile_cont(CASE WHEN h < 1073741824 THEN n_tok END, 0.5) AS p50_sampled,
           CAST(count(CASE WHEN h < 1073741824 THEN 1 END) AS BIGINT) AS n_sampled
         FROM b GROUP BY source ORDER BY source""")),

    Case("q108_expectations", (s, d) => {
      // declared data-quality gate: every row tagged with the rules it
      // fails (rule order), one codegen'd pass, no shuffle
      import graft.ops.Expectations
      import graft.ops.Expectations.Rule
      Expectations.check(events(s, d), Seq(
          Rule("value_le_300", col("value") <= 300),
          Rule("known_type",
            col("event_type").isin("click", "view", "purchase", "signup")),
          Rule("user_present", col("user_id").isNotNull)))
        .select(col("event_id"),
          concat_ws(",", col("violations")).as("violations"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, concat_ws(',',
           CASE WHEN NOT coalesce(value <= 300, false)
                THEN 'value_le_300' END,
           CASE WHEN NOT coalesce(
                  event_type IN ('click','view','purchase','signup'), false)
                THEN 'known_type' END,
           CASE WHEN NOT coalesce(user_id IS NOT NULL, false)
                THEN 'user_present' END) AS violations
         FROM events ORDER BY event_id""")),

    Case("q109_orphan_keys", (s, d) => {
      // referential-integrity audit under a dimension-snapshot cut: fact
      // rows whose order arrived after the snapshot are orphans — one LEFT
      // ANTI equi-join, then per-key counts (the quarantine artifact)
      import graft.ops.Expectations
      Expectations.orphans(
          t(s, d, "lineitem"),
          t(s, d, "orders").where(col("o_orderdate") < lit("1997-01-01")),
          keys = Seq("l_orderkey" -> "o_orderkey"))
        .orderBy("l_orderkey")
    }, oracle = Some(
      """SELECT l_orderkey, count(*) AS n_rows FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_orderkey = l.l_orderkey
             AND o.o_orderdate < DATE '1997-01-01')
         GROUP BY 1 ORDER BY 1""")),

    Case("q110_dup_keys", (s, d) => {
      // candidate-key audit: prove (lang, source) is NOT a key of documents
      // by listing the violating tuples with multiplicities — one map-side-
      // combinable aggregation
      import graft.ops.Expectations
      Expectations.duplicateKeys(t(s, d, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }, oracle = Some(
      """SELECT lang, source, count(*) AS n_rows FROM documents
         GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2""")),

    Case("q112_quarantine_stats", (s, d) => {
      // the monitoring artifact a quality gate emits: per-rule violation
      // counts over the quarantined rows — check tags row-locally, then one
      // explode + map-side-combinable count
      import graft.ops.Expectations
      import graft.ops.Expectations.Rule
      Expectations.check(events(s, d), Seq(
          Rule("value_le_300", col("value") <= 300),
          Rule("known_type",
            col("event_type").isin("click", "view", "purchase", "signup")),
          Rule("user_present", col("user_id").isNotNull)))
        .select(explode(col("violations")).as("rule"))
        .groupBy("rule").agg(count(lit(1)).as("n_rows"))
        .orderBy("rule")
    }, oracle = Some(
      """SELECT rule, n_rows FROM (
           SELECT 'value_le_300' AS rule, count(*) AS n_rows FROM events
             WHERE NOT coalesce(value <= 300, false)
           UNION ALL SELECT 'known_type', count(*) FROM events
             WHERE NOT coalesce(
               event_type IN ('click','view','purchase','signup'), false)
           UNION ALL SELECT 'user_present', count(*) FROM events
             WHERE NOT coalesce(user_id IS NOT NULL, false))
         WHERE n_rows > 0 ORDER BY rule""")),
  )
}
