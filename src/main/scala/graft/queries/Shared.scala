package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The few helpers several query families use: fixture-table reads, the
  * bench-shape scan fan-out, exact sums and timestamp literals, the
  * stopword literal and the oracle SQL fragments used by more than one
  * family, the stream-name counter and the load-or-build step of
  * query-owned persisted states.
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

  /** The raw per-doc signals of [[graft.functions.text.gopherSignals]]
    * as oracle select items over `text`: n_tok (whitespace tokens),
    * n_chars, n_digit, n_nonspace and toks (the distinct
    * [[graft.functions.text.tokens]]).
    */
  private[graft] val qualitySignalCols: String =
    raw"""len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks"""

  /** Oracle CTE `mult` over the docs of `src`: each doc's largest
    * [a-z0-9]+ token count `m` and its token total `n`.
    */
  private[graft] def tokenShareCte(src: String): String =
    s"""mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM $src) GROUP BY doc_id, tok) GROUP BY doc_id)"""

  /** The derived Gopher signals avg_len, dig_r, stop_hits (the best
    * language's stopword hits) and max_share, as select items over
    * `base b` (with [[qualitySignalCols]]) and [[tokenShareCte]], with
    * their FROM clause.
    */
  private[graft] val qualityRatioCols: String =
    s"""CASE WHEN b.n_tok = 0 THEN 0.0
                  ELSE CAST(b.n_nonspace AS DOUBLE) / b.n_tok END AS avg_len,
             CASE WHEN b.n_chars = 0 THEN 0.0
                  ELSE CAST(b.n_digit AS DOUBLE) / b.n_chars END AS dig_r,
             greatest(
               len(list_intersect(b.toks, ${swList("de")})),
               len(list_intersect(b.toks, ${swList("en")})),
               len(list_intersect(b.toks, ${swList("es")})),
               len(list_intersect(b.toks, ${swList("fr")})),
               len(list_intersect(b.toks, ${swList("it")}))) AS stop_hits,
             CASE WHEN mult.m IS NULL THEN 0.0
                  ELSE CAST(mult.m AS DOUBLE) / mult.n END AS max_share
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id"""

  /** Oracle CTEs `toks` (each doc's lower-cased [a-z0-9]+ runs) and `sh`
    * (distinct doc_id, shingle: its word-`n`-shingles, a doc of fewer
    * than n words being one shingle) over the `text` column of `src`.
    */
  private[graft] def wordShingleCtes(n: Int, src: String = "documents"): String =
    raw"""toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM $src),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < $n THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+${n - 1}], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - ${n - 1}, 1))) AS i
                     FROM toks WHERE len(tk) > 0))"""

  /** q199's AllPairs shingle tokens over the rows of `src`: `tk` (the
    * [[graft.functions.text.tokens]] split), `shl` (word-3-shingles, a
    * doc of fewer than 3 tokens being one shingle) and `tok` (distinct
    * doc_id, token = the portable 60-bit md5 prefix of a shingle).
    */
  private[graft] def shingleTokenCtes(src: String): String =
    raw"""tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM $src),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl))"""

  /** q21's brute-force pair set, which every minhash screen must
    * reproduce (its LSH stages only generate candidates; the emitted
    * pairs are verified exactly): [[wordShingleCtes]] at n = 3, then
    * `sz` (set sizes), `inter` (shared shingles per id_l < id_r) and `j`
    * (id_l, id_r, jac = exact Jaccard).
    */
  private[graft] def shingleJaccardCtes(src: String = "documents"): String =
    wordShingleCtes(3, src) + """,
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r)"""

  /** q70's transitive near-dup components over the (id_l, id_r) rows of
    * `pairs` (a CTE, or `j WHERE jac >= 0.6`): `e` (both directions),
    * the recursive closure `reach` (the query says WITH RECURSIVE) and
    * `comp` (doc_id, component = the least reachable id). A doc in no
    * pair has no `comp` row; callers label it with its own id.
    */
  private[graft] def componentCtes(pairs: String): String =
    raw"""e AS (SELECT id_l AS a, id_r AS b FROM $pairs
               UNION SELECT id_r, id_l FROM $pairs),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a)"""

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
