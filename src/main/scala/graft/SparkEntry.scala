package graft

import java.util.Properties
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Decontaminate, Dedup, Multimodal, Similarity}
import graft.functions.{text, vectors}
import graft.io.{ReadSql, WriteSql}
import graft.ops.{MatchMerge, NaLocfPlusOne, Ops}
import graft.streaming.EventStreams

/** Driver contract: one entry per implemented operator (SURVEY.md §2 plus the
  * training-data-pipeline extensions), each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible.
  *
  * Numeric-parity convention: any SUM over doubles goes through
  * `CAST(x AS DECIMAL(18,k))` and the exact decimal sum is cast back to
  * DOUBLE — identical bits on Spark and DuckDB regardless of partial-agg
  * order, so hashes match without tolerance. Per-row double arithmetic is
  * IEEE-identical and needs no such guard. Epoch seconds (BIGINT) stand in
  * for raw timestamps in outputs.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
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
  private def fanOut(s: SparkSession, df: DataFrame, key: String,
      parts: Int = 0): DataFrame =
    df.repartition(
      if (parts > 0) parts
      else s.conf.get("spark.sql.shuffle.partitions", "32").toInt, col(key))

  /** Deterministic multi-segment corpus for the corpus-level segment-dedup
    * queries (q301/q302): the fixture documents are single-segment and
    * fully distinct, so cross-document duplicate structure is synthesized
    * from doc fields — a per-source footer segment (shared by all docs of
    * that source) and a global newsletter segment on every 5th doc. The
    * oracle SQL rebuilds the identical text with string concatenation, so
    * both engines dedup the same corpus.
    */
  private def synthSegmentedDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents").where(col("text").isNotNull)
      .withColumn("text",
        concat(col("text"), lit(". shared footer for "), col("source"),
          when(col("doc_id") % 5 === 0,
            lit(". subscribe to our newsletter today")).otherwise(lit(""))))

  /** The q299/q305 persisted IVF-PQ index over the standing corpus slice
    * (`vec_id % 5 != 2`): built+saved once per (fixture, params)
    * generation under the loud StateManifest contract, loaded on every
    * later call — the production ingest shape shared by both faces.
    */
  private def standingAnnIndex(
      s: SparkSession, d: String): graft.ext.AnnIndex.State =
    standingAnnIndexWithCount(s, d)._1

  /** Per-JVM memo of the standing-index GEOMETRY — (params, stateDir,
    * standing count) keyed by the source fingerprint: every probe-family
    * query used to pay a filtered count scan of the embeddings table
    * just to re-derive nCells for the scratch key, plus (q309/q311/q312)
    * a second count of the codes parquet for the shortlist size — cost
    * charged to the probe walls the benchmarks measure (round-18 review
    * finding). Only the COUNTS are memoized; every hit re-runs
    * [[graft.ext.AnnIndex.load]] (small-file reads, zero Spark jobs), so
    * a cleaned scratch dir rebuilds and the returned frames always bind
    * to the CALLER's session — memoizing the State itself would hand a
    * later caller DataFrames over deleted parquet or a stopped session
    * (the second round-18 review pass).
    */
  private val standingIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, (graft.ext.AnnIndex.Params, String, Long)]()

  private def standingAnnIndexWithCount(
      s: SparkSession, d: String): (graft.ext.AnnIndex.State, Long) = {
    val fp = graft.io.TextTables.sourceFingerprint(s"$d/embeddings.parquet")
    val memoKey = s"$d;$fp"
    val hit = standingIndexMemo.get(memoKey)
    if (hit != null) {
      val (params, dir, n) = hit
      graft.ext.AnnIndex.load(s, dir, params) match {
        case Some(state) => return (state, n)
        case None => standingIndexMemo.remove(memoKey) // scratch cleaned
      }
    }
    val standing = t(s, d, "embeddings").where(col("vec_id") % 5 =!= 2)
    val standingN = standing.count()
    // nCells DERIVED from the standing count (AnnIndex.derivedNCells,
    // round-18 verdict #1): the oracles replay the same derivation as
    // `greatest(4, ceil(sqrt(count(*))))` over the standing slice, so
    // the gate geometry now scales exactly like production's.
    val nCells = graft.ext.AnnIndex.derivedNCells(standingN)
    // refine tier always on (round 18): ~64 byte-codes/vector beside the
    // 8 PQ codes — q299/q305/q307/q309/q311 probe the ADC face
    // unchanged; q312 exercises probeRefined over the same state
    val params = graft.ext.AnnIndex.Params(nCells = nCells, m = 8, c = 16,
      refineDim = 64)
    val stateDir = graft.io.TextTables.scratchDir("ann_index", d,
      fp + ";" + params.encoded)
    new java.io.File(stateDir).mkdirs()
    val state = graft.ext.AnnIndex.load(s, stateDir, params).getOrElse {
      graft.ext.AnnIndex.save(s,
        graft.ext.AnnIndex.buildPortable(standing, "vec_id", "embedding",
          m = 8, c = 16, nCells = Some(nCells), refineDim = 64), stateDir)
      graft.ext.AnnIndex.load(s, stateDir, params).getOrElse(
        // a bare .get would die as "None.get" AFTER paying the full
        // encode+persist — name the dir and the likely cause instead
        throw new IllegalStateException(
          s"ann index at $stateDir did not read back complete right " +
            "after save — check that parquet writes produce _SUCCESS " +
            "markers (mapreduce.fileoutputcommitter.marksuccessfuljobs)"))
    }
    standingIndexMemo.put(memoKey, (params, stateDir, standingN))
    (state, standingN)
  }

  /** 26 BMP Han ideographs standing in for a-z in the derived CJK
    * fixture — interpolated into BOTH the q281/q282 queries and their
    * oracle SQL so the mapping can never drift (the stopwordList
    * convention).
    */
  private val hanAlphabet = "一二三四五六七八九十百千万东南西北中大小上下左右天地"

  /** a-z -> [[hanAlphabet]] for Scala-side constants (q308's planted Han
    * footer/newsletter lines): the SAME mapping `translate` applies in
    * both engines, precomputed once so the literal is interpolated into
    * the query AND its oracle (the stopwordList convention).
    */
  private def toHan(latin: String): String = latin.map { ch =>
    val i = "abcdefghijklmnopqrstuvwxyz".indexOf(ch.toInt)
    if (i >= 0) hanAlphabet(i) else ch
  }.mkString

  private val hanFooterPrefix = toHan("sharedfooterfor")
  private val hanNewsletter = toHan("subscribetonewslettertoday")

  /** Deterministic mixed-script corpus for the CJK-routing queries
    * (q281/q282): even doc_ids become unspaced-Han twins of their token
    * stream (letters translated onto [[hanAlphabet]], whitespace
    * stripped — real unsegmented-script shape: no word boundaries
    * survive), odd doc_ids stay Latin. Derived from `documents` inside
    * the query AND its oracle, so the planted near-duplicate structure
    * of the fixture carries over to the Han half verbatim.
    */
  private def cjkCorpus(s: SparkSession, d: String): DataFrame =
    fanOut(s, t(s, d, "documents"), "doc_id")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          translate(regexp_replace(lower(col("text")), "\\s+", ""),
            "abcdefghijklmnopqrstuvwxyz", hanAlphabet))
          .otherwise(col("text")).as("text"))

  /** Shared q278/q279/q284/q285 fixture: standing corpus = the `%3 != 0`
    * slice of documents; incoming = the `%3 == 0` slice plus 90%-token
    * truncations of the `%3 == 1` docs (planted near-copies of standing
    * docs, ids offset +2e6 so they read as new arrivals).
    */
  private def resemblanceSlices(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    val standing = docs.where(col("doc_id") % 3 =!= 0)
    val toks = graft.functions.text.tokens(col("text"))
    val trunc = docs.where(col("doc_id") % 3 === 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        array_join(slice(toks, lit(1), ((size(toks) * 9) / 10).cast("int")),
          " ").as("text"))
    (standing, docs.where(col("doc_id") % 3 === 0).unionByName(trunc))
  }

  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads as a
    * nanos-since-epoch long (`spark.sql.legacy.parquet.nanosAsLong=true`,
    * set in Verify/Bench sessions). Normalize to a microsecond TimestampType
    * column; integer DIV avoids double-precision loss on ~1.7e18 nanos.
    */
  private def events(s: SparkSession, d: String): DataFrame =
    graft.streaming.EventStreams.normalizeTs(t(s, d, "events"))

  /** Exact decimal-routed double sum (see class doc). */
  private def dsum(c: Column, scale: Int = 4): Column =
    sum(c.cast(s"decimal(18,$scale)")).cast("double")

  private def epochSec(c: Column): Column = unix_timestamp(c.cast("timestamp"))

  /** DuckDB list literal of a [[graft.functions.text.stopwords]] inventory
    * — interpolated into oracle SQL so the lists can never drift.
    */
  private def swList(lang: String): String =
    graft.functions.text.stopwords(lang)
      .map(w => "'" + w.replace("'", "''") + "'").mkString("[", ", ", "]")

  private def ts(lit0: String): Column = lit(lit0).cast("timestamp")

  /** Shared q143/q144 SCD2 changelog fixture over pre-selected orders
    * columns: generation 1 inserts every key, 2 and 3 are update waves on
    * overlapping key slices, 4 deletes every 10th-mod-7 key. `gens`
    * selects which generations to emit (q144 splits history vs delta).
    */
  private def scd2Changelog(o: DataFrame, gens: Seq[Long]): DataFrame = {
    def ch(src: DataFrame, seq: Long, op: String,
        ck: Column, tp: Column): DataFrame =
      src.select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
        ck.as("o_custkey"), tp.as("o_totalprice"))
    val byGen: Map[Long, DataFrame] = Map(
      1L -> ch(o, 1L, "I", col("o_custkey"), col("o_totalprice")),
      2L -> ch(o.where(col("o_orderkey") % 10 === 3), 2L, "U",
        col("o_custkey"), col("o_totalprice") + 1000.0),
      3L -> ch(o.where(col("o_orderkey") % 20 === 3), 3L, "U",
        col("o_custkey"), col("o_totalprice") + 2000.0),
      4L -> ch(o.where(col("o_orderkey") % 10 === 7), 4L, "D",
        lit(null).cast("long"), lit(null).cast("double")))
    gens.map(byGen).reduce(_ unionByName _)
  }

  private val streamCounter = new AtomicInteger(0)

  /** DuckDB full rebuild of the q143/q144 SCD2 fixture: the window-lead
    * formulation over the complete 4-generation changelog. q144's
    * incremental merge is oracled against this SAME rebuild — incremental
    * == full history is the operator's contract.
    */
  private val scd2RebuildSql: String =
    """WITH ch AS (
         SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_totalprice
           FROM orders
         UNION ALL
         SELECT o_orderkey, 2, 'U', o_custkey, o_totalprice + 1000.0
           FROM orders WHERE o_orderkey % 10 = 3
         UNION ALL
         SELECT o_orderkey, 3, 'U', o_custkey, o_totalprice + 2000.0
           FROM orders WHERE o_orderkey % 20 = 3
         UNION ALL
         SELECT o_orderkey, 4, 'D', NULL, NULL
           FROM orders WHERE o_orderkey % 10 = 7),
       v AS (SELECT *, lead(seq) OVER
           (PARTITION BY o_orderkey ORDER BY seq ASC, op DESC) AS valid_to
         FROM ch)
       SELECT o_orderkey, o_custkey, o_totalprice, seq AS valid_from,
              valid_to, CAST(valid_to IS NULL AS INT) AS is_current
       FROM v WHERE op <> 'D'
       ORDER BY o_orderkey, valid_from"""

  /** q151/q152's frozen BPE merge list — a tiny hand-written vocab whose
    * chains (the, scan, row, order) exercise multi-level merges and rank
    * priority over the documents corpus. Production use learns this with
    * [[graft.ext.Bpe.learnMerges]]; the oracle needs it FROZEN so the
    * DuckDB replay can interpolate it as a MAP literal.
    */
  private val bpeMerges: Seq[(String, String)] = Seq(
    ("a", "n"), ("t", "h"), ("th", "e"), ("s", "c"), ("sc", "an"),
    ("r", "o"), ("ro", "w"), ("e", "r"), ("o", "r"), ("or", "d"),
    ("ord", "er"))

  /** WordPiece piece vocabulary for q163 — covers the corpus's head words
    * with deliberate longest-match cases ("join" whole-word beats
    * "jo"+"##in"; "sc" beats "s" on "scan") and leaves the tail to
    * `[UNK]`, so every branch of the greedy scan is exercised.
    */
  private val wpVocab: Seq[String] = Seq(
    "a", "the", "t", "##he", "##able", "join", "jo", "##in", "win",
    "##dow", "st", "##ream", "b", "##atch", "cust", "##omer", "s", "sc",
    "##an", "##can", "##ort", "me", "##rge", "fi", "##lter", "da", "##ta")

  /** DuckDB list literal of [[wpVocab]] — interpolated into the q163
    * oracle so the piece list can never drift from the Spark side.
    */
  private val wpVocabLit: String =
    wpVocab.map(p => s"'$p'").mkString("[", ", ", "]")

  /** Shared q167/q170 oracle: the bigram-model replay (reference
    * counts, the deterministic top-500 cut, exact integer sums over the
    * target half's pair stream). Per-doc stats are row-local, so the
    * batch filter and its streamed face assert ONE string.
    */
  /** The bigram-model replay through the per-pair join `j` — the shared
    * WITH-prefix of the q167/q170 stats oracle and the q258 CCNet
    * bucket oracle.
    */
  private val lmChainCtes: String =
    """WITH mid AS (SELECT max(doc_id) // 2 AS m FROM documents
             WHERE text IS NOT NULL),
         rtok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS tk
           FROM documents, mid WHERE text IS NOT NULL AND doc_id <= mid.m),
         uni AS (SELECT w, count(*) AS c_uni
           FROM (SELECT unnest(tk) AS w FROM rtok) GROUP BY w),
         rbi AS (SELECT tk[i] AS w1, tk[i+1] AS w2
           FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i
                 FROM rtok WHERE len(tk) >= 2)),
         bi AS (SELECT w1, w2, c_bi FROM (
             SELECT w1, w2, count(*) AS c_bi,
               row_number() OVER (ORDER BY count(*) DESC, w1 ASC, w2 ASC) AS rn
             FROM rbi GROUP BY w1, w2) WHERE rn <= 500),
         ttok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS tk
           FROM documents, mid WHERE text IS NOT NULL AND doc_id > mid.m),
         tp AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
           FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i
                 FROM ttok WHERE len(tk) >= 2)),
         j AS (SELECT p.doc_id, coalesce(b.c_bi, 0) AS cb,
             coalesce(u.c_uni, 0) AS cu
           FROM tp p
           LEFT JOIN bi b ON p.w1 = b.w1 AND p.w2 = b.w2
           LEFT JOIN uni u ON p.w1 = u.w)"""

  private val lmStatsOracle: String = lmChainCtes + """
         SELECT doc_id, count(*) AS n_pairs,
           CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
           CAST(sum(cb) AS BIGINT) AS sum_bi,
           CAST(sum(cu) AS BIGINT) AS sum_uni
         FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** q258: CCNet-style head/middle/tail buckets per language by the
    * per-doc bigram fit ratio (one IEEE division), percent-rank
    * thresholds (ties share a bucket — engine-exact where ntile is not),
    * exact integer per-bucket rollups.
    */
  private val ccnetBucketsOracle: String = lmChainCtes + """,
         stats AS (SELECT doc_id, count(*) AS n_pairs,
             CAST(sum(CASE WHEN cb > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(sum(cb) AS BIGINT) AS sum_bi
           FROM j GROUP BY doc_id),
         withlang AS (SELECT s.doc_id, s.n_pairs, s.n_hit, s.sum_bi, d.lang,
             CAST(s.sum_bi AS DOUBLE) / s.n_pairs AS fit
           FROM stats s JOIN documents d USING (doc_id) WHERE s.n_pairs > 0),
         pr AS (SELECT *, round(percent_rank() OVER
             (PARTITION BY lang ORDER BY fit), 6) AS prk
           FROM withlang),
         b AS (SELECT lang,
             CAST(least(floor(prk * 3), 2) AS INTEGER) AS bucket,
             n_pairs, n_hit, sum_bi
           FROM pr)
         SELECT lang, bucket, count(*) AS n_docs,
           CAST(sum(n_pairs) AS BIGINT) AS pairs,
           CAST(sum(n_hit) AS BIGINT) AS hits,
           CAST(sum(sum_bi) AS BIGINT) AS bi_total
         FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""

  /** The token-denominated data-card replay, parameterized on the
    * tokenizer's encode CTE (`words`/`fin` contract): ONE body, so the
    * BPE (q156) and WordPiece (q171) cards can never assert different
    * card semantics — only a different token currency.
    */
  private def cardTokensOracle(encCte: String): String =
    raw"""WITH RECURSIVE
         $encCte,
         ntok AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
         nb AS (SELECT d.doc_id, coalesce(n.s, 0) AS n_bpe
           FROM documents d LEFT JOIN ntok n USING (doc_id)),
         base AS (SELECT doc_id, source, md5(text) AS h,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks
           FROM documents),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM documents) GROUP BY doc_id, tok) GROUP BY doc_id),
         sig AS (SELECT b.doc_id, b.source, b.h, b.n_tok,
             CASE WHEN b.n_tok = 0 THEN 0.0
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
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id),
         rs AS (SELECT doc_id, source, h,
             CASE WHEN n_tok < 20 OR n_tok > 100000 THEN 1 ELSE 0 END
               + CASE WHEN avg_len < 3.0 OR avg_len > 10.0 THEN 1 ELSE 0 END
               + CASE WHEN dig_r > 0.2 THEN 1 ELSE 0 END
               + CASE WHEN stop_hits < 1 THEN 1 ELSE 0 END
               + CASE WHEN max_share > 0.2 THEN 1 ELSE 0 END AS reasons
           FROM sig),
         dup AS (SELECT md5(text) AS h, count(*) AS dn FROM documents GROUP BY 1)
         SELECT source, count(*) AS n_docs,
           CAST(sum(nb.n_bpe) AS BIGINT) AS sum_tokens,
           CAST(count(CASE WHEN reasons = 0 THEN 1 END) AS BIGINT) AS n_quality_pass,
           CAST(count(CASE WHEN dn > 1 THEN 1 END) AS BIGINT) AS n_dup_docs
         FROM rs JOIN dup USING (h) JOIN nb USING (doc_id)
         GROUP BY source ORDER BY source"""

  /** Shared q162/q164 oracle: the full-vocabulary groupBy + HAVING the
    * two-bounded-pass answer must equal — ONE string, so the batch and
    * streamed heavy-hitter faces can never assert different things.
    */
  private val hhTokenOracle: String =
    """WITH tok AS (SELECT
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents)
         SELECT token, count(*) AS cnt FROM tok
         GROUP BY token
         HAVING count(*) > (SELECT count(*) FROM tok) * 0.003
         ORDER BY token"""

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

  /** DuckDB replay of the greedy WordPiece encode (WordPieceRuntime
    * contract): per DISTINCT word, each recursive step advances past the
    * longest vocab piece matching at `pos` (continuations match through
    * the '##' prefix) — the longest match computed as a correlated max
    * over the vocab, the argmax without grouping in the recursive term.
    * No match, or a word over 100 code points, dies to ONE [UNK] token.
    * Yields CTEs `words` (doc_id, word) and `fin` (word, nt) — the
    * WordPiece twin of [[bpeEncCte]], shared by q163/q165.
    */
  private val wpEncCte: String =
    s"""warr AS (SELECT doc_id,
           list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS arr
         FROM documents WHERE text IS NOT NULL),
       words AS (SELECT doc_id, unnest(arr) AS word FROM warr),
       dw AS (SELECT DISTINCT word FROM words),
       wpv(p) AS (SELECT unnest($wpVocabLit)),
       step(word, pos, n, dead) AS (
         SELECT word, 1, 0, len(word) > 100 FROM dw
         UNION ALL
         SELECT word,
           CASE WHEN l IS NULL THEN pos ELSE pos + l END,
           CASE WHEN l IS NULL THEN n ELSE n + 1 END,
           l IS NULL
         FROM (SELECT s.word AS word, s.pos AS pos, s.n AS n,
             (SELECT max(CASE WHEN s.pos = 1 THEN len(v.p) ELSE len(v.p) - 2 END)
              FROM wpv v
              WHERE CASE WHEN s.pos = 1
                THEN v.p = substr(s.word, 1, len(v.p))
                ELSE v.p LIKE '##%'
                 AND substr(v.p, 3) = substr(s.word, s.pos, len(v.p) - 2) END) AS l
           FROM step s WHERE NOT s.dead AND s.pos <= len(s.word))),
       fin AS (SELECT word, CASE WHEN bool_or(dead) THEN 1 ELSE max(n) END AS nt
         FROM step GROUP BY word)"""

  /** q172/q173's frozen unigram-LM vocabulary — SCORED pieces (piece ->
    * integer cost, the [[graft.ext.Unigram.parseVocabTsv]] fixed-point
    * scaling) engineered so the corpus exercises every Viterbi branch:
    * merge/stream/window split CHEAPER than their whole-word piece
    * (optimal beats greedy), customer/batch whole-word wins, the/row win
    * on the fewer-tokens tie-break, scan ties at (cost, count) both ways,
    * and f/j/q/v/x/z have no single-cp piece (per-cp `<unk>` fallback at
    * cost [[uniUnkCost]]). Production use ingests a published `.vocab`
    * TSV; the oracle needs it FROZEN to interpolate as list literals.
    */
  private val uniVocab: Seq[(String, Long)] = Seq(
    "a" -> 2L, "b" -> 3L, "c" -> 3L, "d" -> 3L, "e" -> 2L, "g" -> 3L,
    "h" -> 3L, "i" -> 3L, "k" -> 4L, "l" -> 3L, "m" -> 3L, "n" -> 3L,
    "o" -> 2L, "p" -> 3L, "r" -> 3L, "s" -> 2L, "t" -> 2L, "u" -> 4L,
    "w" -> 4L, "y" -> 5L,
    "join" -> 4L, "scan" -> 9L, "sc" -> 2L, "an" -> 3L, "can" -> 3L,
    "the" -> 7L, "row" -> 5L, "ro" -> 2L, "ow" -> 2L,
    "merge" -> 9L, "mer" -> 3L, "ge" -> 3L,
    "stream" -> 6L, "st" -> 2L, "ream" -> 3L,
    "window" -> 7L, "win" -> 3L, "dow" -> 3L,
    "customer" -> 8L, "cust" -> 4L, "omer" -> 5L,
    "batch" -> 6L, "bat" -> 4L, "ch" -> 3L,
    "val" -> 4L, "ue" -> 4L, "fil" -> 5L, "ter" -> 4L, "qu" -> 6L)

  private val uniUnkCost = 12L

  /** q177's frozen blocklist — overlapping on purpose: `scan` is a
    * substring of `slow scan` (fail-link output), `the` of `the join`,
    * bigrams span the whitespace the tokenizer families split on, and
    * `zzz` never occurs (the all-miss path).
    */
  private val blockPhrases: Seq[String] = Seq(
    "slow scan", "scan", "the join", "the", "big batch", "fast merge",
    "customer table", "window stream", "zzz")

  private val blockPhrasesLit: String =
    blockPhrases.map(p => s"'$p'").mkString("[", ", ", "]")

  /** Shared q183/q184 oracle — q67's string-shingle replay aimed at
    * counting instead of dropping: per-doc distinct 8-token shingles,
    * membership in the reference tenth's gram set, 6-dp double ratio. ONE
    * string, so the batch and streamed novelty faces can never assert
    * different things (scores are row-local given the static reference, so
    * streamed == batch verbatim).
    */
  private val noveltyOracle: String =
    """WITH toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 8 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+7], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 7, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         d AS (SELECT sh.doc_id, count(*) AS n_grams,
                 count(bs.shingle) AS n_seen
               FROM sh LEFT JOIN bs USING (shingle)
               WHERE sh.doc_id % 10 <> 0 GROUP BY sh.doc_id)
         SELECT doc_id, n_grams, n_seen,
           round((n_grams - n_seen) / n_grams, 6) AS novelty
         FROM d ORDER BY doc_id"""

  /** Shared q185/q187 oracle — two-sample chi-square replay: exact counts,
    * homogeneity expectations and per-token terms in the IDENTICAL double
    * evaluation order. ONE string, so the batch and streaming drift faces
    * can never assert different things (token counts are order-insensitive,
    * so streamed == batch verbatim).
    */
  /** q222 oracle generator: the UNROLLED decimal fixed-point PageRank
    * iterates ([[graft.ext.Graph.pageRank]] contract — per-row double
    * ops rounded to 12 dp, cross-row sums exact DECIMAL(28,12), dangling
    * mass leaks). Generated, not hand-copied, so the iterate shape can
    * never drift between rounds. `(1.0 - 0.85)` stays UNevaluated in the
    * SQL text: Scala would fold it to 0.15000000000000002 the same way,
    * but only if both engines run the identical double expression tree.
    */
  private def pageRankOracle(iters: Int): String = {
    val head =
      """WITH e AS (SELECT DISTINCT source AS src,
             'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR) AS dst
           FROM documents
           WHERE source <> 'src' || CAST((doc_id * 7 + 3) % 20 AS VARCHAR)),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         deg AS (SELECT src AS node, count(*) AS out_deg FROM e GROUP BY 1),
         base AS (SELECT node, coalesce(out_deg, CAST(0 AS BIGINT)) AS out_deg
                  FROM nodes LEFT JOIN deg USING (node)),
         nn AS (SELECT count(*) AS n FROM base),
         r0 AS (SELECT node, CAST(round(1.0 / n, 12) AS DECIMAL(28,12)) AS rank
                FROM base CROSS JOIN nn)"""
    val its = (1 to iters).map { i =>
      s"""         c$i AS (SELECT e.dst AS node,
             sum(CAST(round(CAST(r.rank AS DOUBLE) / b.out_deg, 12)
               AS DECIMAL(28,12))) AS inr
           FROM e JOIN r${i - 1} r ON r.node = e.src
                  JOIN base b ON b.node = e.src
           GROUP BY 1),
         r$i AS (SELECT b.node,
             CAST(round((1.0 - 0.85) / nn.n +
               0.85 * coalesce(CAST(c$i.inr AS DOUBLE), 0.0), 12)
               AS DECIMAL(28,12)) AS rank
           FROM base b CROSS JOIN nn LEFT JOIN c$i ON c$i.node = b.node)"""
    }.mkString(",\n")
    s"""$head,
$its
         SELECT b.node AS node, b.out_deg, CAST(r$iters.rank AS DOUBLE) AS rank
         FROM base b JOIN r$iters ON r$iters.node = b.node ORDER BY b.node"""
  }

  /** q223 oracle generator: the unrolled Lloyd rounds of
    * [[graft.ext.Clustering]] — md5-seeded centroids, rounded-distance
    * argmin with cluster-id ties, DECIMAL(18,9) coordinate sums divided
    * per-row in double and rounded to 6 dp. `iters` mean-update rounds,
    * then a final assignment carrying the rounded distance feeds the
    * report. (Contract: no cluster empties at this k/iters — the engine
    * keeps a dead cluster's previous centroid, which SQL cannot express.)
    */
  private def kmeansCtes(k: Int, iters: Int): String = {
    val head =
      s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv, label
                     FROM embeddings),
         seed AS (SELECT vv, row_number() OVER
             (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM v),
         c0 AS (SELECT CAST(rn - 1 AS INTEGER) AS c, vv AS cv
                FROM seed WHERE rn <= $k)"""
    def assignCte(name: String, cents: String, carryDist: Boolean) = {
      val dcol = if (carryDist) ", d" else ""
      s"""         $name AS (SELECT vec_id, vv, label, c$dcol FROM (
             SELECT v.vec_id, v.vv, v.label, $cents.c,
               round(list_distance(v.vv, $cents.cv), 6) AS d,
               row_number() OVER (PARTITION BY v.vec_id
                 ORDER BY round(list_distance(v.vv, $cents.cv), 6), $cents.c) AS arn
             FROM v CROSS JOIN $cents) WHERE arn = 1)"""
    }
    def meansCte(i: Int) =
      s"""         m$i AS (SELECT c, i,
             round(CAST(sum(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS m
           FROM (SELECT c, unnest(vv) AS x,
                   unnest(range(1, len(vv) + 1)) AS i FROM a$i)
           GROUP BY c, i),
         c$i AS (SELECT c, list(m ORDER BY i) AS cv FROM m$i GROUP BY c)"""
    val rounds = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}", carryDist = false) + ",\n" + meansCte(i)
    }.mkString(",\n")
    val fin = assignCte("af", s"c$iters", carryDist = true)
    s"""$head,
$rounds,
$fin"""
  }

  private def kmeansOracle(k: Int, iters: Int): String = {
    s"""${kmeansCtes(k, iters)},
         rep AS (SELECT c AS cluster, count(*) AS n_members,
             round(CAST(sum(CAST(d AS DECIMAL(18,6))) AS DOUBLE), 6) AS inertia
           FROM af GROUP BY 1),
         lab AS (SELECT c AS cluster, label, count(*) AS ln
                 FROM af GROUP BY 1, 2),
         top AS (SELECT cluster, label AS top_label, ln FROM (
             SELECT cluster, label, ln, row_number() OVER
               (PARTITION BY cluster ORDER BY ln DESC, label) AS r FROM lab)
           WHERE r = 1)
         SELECT rep.cluster, rep.n_members, rep.inertia, top.top_label,
           round(CAST(top.ln AS DOUBLE) / rep.n_members, 6) AS label_share
         FROM rep JOIN top USING (cluster) ORDER BY cluster"""
  }

  /** q231 oracle: the same Lloyd CTEs, tailed with per-cluster top-term
    * cards (documents joined on the aligned vec_id = doc_id, the q69
    * tokenizer convention).
    */
  private def clusterCardsOracle(k: Int, iters: Int, topK: Int): String = {
    raw"""${kmeansCtes(k, iters)},
         tok AS (SELECT af.c AS cluster,
             unnest(list_filter(regexp_split_to_array(lower(d.text),
               '[^\p{L}\p{N}_]+'), x -> x <> '')) AS token
           FROM af JOIN documents d ON d.doc_id = af.vec_id),
         tc AS (SELECT cluster, token, count(*) AS n FROM tok GROUP BY 1, 2),
         r AS (SELECT cluster, token, n, row_number() OVER
             (PARTITION BY cluster ORDER BY n DESC, token) AS rnk FROM tc)
         SELECT cluster, CAST(rnk AS BIGINT) AS rnk, token, n
         FROM r WHERE rnk <= $topK ORDER BY cluster, rnk"""
  }

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

  /** Shared by q228 (batch semantic screen) and q232 (streamed, stateless
    * — Append mode equals batch row-for-row under any cut): q24's cosine
    * replay restricted to the eval slice, flag on the ROUNDED cosine.
    */
  /** Shared by q251 (one-shot NB train+score) and q254 (the same model
    * rebuilt from MERGED per-shard sufficient statistics — additive, so
    * incremental == one-shot is the operator's contract and one oracle
    * gates both paths).
    */
  private val nbClassifierOracle: String =
    raw"""WITH d AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         fx AS (SELECT doc_id, y,
             CAST(CAST(concat('0x', substring(md5(unnest(tk)), 1, 8)) AS BIGINT)
               % 4096 AS INTEGER) AS bucket
           FROM d),
         cnt AS (SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS p
           FROM fx GROUP BY 1),
         model AS (SELECT bucket,
             CAST(floor(1000.0 * ln(CAST(p + 1 AS DOUBLE)
               / CAST(n - p + 1 AS DOUBLE))) AS BIGINT) AS w
           FROM cnt),
         pri AS (SELECT CAST(floor(1000.0 * ln(CAST(sum(y) + 1 AS DOUBLE)
               / CAST(count(*) - sum(y) + 1 AS DOUBLE))) AS BIGINT) AS bias
           FROM d),
         sc AS (SELECT fx.doc_id, CAST(sum(m.w) AS BIGINT) AS s
           FROM fx JOIN model m USING (bucket) GROUP BY 1),
         full_sc AS (SELECT d.doc_id,
             coalesce(sc.s, 0) + (SELECT bias FROM pri) AS score
           FROM d LEFT JOIN sc USING (doc_id))
         SELECT doc_id, CAST(score AS BIGINT) AS score,
           CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
         FROM full_sc ORDER BY doc_id"""

  /** Shared by q255 (batch AUC readout) and q256 (the same monitor over
    * a streamed corpus): the NB score chain + doubled rank sums.
    */
  /** The quantized-coordinate covariance chain through the `cv` CTE —
    * shared by q260 (the report) and q261 (the power-iteration spectral
    * step over the same matrix).
    */
  private val covCtes: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE embedding IS NOT NULL),
         x AS (SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
             CAST(round(e[i], 6) AS DECIMAL(18,6)) AS xi
           FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i
                 FROM v)),
         m1 AS (SELECT i, count(*) AS n, sum(xi) AS sx
           FROM x GROUP BY i),
         m2 AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS sxy
           FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
           GROUP BY 1, 2),
         cv AS (SELECT m2.i, m2.j, CAST(ma.n AS BIGINT) AS n,
             CAST(ma.sx AS DOUBLE) AS sx,
             CAST(mb.sx AS DOUBLE) AS sy,
             CAST(m2.sxy AS DOUBLE) AS sxy,
             round((CAST(ma.n AS DOUBLE) * CAST(m2.sxy AS DOUBLE)
               - CAST(ma.sx AS DOUBLE) * CAST(mb.sx AS DOUBLE))
               / (CAST(ma.n AS DOUBLE) * CAST(ma.n AS DOUBLE)), 6)
               + 0 AS cov
           FROM m2 JOIN m1 ma ON m2.i = ma.i
                   JOIN m1 mb ON m2.j = mb.i)"""

  /** The SQ8 quantization chain through the per-(vec, dim) `cd` code
    * frame — shared by q263 (the fidelity report) and q264 (the
    * integer-dot ANN): 6-dp coordinates, exact decimal per-dim ranges,
    * one double division + `floor(r + 0.5)` per code (identical IEEE ops
    * in both engines — the `Sq8.codes` contract).
    */
  private val sq8Ctes: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings WHERE embedding IS NOT NULL),
         x AS (SELECT vec_id, i,
             CAST(round(e[i], 6) AS DECIMAL(18,6)) AS xq
           FROM (SELECT vec_id, e, unnest(generate_series(1, len(e))) AS i
                 FROM v)),
         rg AS (SELECT i, min(xq) AS lo, max(xq) AS hi FROM x GROUP BY i),
         cd AS (SELECT vec_id, x.i, xq, lo, hi,
             CASE WHEN hi = lo THEN 0
                  ELSE LEAST(255, GREATEST(0,
                    CAST(floor(CAST((xq - lo) * 255 AS DOUBLE)
                      / CAST(hi - lo AS DOUBLE) + 0.5) AS INTEGER))) END AS code
           FROM x JOIN rg USING (i))"""

  /** The NB score chain through the per-(source, doc) `scored` frame —
    * the shared WITH-prefix of the q255/q256 AUC and q257 AP oracles.
    */
  private val nbScoredCtes: String =
    raw"""WITH d AS (SELECT doc_id, source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         fx AS (SELECT doc_id, y,
             CAST(CAST(concat('0x', substring(md5(unnest(tk)), 1, 8)) AS BIGINT)
               % 4096 AS INTEGER) AS bucket
           FROM d),
         cnt AS (SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS p
           FROM fx GROUP BY 1),
         model AS (SELECT bucket,
             CAST(floor(1000.0 * ln(CAST(p + 1 AS DOUBLE)
               / CAST(n - p + 1 AS DOUBLE))) AS BIGINT) AS w
           FROM cnt),
         pri AS (SELECT CAST(floor(1000.0 * ln(CAST(sum(y) + 1 AS DOUBLE)
               / CAST(count(*) - sum(y) + 1 AS DOUBLE))) AS BIGINT) AS bias
           FROM d),
         sc AS (SELECT fx.doc_id, CAST(sum(m.w) AS BIGINT) AS s
           FROM fx JOIN model m USING (bucket) GROUP BY 1),
         scored AS (SELECT d.doc_id, d.source, d.y,
             coalesce(sc.s, 0) + (SELECT bias FROM pri) AS score
           FROM d LEFT JOIN sc USING (doc_id)),
         per AS (SELECT source, score, count(*) AS c,
             CAST(sum(y) AS BIGINT) AS yv
           FROM scored GROUP BY 1, 2)"""

  /** q256: the streamed monitor bins scores into clamped fixed-width
    * buckets BEFORE aggregation (state = groups x 801 bins, constant in
    * the corpus's score spread — CorpusStreams.clampedScoreBucket), so
    * its oracle replays the same bin then the identical rank-sum chain:
    * the binned mid-rank AUC.
    */
  private val aucBucketedOracle: String = nbScoredCtes + raw""",
         perb AS (SELECT source,
             LEAST(GREATEST(CAST(floor(CAST(score AS DOUBLE) / 250.0)
               AS BIGINT), -400), 400) AS b,
             CAST(sum(c) AS BIGINT) AS c, CAST(sum(yv) AS BIGINT) AS yv
           FROM per GROUP BY 1, 2),
         cum AS (SELECT source, b, c, yv,
             sum(c) OVER (PARTITION BY source ORDER BY b) AS cc
           FROM perb),
         agg AS (SELECT source, CAST(sum(yv) AS BIGINT) AS n_pos,
             CAST(sum(c - yv) AS BIGINT) AS n_neg,
             CAST(sum(yv * (2 * cc - c + 1)) AS BIGINT) AS r2
           FROM cum GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / (2.0 * n_pos * n_neg), 6) END AS auc
         FROM agg ORDER BY source"""

  private val aucOracle: String = nbScoredCtes + raw""",
         cum AS (SELECT source, score, c, yv,
             sum(c) OVER (PARTITION BY source ORDER BY score) AS cc
           FROM per),
         agg AS (SELECT source, CAST(sum(yv) AS BIGINT) AS n_pos,
             CAST(sum(c - yv) AS BIGINT) AS n_neg,
             CAST(sum(yv * (2 * cc - c + 1)) AS BIGINT) AS r2
           FROM cum GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE round(CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                  / (2.0 * n_pos * n_neg), 6) END AS auc
         FROM agg ORDER BY source"""

  /** q257: threshold-based average precision over the same scored frame
    * — exact integer TP/FP cumulatives, 12-dp-rounded per-threshold
    * terms decimal-summed, 6-dp final division.
    */
  private val apOracle: String = nbScoredCtes + raw""",
         cum AS (SELECT source, score, c, yv,
             sum(yv) OVER (PARTITION BY source ORDER BY score DESC) AS tp,
             sum(c) OVER (PARTITION BY source ORDER BY score DESC) AS nn
           FROM per),
         agg AS (SELECT source, CAST(sum(yv) AS BIGINT) AS n_pos,
             CAST(sum(c - yv) AS BIGINT) AS n_neg,
             sum(CAST(round(CAST(yv AS DOUBLE) * tp / nn, 12)
               AS DECIMAL(32,12))) AS s
           FROM cum GROUP BY 1)
         SELECT source, n_pos, n_neg,
           CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
                ELSE round(CAST(s AS DOUBLE) / n_pos, 6) END AS ap
         FROM agg ORDER BY source"""

  /** Shared by q301 (batch corpus-level segment dedup) and q303 (the same
    * screen with the corpus ARRIVING as id-ordered slices — streamed
    * keep-first equals one-shot keep-first by the
    * paragraphDedupStreaming batch-boundary argument): the synth text is
    * rebuilt with the same concatenation as synthSegmentedDocs; seg_ord
    * indexes the RAW split (empty segments filtered after ordinal
    * assignment, matching posexplode-then-filter); winner = row_number 1
    * over the md5-of-normalized-segment partition ordered by
    * (doc_id, seg_ord), exactly Dedup.paragraphDedup's min(struct)
    * convention.
    */
  private val paragraphDedupOracle: String =
    raw"""WITH b AS (SELECT doc_id,
             text || '. shared footer for ' || source ||
             (CASE WHEN doc_id % 5 = 0
                   THEN '. subscribe to our newsletter today' ELSE '' END)
               AS text
           FROM documents WHERE text IS NOT NULL),
         sp AS (SELECT doc_id, regexp_split_to_array(text, '\. ') AS sg FROM b),
         e AS (SELECT doc_id, i - 1 AS seg_ord, sg[i] AS seg
           FROM (SELECT doc_id, sg,
               unnest(generate_series(1, len(sg))) AS i FROM sp)
           WHERE sg[i] <> ''),
         w AS (SELECT doc_id, seg_ord, seg,
             row_number() OVER (PARTITION BY md5(lower(trim(seg)))
               ORDER BY doc_id, seg_ord) AS rn
           FROM e),
         a AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(array_to_string(
               list(seg ORDER BY seg_ord) FILTER (WHERE rn = 1), '. '), '')
               AS clean_text
           FROM w GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_total, 0) AS n_total, coalesce(a.n_kept, 0) AS n_kept
         FROM b LEFT JOIN a ON a.doc_id = b.doc_id ORDER BY b.doc_id"""

  /** Shared by q299 (persisted-index batch probe) and q307 (the same
    * probe with the increment ARRIVING as a stream — row-local given the
    * frozen state, so streamed == batch under any cut): the q169 IVFADC
    * CTEs over the standing/incoming split, models and codes from the
    * STANDING slice only (provenance invariance, the q284 convention).
    */
  private val annIndexProbeOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM st),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= (SELECT k FROM nc)),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""

  /** Shared by q128 (batch classifier gate) and q252 (the same scorer
    * streamed): the deterministic weight-table scorer replayed in SQL.
    * Null text scores NULL (Spark's hashedLinearScore propagates the
    * null through the fold) and the label falls to 'drop' — the CASE
    * guard keeps the oracle aligned with the engine on that row instead
    * of fabricating the bare bias.
    */
  private val classifierScoreOracle: String =
    raw"""WITH toks AS (SELECT doc_id, text,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents),
         sc AS (SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  ELSE CAST(32 + coalesce(list_sum(list_transform(tk, t ->
                    ((CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 4096)
                      * 2654435761) % 1024 - 512)), 0) AS BIGINT) END AS score
           FROM toks)
         SELECT doc_id, score,
           CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS label
         FROM sc ORDER BY doc_id"""

  private val semanticScreenOracle: String =
    """WITH ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS evv
                   FROM embeddings WHERE vec_id % 10 = 0),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id % 10 <> 0),
         s AS (SELECT c.vec_id, ev.eval_id,
                 list_cosine_similarity(cv, evv) AS cr
               FROM c CROSS JOIN ev),
         r AS (SELECT vec_id, eval_id, cr, row_number() OVER
                 (PARTITION BY vec_id ORDER BY cr DESC, eval_id) AS rn
               FROM s)
         SELECT vec_id, eval_id, round(cr, 6) + 0 AS cosine,
           round(cr, 6) >= 0.9 AS contaminated
         FROM r WHERE rn = 1 ORDER BY vec_id"""

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

  private val tokenDriftOracle: String =
    raw"""WITH tk AS (SELECT lang,
           unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '')) AS token
         FROM documents WHERE text IS NOT NULL),
        ca AS (SELECT token, count(*) AS n_a FROM tk WHERE lang = 'en' GROUP BY 1),
        cb AS (SELECT token, count(*) AS n_b FROM tk WHERE lang <> 'en' GROUP BY 1),
        j AS (SELECT coalesce(ca.token, cb.token) AS token,
            coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
          FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        t AS (SELECT CAST(sum(n_a) AS DOUBLE) AS na,
            CAST(sum(n_b) AS DOUBLE) AS nb FROM j),
        e AS (SELECT token, n_a, n_b,
            CAST(n_a + n_b AS DOUBLE) * na / (na + nb) AS ea,
            CAST(n_a + n_b AS DOUBLE) * nb / (na + nb) AS eb
          FROM j, t),
        s AS (SELECT token, n_a, n_b,
            round((CAST(n_a AS DOUBLE) - ea) * (CAST(n_a AS DOUBLE) - ea) / ea +
                  (CAST(n_b AS DOUBLE) - eb) * (CAST(n_b AS DOUBLE) - eb) / eb,
              6) AS chi2_term
          FROM e)
        SELECT token, n_a, n_b, chi2_term FROM s
        ORDER BY chi2_term DESC, token LIMIT 50"""

  /** q182's frozen retrieval queries — multi-term (the regime where BM25's
    * score SUM matters), mixing common terms (`the`, `table`) with rarer
    * ones so idf separation is exercised; `vector` appears in few docs.
    */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "customer join window", 2L -> "stream batch merge",
    3L -> "the vector table")

  private val bm25QueriesLit: String = bm25Queries
    .map { case (i, q) => s"($i, '$q')" }.mkString(", ")

  /** [[bm25Queries]] with every token replica-suffixed by `tag` — the
    * SAME regexp ScaleBench.buildScaled applies to the corpus text, so
    * a scale run queries the scaled corpus in ITS token space. Without
    * this the fixed query text matches zero postings on a suffixed
    * corpus and a "hybrid retrieval at 100×" row times an empty
    * pipeline (round-18 review finding).
    */
  private[graft] def bm25QueriesSuffixed(tag: String): Seq[(Long, String)] =
    if (tag.isEmpty) bm25Queries
    else bm25Queries.map { case (i, q) =>
      (i, q.replaceAll(ScaleBench.TokenPattern, "$1" + tag))
    }

  /** q310's engine body with the query set injected (the gate entry
    * passes [[bm25Queries]]; ScaleBench passes the replica-suffixed
    * set): the q182 BM25 ranking fused with a DENSE ranking whose query
    * vector comes from pseudo-relevance feedback — the per-dim DECIMAL
    * SUM of the BM25 top-3 docs' embeddings (sum, not mean: cosine is
    * scale-invariant, and skipping the division keeps the vector
    * engine-exact with no non-terminating quotient). Reciprocal-rank
    * fusion (1/(60+rank), 6dp, decimal-summed) composes the
    * incomparable BM25/cosine scales with no calibration. Text queries
    * have no embeddings, which is exactly the situation PRF exists for.
    */
  private[graft] def hybridRrf(s: SparkSession, d: String,
      queries: Seq[(Long, String)]): DataFrame = {
    val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      .where(col("text").isNotNull)
    val stats = docs
      .agg(count(lit(1)), sum(size(text.tokens(col("text"))).cast("long")))
      .head()
    val qdf = s.createDataFrame(queries).toDF("query_id", "qtext")
    // feeds BOTH the PRF vector and the fusion — evaluate once
    val bm25 = graft.ext.Vocab.bm25Search(docs, "doc_id", "text", qdf,
        "query_id", "qtext", stats.getLong(0), stats.getLong(1), k = 10)
      .localCheckpoint()
    require(!bm25.isEmpty,
      "hybrid retrieval: zero BM25 hits for every query — the corpus " +
        "and query token spaces do not match (a replica-suffixed scale " +
        "corpus needs bm25QueriesSuffixed; an unguarded mismatch here " +
        "once produced scale rows that timed an empty pipeline)")
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val prf = prfVector(bm25, emb)
    // distinct id spaces (query 1..3 vs doc 0..N): excludeSelf would
    // silently drop doc_id == query_id — the bruteForceTopK caveat
    val dense = Similarity.bruteForceTopK(emb, prf, idCol = "vec_id",
      vecCol = "embedding", queryIdCol = "query_id", k = 10,
      excludeSelf = false)
    Similarity.rrfFuse(Seq(
        bm25.select(col("query_id"), col("doc_id"),
          col("rnk").as("rank")),
        dense.select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))),
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** The PRF query vector shared by both hybrid faces: per-dim DECIMAL
    * sum of the BM25 top-3 docs' embeddings (engine-exact; the join
    * binds whichever slice `emb` carries).
    */
  private def prfVector(bm25: DataFrame, emb: DataFrame): DataFrame =
    bm25.where(col("rnk") <= 3)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")),
        Seq("doc_id"))
      .select(col("query_id"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("query_id"), col("dim"))
      .agg(sum(col("v").cast("decimal(18,8)")).cast("double").as("sv"))
      .groupBy(col("query_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("sv")))),
        x => x.getField("sv")).as("embedding"))

  /** q311's engine body with the query set injected: q310's hybrid
    * retrieval with the dense side served by the PERSISTED index —
    * corpus = the STANDING slice on BOTH rankings (the production
    * situation — the index IS the corpus), the PRF query vector probes
    * the standing IVF-PQ index at the q305 derived shortlist depth with
    * the measured-knee nProbe = 4, the ADC shortlist reranks EXACTLY by
    * cosine ([[Similarity.shortlistRerankTopK]]), and RRF fuses that
    * ranking with BM25 — hybrid retrieval inherits the index's flat
    * probe wall (ProbeBench) instead of q310's corpus-sized brute-force
    * stream. Self-exclusion stays OFF: retrieval query ids (1..3) live
    * in a different id space than doc ids (the q310 caveat).
    */
  private[graft] def hybridIndexed(s: SparkSession, d: String,
      queries: Seq[(Long, String)]): DataFrame = {
    val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      .where(col("text").isNotNull && col("doc_id") % 5 =!= 2)
    val stats = docs
      .agg(count(lit(1)), sum(size(text.tokens(col("text"))).cast("long")))
      .head()
    val qdf = s.createDataFrame(queries).toDF("query_id", "qtext")
    val bm25 = graft.ext.Vocab.bm25Search(docs, "doc_id", "text", qdf,
        "query_id", "qtext", stats.getLong(0), stats.getLong(1), k = 10)
      .localCheckpoint()
    require(!bm25.isEmpty,
      "hybrid retrieval: zero BM25 hits for every query — the corpus " +
        "and query token spaces do not match (a replica-suffixed scale " +
        "corpus needs bm25QueriesSuffixed; an unguarded mismatch here " +
        "once produced scale rows that timed an empty pipeline)")
    val emb = t(s, d, "embeddings").select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // PRF vector over the full table: the top-3 docs are standing docs,
    // so the join binds the same rows either way
    val prf = prfVector(bm25, emb)
    val (state, standingN) = standingAnnIndexWithCount(s, d)
    val shortS = Similarity.miningShortlistSize(standingN, k = 10)
    val shortlist = graft.ext.AnnIndex.probe(state, prf, "embedding",
        "query_id", k = shortS, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val dense = Similarity.shortlistRerankTopK(
      emb.where(col("vec_id") % 5 =!= 2), prf, shortlist,
      idCol = "vec_id", vecCol = "embedding", queryIdCol = "query_id",
      k = 10)
    Similarity.rrfFuse(Seq(
        bm25.select(col("query_id"), col("doc_id"),
          col("rnk").as("rank")),
        dense.select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))),
        k = 10)
      .orderBy("query_id", "rank")
  }

  /** q180's frozen mixture weights (source -> integer weight, lowest
    * terms): the four weight classes 1..4 over the 20 sources, lcm 12 —
    * ONE definition interpolated into both the Scala map and the oracle's
    * VALUES literal so they can never drift.
    */
  private val interleaveWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (1L + i % 4)).toMap

  private val interleaveWeightsLit: String = interleaveWeights.toSeq.sorted
    .map { case (s, w) => s"('$s', $w)" }.mkString(", ")

  /** DuckDB replay of the Viterbi unigram encode (UnigramRuntime
    * contract): per DISTINCT word, `spans`/`subc` pre-score every
    * (start, length<=maxPieceCp) substring against the vocab (single-cp
    * misses fall back to the unk composite; longer misses are
    * infeasible), then the recursive `step` carries the WHOLE dp array
    * as a list, appending `dp[pos+1] = min(dp[start] + pc)` over the
    * pieces ending at pos+1 — shortest-path DP as a recursive CTE, the
    * argmin a correlated aggregate like [[wpEncCte]]'s argmax. The
    * composite radix (cost * 2^20 + n_pieces) decomposes at the end
    * with integer div/mod. Yields CTEs `words` (doc_id, word) and
    * `fin` (word, nt, cost) — the scored-piece twin of [[wpEncCte]],
    * shared by q172/q173.
    */
  private val uniEncCte: String = {
    val S = graft.expressions.UnigramRuntime.TokenScale
    val maxL = uniVocab.map(p => p._1.codePointCount(0, p._1.length)).max
    val cap = 1000
    val pLit = uniVocab.map(p => s"'${p._1}'").mkString("[", ", ", "]")
    val cLit = uniVocab.map(_._2.toString).mkString("[", ", ", "]")
    raw"""warr AS (SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
       FROM documents WHERE text IS NOT NULL),
     words AS (SELECT doc_id, unnest(arr) AS word FROM warr),
     dw AS (SELECT DISTINCT word FROM words),
     uv AS (SELECT unnest($pLit) AS p, unnest($cLit) AS c),
     spans AS (
       SELECT d.word, ps.s AS start, ls.l AS l,
         substr(d.word, ps.s, ls.l) AS sub
       FROM dw d,
         LATERAL (SELECT unnest(generate_series(1, len(d.word))) AS s) ps,
         LATERAL (SELECT unnest(generate_series(1,
             least($maxL, len(d.word) - ps.s + 1))) AS l) ls
       WHERE len(d.word) <= $cap),
     subc AS (
       SELECT sp.word, sp.start, sp.l,
         coalesce(v.comp, CASE WHEN sp.l = 1 THEN $uniUnkCost*$S+1 END) AS pc
       FROM spans sp
       LEFT JOIN (SELECT p, c * $S + 1 AS comp FROM uv) v ON v.p = sp.sub),
     step(word, pos, dp) AS (
       SELECT word, 0, [CAST(0 AS BIGINT)] FROM dw WHERE len(word) <= $cap
       UNION ALL
       SELECT s.word, s.pos + 1, s.dp || [(
           SELECT min(s.dp[c.start] + c.pc)
           FROM subc c
           WHERE c.word = s.word AND c.start + c.l = s.pos + 2
             AND c.pc IS NOT NULL)]
       FROM step s WHERE s.pos < len(s.word)),
     fin AS (
       SELECT word, CAST(1 AS BIGINT) AS nt,
         CAST($uniUnkCost AS BIGINT) AS cost
       FROM dw WHERE len(word) > $cap
       UNION ALL
       SELECT word, dp[len(word) + 1] % $S, dp[len(word) + 1] // $S
       FROM step WHERE pos = len(word))"""
  }

  /** DuckDB replay of the greedy BPE encode (BpeRuntime contract): the
    * merge loop — lowest-ranked adjacent pair, leftmost occurrence, one
    * merge per step — as a recursive CTE over the corpus's DISTINCT words
    * (identical words encode once and join back). Yields CTEs `words`
    * (doc_id, source, wi, word) and `fin` (word, syms, nt).
    */
  private val bpeEncCte: String = {
    val mapLit = bpeMerges.zipWithIndex
      .map { case ((l, r), i) => (s"'$l $r'", i.toString) }
      .unzip match { case (ks, vs) =>
        s"MAP([${ks.mkString(", ")}], [${vs.mkString(", ")}])" }
    raw"""warr AS (SELECT doc_id, source,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS arr
       FROM documents WHERE text IS NOT NULL),
     words AS (SELECT doc_id, source, wi, arr[wi] AS word
       FROM (SELECT doc_id, source, arr,
           unnest(generate_series(1, len(arr))) AS wi FROM warr)),
     enc AS (
       SELECT word,
         list_transform(generate_series(1, length(word)), i -> word[i:i]) AS syms
       FROM (SELECT DISTINCT word FROM words)
       UNION ALL
       SELECT word,
         list_slice(syms, 1, p - 1) || [syms[p] || syms[p+1]]
           || list_slice(syms, p + 2, len(syms)) AS syms
       FROM (
         SELECT word, syms, list_aggregate(rk, 'min') AS mr,
           list_position(rk, list_aggregate(rk, 'min')) AS p
         FROM (
           SELECT word, syms,
             list_transform(generate_series(1, len(syms) - 1),
               i -> coalesce(map_extract($mapLit,
                 syms[i] || ' ' || syms[i+1])[1], 1000000)) AS rk
           FROM enc))
       WHERE mr < 1000000),
     fin AS (SELECT word, arg_min(syms, len(syms)) AS syms,
         min(len(syms)) AS nt
       FROM enc GROUP BY word)"""
  }

  /** Shared q24/q272 oracle: exact brute-force cosine top-5 over the
    * source embeddings — q272 runs the SAME ANN over vectors that
    * entered through the JSONL ingest gate, so one string gates both
    * (any ingest loss breaks the ranking hash).
    */
  private val annBruteOracle: String =
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                 list_cosine_similarity(qv, cv) AS cos_raw
               FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         r AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
               FROM s)
         SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""

  /** The q229/q273 savings-card replay, parameterized on the `lab` token
    * currency — whitespace count (q229) or the recursive BPE encode
    * chain's per-doc piece count (q273, bpeEncCte reused verbatim).
    */
  private def dedupSavingsOracle(bpe: Boolean): String = {
    val tokCtes =
      if (bpe)
        bpeEncCte + raw""",
         ntok AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
         """
      else ""
    val labCte =
      if (bpe)
        raw"""lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             CAST(coalesce(n.s, 0) AS BIGINT) AS n_tok
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
                            LEFT JOIN ntok n ON d.doc_id = n.doc_id)"""
      else
        raw"""lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
             coalesce(CAST(len(list_filter(regexp_split_to_array(d.text, '\s+'),
               x -> x <> '')) AS BIGINT), 0) AS n_tok
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)"""
    raw"""WITH RECURSIVE $tokCtes
         toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         $labCte,
         g AS (SELECT component, count(*) AS sz,
             CAST(sum(n_tok) AS BIGINT) AS tok_total,
             arg_min(n_tok, doc_id) AS tok_kept
           FROM lab GROUP BY 1)
         SELECT sz AS cluster_size, count(*) AS n_clusters,
           CAST(sum(tok_total) AS BIGINT) AS tokens_total,
           CAST(sum(tok_kept) AS BIGINT) AS tokens_kept,
           CAST(sum(tok_total) - sum(tok_kept) AS BIGINT) AS tokens_saved
         FROM g GROUP BY 1 ORDER BY 1"""
  }

  /** Shared q278/q279 oracle: the naive incoming-x-standing Jaccard
    * enumeration the prefix-filtered resemblance probe must reproduce.
    * ONE string for batch + streamed twin (the containmentProbeOracle
    * argument); the truncation slice is INTEGER arithmetic on both
    * sides.
    */
  private val resemblanceProbeOracle: String =
    raw"""WITH base AS (
         SELECT doc_id, text, 0 AS side FROM documents WHERE doc_id % 3 <> 0
         UNION ALL
         SELECT doc_id, text, 1 FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id + 2000000,
           array_to_string(list_slice(arr, 1, (9 * len(arr)) // 10), ' '), 1
         FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE doc_id % 3 = 1 AND text IS NOT NULL)),
       tk AS (SELECT doc_id, side,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM base WHERE text IS NOT NULL),
       shl AS (SELECT doc_id, side, CASE WHEN len(arr) < 3
           THEN [array_to_string(arr, ' ')]
           ELSE list_transform(generate_series(1, len(arr) - 2),
             i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
         FROM tk),
       tok AS (SELECT DISTINCT doc_id, side,
           CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
         FROM (SELECT doc_id, side, unnest(sh) AS g FROM shl)),
       sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
       inter AS (SELECT a.doc_id AS id_in, b.doc_id AS id_host,
           count(*) AS ic
         FROM tok a JOIN tok b ON a.token = b.token
           AND a.side = 1 AND b.side = 0
         GROUP BY 1, 2),
       c AS (SELECT id_in, id_host, si.s AS szi, sh.s AS szh, ic,
           CAST(ic AS DOUBLE) / (si.s + sh.s - ic) AS jac
         FROM inter JOIN sz si ON si.doc_id = id_in
                    JOIN sz sh ON sh.doc_id = id_host)
       SELECT id_in, id_host, CAST(szi AS BIGINT) AS sz_in,
         CAST(szh AS BIGINT) AS sz_host, CAST(ic AS BIGINT) AS overlap,
         round(jac, 6) AS jaccard
       FROM c WHERE jac >= 0.6 ORDER BY id_in, id_host"""

  /** Shared q270/q271 oracle: the naive incoming-x-standing containment
    * enumeration (every cross pair sharing a shingle, cont = ic/|in|) —
    * the q266 zero-false-negative oracle split across two frames. ONE
    * string, so the batch probe and its streamed twin can never assert
    * different things (per-doc results are row-local given the frozen
    * state, so streamed == batch under any cut).
    */
  private val containmentProbeOracle: String =
    raw"""WITH stand AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 5 <> 0 AND text IS NOT NULL),
         inc AS (SELECT doc_id, text FROM documents
             WHERE doc_id % 5 = 0 AND text IS NOT NULL
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), 1, 40), ' ')
           FROM documents
           WHERE doc_id % 5 <> 0 AND doc_id % 10 = 1 AND text IS NOT NULL),
         tks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM stand),
         tki AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM inc),
         shs AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tks),
         shi AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tki),
         tok_s AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shs)),
         tok_i AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shi)),
         szi AS (SELECT doc_id, count(*) AS s FROM tok_i GROUP BY 1),
         inter AS (SELECT i.doc_id AS id_in, h.doc_id AS id_host,
             count(*) AS ic
           FROM tok_i i JOIN tok_s h ON i.token = h.token
           GROUP BY 1, 2),
         c AS (SELECT id_in, id_host, szi.s AS szin, ic,
             CAST(ic AS DOUBLE) / szi.s AS cont
           FROM inter JOIN szi ON szi.doc_id = id_in)
         SELECT id_in, id_host, CAST(szin AS BIGINT) AS sz_in,
           CAST(ic AS BIGINT) AS overlap, round(cont, 6) AS containment
         FROM c WHERE cont >= 0.8 ORDER BY id_in, id_host"""

  /** The q249/q267/q269 close-out replay, parameterized on the token
    * currency of the `lab` CTE — the whitespace count (q249) or the
    * recursive BPE encode chain's per-doc piece count (q267, the q156
    * bpeEncCte reused verbatim — ONE encode definition across card +
    * budgets + close-out) — and on the optional containment screen
    * (q269: the q266 naive-enumeration containment replay as a drop
    * stage between decontamination and dedup).
    */
  private def curationCloseOracle(
      bpe: Boolean, containment: Boolean = false): String = {
    val tokCtes =
      if (bpe)
        bpeEncCte + raw""",
         ntok AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
         """
      else ""
    val labCte =
      if (bpe)
        raw"""lab AS (SELECT c.doc_id,
             coalesce(cp.component, c.doc_id) AS component,
             CAST(coalesce(n.s, 0) AS BIGINT) AS n_tok
           FROM surv c LEFT JOIN comp cp ON c.doc_id = cp.doc_id
                       LEFT JOIN ntok n ON c.doc_id = n.doc_id)"""
      else
        raw"""lab AS (SELECT c.doc_id,
             coalesce(cp.component, c.doc_id) AS component,
             CAST(len(list_filter(regexp_split_to_array(c.text, '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tok
           FROM surv c LEFT JOIN comp cp ON c.doc_id = cp.doc_id)"""
    // q269: the q266 naive containment enumeration over the cleaned
    // frame (text.tokens split + 3-gram shingles + the portable md5
    // token hash), then the subsumption drop — contained in a strictly
    // larger doc, or in an equal-sized one with a smaller id. Off: surv
    // is cleaned verbatim.
    val survCtes =
      if (containment)
        raw"""ctk AS (SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
             FROM cleaned WHERE text IS NOT NULL),
         cshl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM ctk),
         ctok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM cshl)),
         csz AS (SELECT doc_id, count(*) AS s FROM ctok GROUP BY 1),
         cinter AS (SELECT a.doc_id AS pa, b.doc_id AS pb, count(*) AS ic
           FROM ctok a JOIN ctok b ON a.token = b.token
             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         cdrop AS (SELECT DISTINCT pa AS doc_id FROM cinter
           JOIN csz sa ON sa.doc_id = pa JOIN csz sb ON sb.doc_id = pb
           WHERE CAST(ic AS DOUBLE) / sa.s >= 0.8
             AND (sa.s < sb.s OR (sa.s = sb.s AND pa > pb))),
         surv AS (SELECT doc_id, source, text FROM cleaned
           WHERE doc_id NOT IN (SELECT doc_id FROM cdrop)),"""
      else "surv AS (SELECT doc_id, source, text FROM cleaned),"
    raw"""WITH RECURSIVE $tokCtes
         pr AS (SELECT doc_id, source, n_chars, text,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
           FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL),
         gated AS (SELECT doc_id, source, text FROM pr
           WHERE round(pr, 6) >= 0.2),
         capped AS (SELECT doc_id, source, text FROM (
             SELECT doc_id, source, text,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
             FROM gated) WHERE rk <= 40),
         ev AS (SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS evv
           FROM embeddings WHERE vec_id % 10 = 0),
         cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cvv
           FROM embeddings WHERE vec_id % 10 <> 0),
         contam AS (SELECT DISTINCT vec_id FROM cv CROSS JOIN ev
           WHERE round(list_cosine_similarity(cvv, evv), 6) >= 0.9),
         cleaned AS (SELECT doc_id, source, text FROM capped
           WHERE doc_id % 10 <> 0
             AND doc_id NOT IN (SELECT vec_id FROM contam)),
         $survCtes
         toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM surv),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         pairs2 AS (SELECT id_l, id_r FROM j WHERE jac >= 0.6),
         e AS (SELECT id_l AS a, id_r AS b FROM pairs2
               UNION SELECT id_r, id_l FROM pairs2),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         $labCte,
         asg AS (SELECT doc_id, component, n_tok, CASE
             WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
             WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
             ELSE 'test' END AS split
           FROM lab),
         split_rows AS (SELECT 'split' AS section, split AS key_a,
             CAST(NULL AS VARCHAR) AS key_b, count(*) AS n_rows,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens,
             CAST(NULL AS BIGINT) AS n_extra
           FROM asg GROUP BY 2),
         leak AS (SELECT 'leakage' AS section,
             least(al.split, ar.split) AS key_a,
             greatest(al.split, ar.split) AS key_b, count(*) AS n_rows,
             CAST(NULL AS BIGINT) AS n_tokens, CAST(NULL AS BIGINT) AS n_extra
           FROM pairs2 p JOIN asg al ON p.id_l = al.doc_id
                         JOIN asg ar ON p.id_r = ar.doc_id
           GROUP BY 2, 3),
         cl AS (SELECT component, count(*) AS csz,
             CAST(sum(n_tok) AS BIGINT) AS tok_total,
             arg_min(n_tok, doc_id) AS tok_kept
           FROM asg GROUP BY 1),
         sav AS (SELECT 'savings' AS section, CAST(csz AS VARCHAR) AS key_a,
             CAST(NULL AS VARCHAR) AS key_b, count(*) AS n_rows,
             CAST(sum(tok_total) AS BIGINT) AS n_tokens,
             CAST(sum(tok_kept) AS BIGINT) AS n_extra
           FROM cl GROUP BY 2)
         SELECT section, key_a, key_b, n_rows, n_tokens, n_extra
         FROM split_rows
         UNION ALL SELECT section, key_a, key_b, n_rows, n_tokens, n_extra FROM leak
         UNION ALL SELECT section, key_a, key_b, n_rows, n_tokens, n_extra FROM sav
         ORDER BY section, key_a, key_b NULLS FIRST"""
  }

  /** The q249/q267 composed curation close-out, parameterized on the
    * token currency (the q156/q171 pluggable-counter contract applied to
    * the close-out card). The round-11 curation layer composed as ONE
    * declared plan (the q90/q140 convention): per-source percentile
    * length gate (q238) -> domain cap (q219) -> eval holdout + semantic
    * decontamination (q228) -> near-dup-cluster-keyed split (q174) ->
    * close-out card = per-split totals + the q245 leakage audit + the
    * q229 savings rollup, three sections in one frame. The gated-corpus
    * chain and the pair machinery are each materialized ONCE
    * (localCheckpoint, the q245 pattern — the survivor frame feeds the
    * pair join, the label join and three card sections); the final card
    * plan reads ONLY the two checkpointed frames: zero source re-scans,
    * plan-locked in PlanAuditSpec.
    */
  private def curationCloseCard(
      s: SparkSession, d: String,
      nTokOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      containmentTau: Option[Double] = None)
      : DataFrame = {
    import graft.ext.{Decontaminate, Dedup, Selection, Splits}
    val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      .where(col("text").isNotNull)
    // 1) each source drops its own shortest 20% (ties survive together)
    val gated = graft.ops.Profile.percentileGate(
      docs.select(col("doc_id"), col("source"), col("n_chars"), col("text")),
      Seq("source"), "n_chars", minPct = 0.2)
    // 2) <= 40 docs per source in deterministic (md5(id), id) order —
    // the GroupTopK heap reuses the gate's source partitioning
    val capped = Selection.capPerGroup(gated, "source", "doc_id", cap = 40)
      .drop("pick")
    // 3) hold out the eval slice (doc_id%10==0, the q228 geometry) and
    // drop survivors whose embedding cosines >= 0.9 against it
    val emb = t(s, d, "embeddings")
    val contaminated = Decontaminate.semanticHits(
        emb.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
        emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding",
        tau = 0.9)
      .where(col("contaminated")).select(col("vec_id").as("doc_id"))
    val cleaned0 = capped.where(col("doc_id") % 10 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    // 3b) optional containment screen (q269): drop quote-in-host docs —
    // the one dedup signal resemblance misses; runs on the capped
    // survivor frame, so the prefix-filtered pair stage is bounded
    val cleaned = containmentTau match {
      case Some(tau) => Dedup.containmentDedup(
          cleaned0, "doc_id", "text", tau = tau, shingleK = 3)
        .localCheckpoint()
      case None => cleaned0
    }
    // 4) verified minhash pairs -> components -> cluster-keyed split
    val pairs = Dedup.minhashPairs(cleaned, "doc_id", "text",
      threshold = 0.6).localCheckpoint()
    val cc = Dedup.connectedComponents(pairs)
    val assigned = Splits.byClusterHash(
        cleaned.select(col("doc_id"), col("source"), col("text"))
          .join(cc.select(col("id").as("doc_id"), col("component")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("component"),
            nTokOf(col("text")).as("n_tok")),
        "component", Seq(0.8, 0.1, 0.1), Seq("train", "val", "test"))
      .localCheckpoint()
    // 5) the card: split totals + leakage matrix + savings rollup
    val nullS = lit(null).cast("string")
    val nullL = lit(null).cast("long")
    val splitRows = assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .select(lit("split").as("section"), col("split").as("key_a"),
        nullS.as("key_b"), col("n_rows"), col("n_tokens"),
        nullL.as("n_extra"))
    val leakRows = Splits.leakageAudit(pairs, "id_l", "id_r",
        assigned, "doc_id", "split")
      .select(lit("leakage").as("section"), col("split_l").as("key_a"),
        col("split_r").as("key_b"), col("n_pairs").as("n_rows"),
        nullL.as("n_tokens"), nullL.as("n_extra"))
    val savingsRows = assigned.groupBy(col("component"))
      .agg(count(lit(1)).as("sz"),
        sum(col("n_tok")).cast("long").as("tok_total"),
        min_by(col("n_tok"), col("doc_id")).cast("long").as("tok_kept"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("tok_total")).cast("long").as("n_tokens"),
        sum(col("tok_kept")).cast("long").as("n_extra"))
      .select(lit("savings").as("section"),
        col("sz").cast("string").as("key_a"), nullS.as("key_b"),
        col("n_rows"), col("n_tokens"), col("n_extra"))
    splitRows.unionByName(leakRows).unionByName(savingsRows)
      .orderBy("section", "key_a", "key_b")
  }

  /** Flagship query on sf=0.001 (multi-join star-schema aggregation). */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One-time physical layout for the bucketed-join query: both fact tables
    * bucketed+sorted by the join key, names tagged by source dir so distinct
    * scale factors never alias. Idempotent — the write happens once per JVM;
    * later q46 invocations plan straight against the bucketed scan.
    */
  def prepareBucketedTables(s: SparkSession, d: String): (String, String) = {
    import graft.io.BucketedTables
    // tag = sanitized dir path (readable) + md5 prefix of the EXACT path:
    // sanitization alone is lossy ("/sf0.1" and "/sf0_1" collapse), so the
    // hash suffix keeps distinct source dirs from aliasing each other's
    // tables and silently serving wrong-scale data
    val sanitized = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase(java.util.Locale.ROOT)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val tag = s"${sanitized}_$digest"
    val ordersTbl = s"graft_v_orders_$tag"
    val lineitemTbl = s"graft_v_lineitem_$tag"
    BucketedTables.ensureBucketed(
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      ordersTbl, "o_orderkey", 8, sortCol = Some("o_orderkey"))
    BucketedTables.ensureBucketed(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      lineitemTbl, "l_orderkey", 8, sortCol = Some("l_orderkey"))
    (ordersTbl, lineitemTbl)
  }

  /** Benchmark prepare phase: all one-time layout work that must NOT be
    * charged to a timed query (bucketed-table writes). Verify/correctness
    * paths don't need to call this — queries self-prepare on first use.
    */
  def benchPrepare(s: SparkSession, d: String): Unit = {
    prepareBucketedTables(s, d)
    ()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ------------------------------------------------------------------
    // Delegated-SQL capability sweep (SURVEY.md §2.6): the relational
    // surface the reference pushes to the remote DB inside `query`.
    // ------------------------------------------------------------------
    "q01_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    "q02_filter_pushdown" -> ((s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate").cast("timestamp") >= ts("1998-01-01") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber", "net_price")
    }),

    "q03_topk_revenue" -> ((s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").where(col("o_orderdate").cast("timestamp") < ts("1999-01-01"))
      t(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    "q04_region_revenue" -> ((s, d) => {
      val asia = t(s, d, "region").where(col("r_name") === "ASIA")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q05_running_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running",
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("running"))
        .orderBy("o_custkey", "rn")
    }),

    "q06_intersect" -> ((s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    }),

    "q07_except" -> ((s, d) => {
      t(s, d, "orders").select(col("o_orderkey").as("k"))
        .except(t(s, d, "lineitem").select(col("l_orderkey").as("k")))
        .orderBy("k")
    }),

    "q08_rollup" -> ((s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "q09_semijoin" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    "q10_antijoin" -> ((s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }),

    "q11_having" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .where(col("n_orders") >= 5)
        .orderBy("o_custkey")
    }),

    "q12_scalar_funcs" -> ((s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        when(col("p_size") < 10, "small").when(col("p_size") < 30, "mid")
          .otherwise("big").as("size_class"),
        round(col("p_retailprice") / 7.0, 3).as("price_div"))
        .orderBy("p_partkey")
    }),

    "q13_date_funcs" -> ((s, d) => {
      val od = col("o_orderdate").cast("timestamp")
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(od).cast("long").as("yr"),
        month(od).cast("long").as("mo"),
        quarter(od).cast("long").as("qtr"),
        epochSec(date_trunc("month", od)).as("month_start_epoch"),
        datediff(od.cast("date"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy("o_orderkey")
    }),

    // ------------------------------------------------------------------
    // Reference parity operators (SURVEY.md §2.3-2.5)
    // ------------------------------------------------------------------
    "q14_matchmerge_inner" -> ((s, d) => {
      MatchMerge(t(s, d, "lineitem"), t(s, d, "part"),
        byX = Seq("l_partkey"), byY = Seq("p_partkey"),
        addColumns = Seq("p_brand", "p_retailprice"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("p_brand"), col("p_retailprice"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    }),

    "q15_matchmerge_left" -> ((s, d) => {
      MatchMerge(t(s, d, "orders"), t(s, d, "customer"),
        byX = Seq("o_custkey"), byY = Seq("c_custkey"), allX = true,
        addColumns = Seq("c_name", "c_mktsegment"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("o_orderkey")
    }),

    "q16_recoder" -> ((s, d) => {
      Ops.recodeCol(t(s, d, "lineitem"), "l_returnflag",
        from = Seq("A", "R"), to = Seq("ACCEPTED", "RETURNED"))
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"))
        .orderBy("flag")
    }),

    "q17_rename" -> ((s, d) => {
      Ops.renameColumns(t(s, d, "region"),
        from = Seq("r_regionkey", "r_name"), to = Seq("regionkey", "region_name"))
        .orderBy("regionkey")
    }),

    "q18_factorise" -> ((s, d) => {
      val nation = t(s, d, "nation")
      val f = Ops.factorise(nation, cols = Seq("n_name"), ordered = true)
      val levels = Ops.levelsOf(f, "n_name").getOrElse(Nil)
      f.select(col("n_name").as("level")).distinct()
        .withColumn("rnk", Ops.levelRank(col("level"), levels).cast("long"))
        .orderBy("level")
    }),

    "q19_locf" -> ((s, d) => {
      val ev = events(s, d).select(col("event_id"),
        when(pmod(col("event_id"), lit(5)).isin(1, 2), lit(null))
          .otherwise(col("value")).as("x"))
      NaLocfPlusOne(ev, orderCol = "event_id", valueCol = "x", outCol = "filled")
        .select(col("event_id"), col("filled"))
        .orderBy("event_id")
    }),

    // ------------------------------------------------------------------
    // Training-data-pipeline extensions: dedup / similarity / text /
    // multimodal / streaming
    // ------------------------------------------------------------------
    "q20_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"), cols = Seq("text"), idCol = "doc_id")
        .select(col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    }),

    "q21_dedup_minhash" -> ((s, d) => {
      // fanOut: shingle hashing + signatures are row-local pre-exchange
      Dedup.minhashDedup(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q64_dedup_increment" -> ((s, d) => {
      // incremental dedup: increment (doc_id >= 400) deduped against the
      // standing corpus (doc_id < 400) plus itself; corpus never rescanned
      val docs = t(s, d, "documents")
      Dedup.minhashDedupAgainst(
        docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
        "doc_id", "text", threshold = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q22_dedup_simhash" -> ((s, d) => {
      // portable md5-based variant so the bit-vote algorithm hash-matches a
      // DuckDB oracle; the one-pass xxhash64 fast path (Dedup.simhash) and
      // the hamming-banded pair generator stay engine-tested in DedupSpec
      Dedup.simhashPortable(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q67_decontaminate" -> ((s, d) => {
      // benchmark decontamination: every doc sharing an 8-token shingle with
      // the "benchmark" subset (doc_id % 10 == 0) is dropped — including the
      // benchmark docs themselves and their planted near-dups
      val docs = t(s, d, "documents")
      Decontaminate(docs, "doc_id", "text",
        benchmark = docs.where(col("doc_id") % 10 === 0), benchTextCol = "text",
        n = 8)
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q125_oov_rate" -> ((s, d) => {
      // vocabulary coverage: per-doc token occurrences outside the corpus'
      // own top-100 vocab — the tokenizer-fit metric run before committing
      // to a vocab; explode + broadcast vocab join + combinable count
      val docs = t(s, d, "documents")
      val vocab = graft.ext.Vocab.topTokens(docs, "text", k = 100)
        .select("token")
      graft.ext.Vocab.oovStats(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    "q121_contamination_spans" -> ((s, d) => {
      // span-level leakage report: which benchmark example (doc_id % 10 == 0
      // subset) escaped into which training doc, with span count and the
      // earliest 0-based token offset — q67 decides drops, this shows the
      // eval owner the evidence
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      Decontaminate.contaminationSpans(docs, "doc_id", "text",
          benchmark = docs.where(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("bench_id"), col("text")),
          benchIdCol = "bench_id", benchTextCol = "text", n = 8)
        .orderBy("doc_id", "bench_id")
    }),

    "q124_html_extract" -> ((s, d) => {
      // main-text extraction from scraped HTML: wrap each doc in a
      // deterministic synthetic page (q68's synthesis pattern), strip tags,
      // decode entities in the documented order, recollapse whitespace —
      // md5 + token count put every output byte under the oracle
      val page = concat(
        lit("<html><body><h1>Doc </h1><p class=\"main\">"), col("text"),
        lit(" &amp; more</p><br/></body></html>"))
      t(s, d, "documents")
        .select(col("doc_id"), text.stripHtml(page).as("clean"))
        .select(col("doc_id"), md5(col("clean")).as("h"),
          text.tokenCount(col("clean")).cast("long").as("n_tok"))
        .orderBy("doc_id")
    }),

    "q68_scrub" -> ((s, d) => {
      // PII scrub over deterministic synthetic PII (the fixture corpus has
      // none): counts are taken on progressively redacted text so an email
      // inside a URL never double-counts; md5 proves byte parity end-to-end
      val synth = concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@mail.example.com via https://data.example.org/d/"),
        col("doc_id").cast("string"), lit(" end"))
      t(s, d, "documents").select(
        col("doc_id"),
        text.matchCount(synth, text.urlPattern).cast("long").as("n_urls"),
        text.matchCount(text.redactUrls(synth), text.emailPattern)
          .cast("long").as("n_emails"),
        md5(text.scrubPII(synth)).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    "q69_vocab_topk" -> ((s, d) => {
      graft.ext.Vocab.topTokens(t(s, d, "documents"), "text", 100)
    }),

    "q71_stream_corpus_dedup" -> ((s, d) => {
      // continuous corpus ingestion: two deterministic micro-batches (cut at
      // the median id), each deduped against the all-seen index — result is
      // batch-boundary-invariant and equals the one-shot canonical-min dedup,
      // so q21's oracle semantics gate the streaming path too
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents")
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(mid))
      CorpusStreams.corpusDedupStreaming(s, staged, "doc_id", "text",
        threshold = 0.6, shufflePartitions = Some(8),
        batchAdaptive = Some(false))
        .orderBy("doc_id")
    }),

    "q139_dedup_keep_best" -> ((s, d) => {
      // retention POLICY knob on transitive near-dup clusters: keep the
      // LONGEST member (token count desc, id asc) instead of min-id — the
      // practical policy when a group holds trimmed/boilerplate variants
      // of one page. Representative choice rides the GroupTopK heap
      // operator (k=1), so the policy costs no extra shuffle.
      val docs = fanOut(s,
        t(s, d, "documents").where(col("text").isNotNull), "doc_id")
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6))
      val labeled = Dedup.labelComponents(
        docs.select(col("doc_id"),
          text.tokenCount(col("text")).cast("long").as("n_tok")),
        cc, "doc_id")
      val sizes = labeled.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
      Ops.topKPerGroup(labeled, Seq("component"),
          Seq(col("n_tok").desc, col("doc_id").asc), k = 1)
        .join(sizes, Seq("component"))
        .select(col("component"), col("doc_id"), col("n_tok"), col("n_members"))
        .orderBy("component")
    }),

    "q70_dedup_components" -> ((s, d) => {
      // transitive near-dup clustering: every doc labeled with the min id
      // reachable through verified minhash pairs (singletons label themselves)
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6))
      Dedup.labelComponents(docs.select(col("doc_id")), cc, "doc_id")
        .select(col("doc_id"), col("component"))
        .orderBy("doc_id")
    }),

    "q293_soft_dedup" -> ((s, d) => {
      // SOFT dedup: every document kept, weighted 1/|near-dup cluster| —
      // the sampling-time alternative to dropping (a weighted sampler
      // sees each cluster contribute ~one document-equivalent while
      // intra-cluster variety survives). Same clusters as q70 by
      // construction (shared pair + component machinery), so the oracle
      // is q70's chain + one count + one division
      Dedup.softDedupWeights(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .orderBy("doc_id")
    }),

    "q23_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", n = 5, threshold = 0.8)
        .orderBy("id_l", "id_r")
    }),

    "q107_exact_substring" -> ((s, d) => {
      // exact-substring dedup pairs (Lee et al. 2021): docs sharing a
      // 12-token exact run, joined on the window string itself
      Dedup.exactSubstringPairs(fanOut(s, t(s, d, "documents"), "doc_id", parts = 8),
          "doc_id", "text", windowTokens = 12)
        .orderBy("id_l", "id_r")
    }),

    "q116_exact_substring_apply" -> ((s, d) => {
      // the APPLY step of exact-substring dedup: cleaned text under the
      // keep-first contract (min doc id claims each 12-token window; higher
      // ids lose every covered token). No pair stage at all — one window
      // min-agg + equi-join back, then row-local span union + rebuild.
      // md5(clean_text) keeps the oracle row narrow while hashing every
      // surviving byte.
      Dedup.exactSubstringDedup(fanOut(s, t(s, d, "documents"), "doc_id", parts = 8),
          "doc_id", "text", windowTokens = 12)
        .select(col("doc_id"), md5(col("clean_text")).as("h"),
          col("n_total"), col("n_kept"))
        .orderBy("doc_id")
    }),

    "q120_substring_dedup_incr" -> ((s, d) => {
      // incremental apply: the lower-id half is the standing corpus (its
      // window index built once, corpus never re-tokenized); the upper half
      // arrives as a batch and loses every span the corpus already holds
      // plus batch-internal keep-first claims. Because corpus ids precede
      // batch ids, the result EQUALS the one-shot q116 restricted to the
      // batch — which is exactly what the oracle SQL states.
      val docs = fanOut(s, t(s, d, "documents"), "doc_id", parts = 8)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val idx = Dedup.exactSubstringWindows(docs.where(col("doc_id") <= mid),
        "doc_id", "text", windowTokens = 12)
      Dedup.exactSubstringDedupAgainst(docs.where(col("doc_id") > mid), idx,
          "doc_id", "text")
        .select(col("doc_id"), md5(col("clean_text")).as("h"),
          col("n_total"), col("n_kept"))
        .orderBy("doc_id")
    }),

    "q72_embed_quantize" -> ((s, d) => {
      // int8 embedding compression: one-pass native quantization, exploded
      // per-dimension so the DuckDB oracle hash-checks every code + scale
      t(s, d, "embeddings")
        .select(col("vec_id"), vectors.int8Quantize(col("embedding")).as("q"))
        .select(col("vec_id"), col("q.scale").as("scale"),
          posexplode(col("q.codes")).as(Seq("dim0", "code")))
        .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
          col("code").cast("long").as("code"), col("scale"))
        .orderBy("vec_id", "dim")
    }),

    "q66_embed_centroids" -> ((s, d) => {
      // exact per-label mean embedding (class centroids), decimal-routed
      Similarity.meanVectors(t(s, d, "embeddings"), Seq("label"), "embedding")
        .select(col("label"), col("dim").cast("long").as("dim"), col("mean_v"))
        .orderBy("label", "dim")
    }),

    "q24_knn_bruteforce" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q304_hard_negatives" -> ((s, d) => {
      // hard-negative mining for contrastive training (round 17): the
      // labeled positive per query is its TRUE top-1 neighbor (so the
      // exclusion provably bites on every query — the mined list must
      // differ from q24's at rank 1), and the 0.95 margin guard screens
      // unlabeled near-positives. The oracle recomputes the top-1 and
      // both exclusions in SQL.
      val emb = t(s, d, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      val positives = Similarity.bruteForceTopK(emb, queries,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("pos_id"))
      Similarity.hardNegatives(emb, queries, positives,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 5, excludeAbove = 0.95)
        .orderBy("query_id", "rank")
    }),

    "q272_ingested_ann" -> ((s, d) => {
      // the interchange -> ANN loop closed: embeddings enter through the
      // JSONL ingest gate (q268's lossless float32 contract, wrong-length
      // guard ON) and feed the exact brute-force top-k unchanged — the
      // oracle is q24's replay over the SOURCE parquet, so any ingest
      // loss would break the ranking hash
      val staged = graft.io.TextTables.scratchDir("emb_ann_in", d)
      t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").json(staged)
      val emb = graft.io.TextTables.readEmbeddingJsonl(s, staged, dim = Some(64))
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q25_knn_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
        dim = 64, k = 5, tables = 8, bits = 8)
        .orderBy("query_id", "rank")
    }),

    "q51_knn_ivf" -> ((s, d) => {
      // IVF coarse-quantizer ANN: train k-means cells, probe nearest cells,
      // exact rerank. Rows-only (centroid FP wobble is run-local).
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      graft.ext.Ivf.topK(model, emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "q118_knn_ivf_portable" -> ((s, d) => {
      // IVF ANN under a FULL hash oracle: the portable seed quantizer
      // (centroids = 8 smallest-md5(id) corpus vectors, no iteration) is
      // reproducible in DuckDB SQL, so cell assignment, nProbe probing and
      // the exact re-rank are all differentially tested. q51 stays the
      // trained (recall-asserted) production variant.
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Ivf.portableSeedModel(emb, "vec_id", "embedding", k = 8)
      graft.ext.Ivf.topK(model, emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "q168_knn_pq" -> ((s, d) => {
      // PQ/ADC ANN under a FULL hash oracle: seed codebooks (16 smallest-
      // md5 corpus vectors sub-sliced into 8 subspaces), codes and ADC
      // scores all evaluate in fixed nested order, so the SQL replay is
      // bit-exact (0.0 measured drift) — the memory-bounded third leg
      // next to brute force (q24) and IVF (q118/q51): candidates are 8
      // ints each and score via 8 table lookups, never a dim-float loop
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Pq.portableSeedCodebooks(emb, "vec_id",
        "embedding", m = 8, c = 16)
      graft.ext.Pq.adcTopK(model, emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q169_knn_ivfpq" -> ((s, d) => {
      // the production ANN architecture (FAISS IVFADC) as a COMPOSITION
      // of the two oracled components: q118's portable coarse quantizer
      // prunes to nProbe cells, q168's fixed-order ADC scores the
      // survivors — candidates carry (cell, codes), never floats, and
      // the probe join is a broadcast equi-join on the cell id
      val emb = t(s, d, "embeddings")
      val coarse = graft.ext.Ivf.portableSeedModel(emb, "vec_id",
        "embedding", k = 8)
      val pq = graft.ext.Pq.portableSeedCodebooks(emb, "vec_id",
        "embedding", m = 8, c = 16)
      graft.ext.Pq.ivfAdcTopK(coarse, pq, emb,
          emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "q291_knn_pq_trained" -> ((s, d) => {
      // trained PQ under a FULL hash oracle: ONE Lloyd step from the
      // q168 seed codebooks — assignment replayed as the argmin
      // sub-distance (ties to the lower cell, PqRuntime's strict <),
      // the update as exact decimal(28,6) means of 6-dp coords divided
      // in double and re-quantized to 6 dp (the q261 iterate
      // convention) — so the refined codewords, codes and ADC ranks all
      // hash-match DuckDB. RecallBench measures the production setting
      // (iters = 3) beside this contract shape: seed PQ recall ~0.5 is
      // pure quantization loss, and training is the standard fix.
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Pq.train(emb, "vec_id", "embedding",
        m = 8, c = 16, iters = 1)
      graft.ext.Pq.adcTopK(model, emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }),

    "q292_knn_pq_rerank" -> ((s, d) => {
      // ADC shortlist + exact cosine re-rank, fully hash-oracled: the
      // RecallBench finding is that ADC recall (~0.5 at c=16) is a
      // quantization ceiling Lloyd training cannot buy back (q291
      // moved it ~+0.02) — the production remedy over-retrieves by ADC
      // (10x k, code-only scans) and re-ranks just the shortlist with
      // exact cosine on raw floats (measured 0.94-0.99, scale-flat).
      // Both stages replay: q168's ADC chain cut at rank <= 50, then
      // the q24 cosine convention over the shortlist join.
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Pq.portableSeedCodebooks(emb, "vec_id",
        "embedding", m = 8, c = 16)
      graft.ext.Pq.adcRerankTopK(model, emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5, shortlist = 50)
        .orderBy("query_id", "rank")
    }),

    "q297_pq_rerank_scaled" -> ((s, d) => {
      // the q292 rerank under the DERIVED shortlist (r16 verdict #1):
      // a fixed S dilutes as the corpus grows (measured 0.78->0.56 at
      // 1x->25x), so the sizing rule S = max(ceil(frac * |corpus|),
      // 10k) now rides the CODE — the oracle recomputes S from
      // count(*) and replays both stages. frac = 0.2 here so the
      // fraction term (not the 10k floor) decides S at the gate's
      // 500-vector fixture; production default is Pq.DefaultShortlistFrac
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Pq.portableSeedCodebooks(emb, "vec_id",
        "embedding", m = 8, c = 16)
      graft.ext.Pq.adcRerankTopK(model, emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5, shortlistFrac = 0.2)
        .orderBy("query_id", "rank")
    }),

    "q299_ann_index_probe" -> ((s, d) => {
      // the persisted IVF-PQ index probed by an increment — the ANN
      // family's q284 (round 17): the standing corpus is encoded ONCE
      // (cell id + PQ codes, ~9 bytes/vector instead of 256 float
      // bytes) and persisted with its frozen models under the same
      // loud StateManifest contract as the four dedup states; the
      // query pays state LOAD + a broadcast probe join on the probed
      // cells only. Oracle = the q169 IVFADC composition over the
      // standing slice with incoming probes — results are
      // state-provenance-invariant (the q284 convention).
      val emb = t(s, d, "embeddings")
      val incoming = emb.where(col("vec_id") % 5 === 2)
      graft.ext.AnnIndex.probe(standingAnnIndex(s, d), incoming,
          "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "q307_stream_ann_probe" -> ((s, d) => {
      // q299 with the increment ARRIVING as a stream: the persisted
      // index is frozen, each micro-batch probes independently (a
      // query's top-k is row-local given the state), so the streamed
      // sink equals the batch probe under any cut and q299's oracle
      // gates this path verbatim — the ANN family's q271/q279
      import graft.streaming.CorpusStreams
      val emb = t(s, d, "embeddings")
      val incoming = emb.where(col("vec_id") % 5 === 2)
        .select(col("vec_id"), col("embedding"))
      val staged = graft.io.TextTables.scratchDir("ann_probe_in", d)
      incoming.coalesce(1).write.mode("overwrite").parquet(staged)
      val maxId = incoming.agg(max(col("vec_id"))).head.getLong(0)
      val slices = CorpusStreams.stageIdSlices(s, staged, "vec_id",
        Seq(maxId / 3 + 1, 2 * maxId / 3 + 1))
      val name = s"graft_stream_annprobe_${streamCounter.incrementAndGet()}"
      CorpusStreams.annProbeStreaming(s, slices, "vec_id", "embedding",
          standingAnnIndex(s, d), name, k = 5, nProbe = 2,
          shufflePartitions = Some(4), batchAdaptive = Some(false))
        .orderBy("query_id", "rank")
    }),

    "q308_cjk_paragraph_dedup" -> ((s, d) => {
      // q301 on an unsegmented-script corpus: paragraph boundaries are
      // the ideographic full stop. Segment identity is an exact hash of
      // the delimiter-bounded span, so the screen needs only the right
      // sepPattern — NO gram routing (contrast q286/q288, where
      // SIMILARITY needs script-aware shingles; exact paragraph dedup is
      // script-agnostic once the split matches the script's delimiter).
      // Han per-source footers and a global Han newsletter line plant
      // the cross-doc structure on the Han twins of the even docs.
      val base = t(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") % 2 === 0)
        .select(col("doc_id"),
          concat(
            translate(regexp_replace(lower(col("text")), "\\s+", ""),
              "abcdefghijklmnopqrstuvwxyz", hanAlphabet),
            lit("。" + hanFooterPrefix),
            translate(col("source"),
              "abcdefghijklmnopqrstuvwxyz", hanAlphabet),
            when(col("doc_id") % 10 === 0,
              lit("。" + hanNewsletter)).otherwise(lit("")))
            .as("text"))
      Dedup.paragraphDedup(base, "doc_id", "text",
          sepPattern = "。", joinSep = "。")
        .orderBy("doc_id")
    }),

    "q310_hybrid_rrf" -> ((s, d) => {
      // hybrid retrieval: the q182 BM25 ranking fused via RRF with a
      // dense ranking whose query vector comes from pseudo-relevance
      // feedback — engine body extracted to hybridRrf so ScaleBench can
      // inject replica-suffixed queries (see its scaladoc)
      SparkEntry.hybridRrf(s, d, bm25Queries)
    }),

    "q311_hybrid_indexed" -> ((s, d) => {
      // q310's hybrid retrieval with the dense side served by the
      // PERSISTED IVF-PQ index (probe at the derived shortlist depth,
      // exact cosine rerank) — engine body extracted to hybridIndexed
      // so ScaleBench can inject replica-suffixed queries
      SparkEntry.hybridIndexed(s, d, bm25Queries)
    }),

    "q309_mining_autotune" -> ((s, d) => {
      // the mining-shortlist dial MEASURED in-engine (the q296 tuner
      // convention applied to q305): ONE probe of the persisted index at
      // the deepest dial, shallower dials = prefix cuts of its rank
      // column (the shortlist nests), each dial's mined list scored
      // against the EXACT q304 mining truth on the same corpus. The
      // derived base S anchors the dial ladder (1x/2x/4x), so this face
      // measures exactly the knee miningShortlistSize's frac encodes.
      val emb = t(s, d, "embeddings")
      val standing = emb.where(col("vec_id") % 5 =!= 2)
      val queries = emb.where(col("vec_id") % 5 === 2 && col("vec_id") < 50)
      val (state, standingN) = standingAnnIndexWithCount(s, d)
      val sBase = Similarity.miningShortlistSize(standingN, k = 5)
      val dials = Seq(sBase, 2 * sBase, 4 * sBase)
      val ranked = graft.ext.AnnIndex.probe(state, queries, "embedding",
          "vec_id", k = 4 * sBase, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val positives = Similarity.bruteForceTopK(standing, queries,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("pos_id"))
      Similarity.miningShortlistSweep(standing, queries, positives, ranked,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 5, recallTarget = 0.7, dials = dials)
        .orderBy("shortlist_s")
    }),

    "q306_retrieval_triplets" -> ((s, d) => {
      // the retrieval-training close-out (round 17, the q249 composition
      // convention): corpus hygiene (row-local length gate) -> embedding
      // join -> SUPERVISED positives (the query's min-id same-label row;
      // the fixture's label column is the relevance signal) -> hard
      // negatives with the WHOLE label class off-limits (q304's
      // exclusion machinery fed the class pairs, not one pair) ->
      // (anchor, positive, negative) triplets with the per-triplet
      // margin a contrastive loss would see. Margins subtract the two
      // ROUNDED cosines so both engines subtract identical doubles.
      val docs = t(s, d, "documents")
        .where(col("text").isNotNull && col("n_chars") >= 50)
      val corpus = t(s, d, "embeddings")
        .join(docs.select(col("doc_id").as("vec_id")), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("label"))
      val queries = corpus.where(col("vec_id") < 10)
      val sameLabel = broadcast(queries.select(col("vec_id"), col("label")))
        .join(corpus.select(col("vec_id").as("pos_id"), col("label")),
          Seq("label"))
        .where(col("pos_id") =!= col("vec_id"))
        .select(col("vec_id"), col("pos_id"))
      val positives = sameLabel.groupBy(col("vec_id"))
        .agg(min(col("pos_id")).as("pos_id"))
      val negs = Similarity.hardNegatives(corpus, queries, sameLabel,
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
        k = 3, excludeAbove = 0.95)
      val posScored = positives
        .join(queries.select(col("vec_id"), col("embedding").as("q_vec")),
          Seq("vec_id"))
        .join(corpus.select(col("vec_id").as("pos_id"),
          col("embedding").as("p_vec")), Seq("pos_id"))
        .select(col("vec_id").as("query_id"), col("pos_id"),
          (round(vectors.cosine(col("q_vec"), col("p_vec")), 6) + lit(0.0))
            .as("pos_cos"))
      negs.join(posScored, Seq("query_id"))
        .select(col("query_id"), col("pos_id"),
          col("neighbor_id").as("neg_id"), col("rank"),
          col("pos_cos"), col("cosine").as("neg_cos"),
          (col("pos_cos") - col("cosine")).as("margin"))
        .orderBy("query_id", "rank")
    }),

    "q305_hard_negatives_indexed" -> ((s, d) => {
      // hard-negative mining at index scale (round 17): the q299
      // persisted IVF-PQ index supplies the ADC shortlist per query —
      // DERIVED size (miningShortlistSize: max(10k, ceil(0.02 N)) — a
      // fixed S measured 0.42 -> 0.21 recall-vs-exact at 1x -> 25x) and
      // the measured-knee nProbe = 4 — the shortlist reranks EXACTLY by
      // cosine, and the q304 exclusions apply: labeled positive = the
      // query's true top-1 over the standing corpus (recomputed in SQL),
      // 0.95 margin for unlabeled near-positives. The oracle replays the
      // whole chain with the same derived cutoff.
      val emb = t(s, d, "embeddings")
      val standing = emb.where(col("vec_id") % 5 =!= 2)
      val queries = emb.where(col("vec_id") % 5 === 2 && col("vec_id") < 50)
      val (state, standingN) = standingAnnIndexWithCount(s, d)
      val shortS = Similarity.miningShortlistSize(standingN, k = 5)
      val shortlist = graft.ext.AnnIndex.probe(state,
          queries, "embedding", "vec_id", k = shortS, nProbe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val positives = Similarity.bruteForceTopK(standing, queries,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("pos_id"))
      Similarity.hardNegativesShortlisted(standing, queries, positives,
          shortlist, idCol = "vec_id", vecCol = "embedding",
          queryIdCol = "vec_id", k = 5, excludeAbove = 0.95)
        .orderBy("query_id", "rank")
    }),

    "q312_hard_negatives_refined" -> ((s, d) => {
      // q305 with the SQ8 refine tier between ADC and the exact rerank
      // (round-18 verdict #6, the FAISS IndexRefine architecture): the
      // ADC cut is taken 4x deeper, those candidates re-score against
      // the index's persisted SQ8 codes (exact-decimal scaled dot, the
      // q264 kernel — measured 0.96 recall scale-flat where the ADC
      // shortlist's mining residual read 0.75 at 100x), and the top S BY
      // SQ8 SCORE feed the same exact rerank + exclusions. The exact
      // stage's cost is UNCHANGED (same derived S) — the refine spends
      // ~dim bytes/candidate on the widened slice to choose S better.
      val emb = t(s, d, "embeddings")
      val standing = emb.where(col("vec_id") % 5 =!= 2)
      val queries = emb.where(col("vec_id") % 5 === 2 && col("vec_id") < 50)
      val (state, standingN) = standingAnnIndexWithCount(s, d)
      val shortS = Similarity.miningShortlistSize(standingN, k = 5)
      val shortlist = graft.ext.AnnIndex.probeRefined(state,
          queries, "embedding", "vec_id", k = shortS, nProbe = 4,
          widen = 4)
        .select(col("query_id"), col("neighbor_id"))
      val positives = Similarity.bruteForceTopK(standing, queries,
          idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
          k = 1)
        .select(col("query_id").as("vec_id"), col("neighbor_id").as("pos_id"))
      Similarity.hardNegativesShortlisted(standing, queries, positives,
          shortlist, idCol = "vec_id", vecCol = "embedding",
          queryIdCol = "vec_id", k = 5, excludeAbove = 0.95)
        .orderBy("query_id", "rank")
    }),

    "q313_stream_refined_probe" -> ((s, d) => {
      // q307 with the refine tier engaged: each arriving micro-batch
      // probes the FROZEN persisted index through probeRefined (ADC 4x
      // deeper, SQ8 re-score against the persisted byte codes, cut back
      // to k — the q312 chain minus the mining tail). The refine stage
      // reads only the state's persisted codes, so it is exactly as
      // row-local as the plain probe and streamed == batch under any
      // cut; the oracle replays the batch refined-probe chain verbatim.
      // Completes the ingest-screen symmetry: q299:q307 :: refined
      // probe : THIS.
      import graft.streaming.CorpusStreams
      val emb = t(s, d, "embeddings")
      val incoming = emb.where(col("vec_id") % 5 === 2)
        .select(col("vec_id"), col("embedding"))
      val staged = graft.io.TextTables.scratchDir("ann_rprobe_in", d)
      incoming.coalesce(1).write.mode("overwrite").parquet(staged)
      val maxId = incoming.agg(max(col("vec_id"))).head.getLong(0)
      val slices = CorpusStreams.stageIdSlices(s, staged, "vec_id",
        Seq(maxId / 3 + 1, 2 * maxId / 3 + 1))
      val name = s"graft_stream_rannprobe_${streamCounter.incrementAndGet()}"
      CorpusStreams.annProbeStreaming(s, slices, "vec_id", "embedding",
          standingAnnIndex(s, d), name, k = 5, nProbe = 4,
          shufflePartitions = Some(4), refineWiden = Some(4),
          batchAdaptive = Some(false))
        .orderBy("query_id", "rank")
    }),

    "q300_ann_index_append" -> ((s, d) => {
      // incremental index maintenance under FROZEN models (round 17):
      // the index is built from the base 80% of the standing corpus,
      // the remaining fifth is APPENDED — encoded under the base's
      // centroids and codebooks, the freeze-on-persist contract — and
      // the increment probes the combined index. The oracle encodes
      // base and appended rows with the SAME base-seeded formulas, so
      // append-then-probe replays exactly like rebuild-then-probe
      // (provenance invariance, spec'd in AnnIndexSpec).
      val emb = t(s, d, "embeddings")
      val standing = emb.where(col("vec_id") % 5 =!= 2)
      val incoming = emb.where(col("vec_id") % 5 === 2)
      val base = standing.where(col("vec_id") % 25 < 20)
      val rest = standing.where(col("vec_id") % 25 >= 20)
      val coarse = graft.ext.Ivf.portableSeedModel(base, "vec_id",
        "embedding", k = 8)
      val pqm = graft.ext.Pq.portableSeedCodebooks(base, "vec_id",
        "embedding", m = 8, c = 16)
      val idx = graft.ext.AnnIndex.append(
        graft.ext.AnnIndex.build(base, "vec_id", "embedding", coarse, pqm),
        rest, "vec_id", "embedding")
      graft.ext.AnnIndex.probe(idx, incoming, "embedding", "vec_id",
          k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }),

    "q301_paragraph_dedup" -> ((s, d) => {
      // corpus-level paragraph dedup (CCNet crawl convention, round 17):
      // the fixture corpus is single-segment and fully distinct, so the
      // cross-document structure is synthesized deterministically — every
      // doc gains a per-source footer (duplicated across its ~50
      // same-source docs) and every 5th doc a global newsletter line
      // (~100 copies). Keep-first must retain exactly one copy of each
      // footer (at that source's min doc_id) and one newsletter line (doc
      // 0), while every unique body survives untouched.
      Dedup.paragraphDedup(synthSegmentedDocs(s, d), "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q302_boilerplate_filter" -> ((s, d) => {
      // the q301 screen in remove-frequent-lines mode: a segment whose
      // corpus frequency exceeds 3 drops EVERYWHERE (even its first
      // occurrence) — the boilerplate filter that strips site footers and
      // cookie banners a keep-first dedup would still leak once per
      // cluster. On the q301 fixture both planted lines exceed the
      // threshold, so every doc must come back as exactly its unique body.
      Dedup.paragraphDedup(synthSegmentedDocs(s, d), "doc_id", "text",
          dropAboveCount = Some(3L))
        .orderBy("doc_id")
    }),

    "q303_stream_paragraph_dedup" -> ((s, d) => {
      // q301 with the corpus ARRIVING as id-ordered slices: each
      // micro-batch screens against the accumulated seen-hash state plus
      // its own intra-batch keep-first, so the streamed sink equals the
      // one-shot screen and q301's oracle gates this path verbatim. The
      // slice cuts land mid-source (sources interleave by doc_id % n, so
      // every batch holds segments whose first occurrence was an earlier
      // batch) — the cross-batch state path is genuinely exercised.
      import graft.streaming.CorpusStreams
      val synth = synthSegmentedDocs(s, d)
      val staged = graft.io.TextTables.scratchDir("seg_dedup_in", d)
      synth.coalesce(1).write.mode("overwrite").parquet(staged)
      val maxId = synth.agg(max(col("doc_id"))).head.getLong(0)
      val slices = CorpusStreams.stageIdSlices(s, staged, "doc_id",
        Seq(maxId / 4 + 1, maxId / 2 + 1, 3 * maxId / 4 + 1))
      val name = s"graft_stream_segdedup_${streamCounter.incrementAndGet()}"
      CorpusStreams.paragraphDedupStreaming(s, slices, "doc_id", "text", name,
          shufflePartitions = Some(4), batchAdaptive = Some(false))
        .orderBy("doc_id")
    }),

    "q137_semdedup_incr" -> ((s, d) => {
      // incremental semantic dedup: standing corpus = ids < 400 (with the
      // generation's frozen seed quantizer); increment = ids >= 400 plus
      // planted copies of corpus vectors (every 20th, re-id'd) that MUST
      // drop against the corpus without the corpus re-pairing itself
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = emb.where(col("vec_id") < 400)
      val incoming = emb.where(col("vec_id") >= 400).union(
        corpus.where(col("vec_id") % 20 === 0)
          .select((col("vec_id") + lit(200000L)).as("vec_id"), col("embedding")))
      val model = graft.ext.Ivf.portableSeedModel(corpus, "vec_id", "embedding", k = 16)
      Dedup.semDedupIncremental(corpus, incoming, "vec_id", "embedding",
        model, threshold = 0.95)
        .orderBy("vec_id")
    }),

    "q129_semdedup" -> ((s, d) => {
      // SemDeDup under a FULL hash oracle: portable seed quantizer (16
      // cells) + planted exact duplicates (every 10th vector re-id'd) that
      // MUST drop (cos = 1, identical vectors share a cell by determinism
      // of the argmax); natural near-dups above 0.95 drop too.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.union(
        emb.where(col("vec_id") % 10 === 0)
          .select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding")))
      val model = graft.ext.Ivf.portableSeedModel(planted, "vec_id", "embedding", k = 16)
      Dedup.semDedup(planted, "vec_id", "embedding", model, threshold = 0.95)
        .orderBy("vec_id")
    }),

    "q52_embed_neardup" -> ((s, d) => {
      // Embedding-cosine near-dup over the corpus plus planted exact
      // duplicates (id-shifted copy): identical vectors land in identical
      // hyperplane buckets with probability 1, so LSH recall on the planted
      // pairs is deterministic — the exact-cosine oracle must match exactly.
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.union(
        emb.select((col("vec_id") + lit(100000L)).as("vec_id"), col("embedding")))
      Dedup.embeddingNearDupPairs(planted, "vec_id", "embedding", dim = 64,
        threshold = 0.95, tables = 4, bits = 12)
        .orderBy("id_l", "id_r")
    }),

    "q53_recoder_numeric" -> ((s, d) => {
      // type-generic recoder (reference `R/utils.R:24-32`): integer column
      Ops.recodeCol(t(s, d, "lineitem"), "l_linenumber",
        from = Seq(1, 2), to = Seq(101, 102))
        .groupBy(col("l_linenumber").as("ln"))
        .agg(count(lit(1)).as("n"))
        .orderBy("ln")
    }),

    "q54_sql_native_fn" -> ((s, d) => {
      // The native expressions surfaced in SQL text via GraftExtensions —
      // a reference user's SQL-string workflow calling an engine extension
      // function, checked against DuckDB's built-in equivalent.
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT a.vec_id AS id_l, b.vec_id AS id_r,
               round(cosine_similarity(a.embedding, b.embedding), 6) + 0
                 AS cosine
        FROM embeddings_v a JOIN embeddings_v b ON a.vec_id + 1 = b.vec_id
        ORDER BY id_l""")
    }),

    "q56_dataset_split" -> ((s, d) => {
      // deterministic content-hash train/val/test split (80/10/10): split
      // follows the VALUE, so duplicate content can never straddle splits
      graft.ext.Splits.byContentHash(t(s, d, "documents"), "text",
        weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }),

    "q57_sequence_packing" -> ((s, d) => {
      // concat-then-chunk packing: per source, docs in doc_id order fill
      // 2048-token packs; verify pack membership and per-pack totals
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
      graft.ext.Packing.concatChunk(docs, "n_tokens", "doc_id",
        budget = 2048L, groupCols = Seq("source"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source", "pack_id")
    }),

    "q119_packed_blocks" -> ((s, d) => {
      // the materialized pretraining sample: per source, docs (each closed
      // by an <eos> separator) concatenated in doc_id order and cut into
      // 512-token blocks that CROSS document boundaries — q57 indexes the
      // packs, this emits their exact contents. md5-of-block keeps the
      // oracle row narrow while hashing every token in every block.
      import org.apache.spark.sql.functions.{size => arrayLen}
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), text.tokens(col("text")).as("toks"))
      graft.ext.Packing.materializeBlocks(docs, "toks", "doc_id",
          budget = 512, groupCols = Seq("source"), sepToken = Some("<eos>"))
        .select(col("source"), col("block_id"),
          arrayLen(col("tokens")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("h"))
        .orderBy("source", "block_id")
    }),

    "q58_mixture_sample" -> ((s, d) => {
      // deterministic mixture resampling: 50/25/25 target over three
      // sources; binding source kept whole, others hash-downsampled
      graft.ext.Mixtures.sampleToMixture(t(s, d, "documents"), "source", "text",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    "q61_bottomk_sketch" -> ((s, d) => {
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
    }),

    "q63_text_normalize" -> ((s, d) => {
      // corpus-cleaning pass: control-strip + NFC normalize, md5-checked
      // cross-engine (oracle runs its own nfc_normalize)
      t(s, d, "documents").select(
        col("doc_id"),
        md5(text.normalizeNFC(text.stripControl(col("text")))).as("clean_md5"),
        length(text.normalizeNFC(col("text"))).cast("long").as("n_chars_nfc"))
        .orderBy("doc_id")
    }),

    "q65_repetition" -> ((s, d) => {
      // intra-document repetition quality signals (boilerplate/loop
      // detection): duplicate-segment ratio + most-common-token ratio
      t(s, d, "documents").select(
        col("doc_id"),
        round(text.duplicateSegmentRatio(col("text")), 6).as("dup_segment_ratio"),
        round(text.maxTokenRatio(col("text")), 6).as("max_token_ratio"))
        .orderBy("doc_id")
    }),

    "q62_profile" -> ((s, d) => {
      // exact one-pass per-column profiling (nulls, distincts, min/max)
      graft.ops.Profile(t(s, d, "documents")).orderBy("column")
    }),

    "q26_token_stats" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id")
    }),

    "q27_text_quality" -> ((s, d) => {
      // fanOut: four text-statistic expressions over the whole corpus in
      // one row-local projection — all on the single scan task otherwise
      fanOut(s, t(s, d, "documents"), "doc_id").select(
        col("doc_id"),
        text.qualityScore(col("text")).as("quality"),
        round(text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        text.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    }),

    "q28_langid" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"), text.langId(col("text")).as("lang_pred"), col("lang"))
        .orderBy("doc_id")
    }),

    "q29_fingerprint" -> ((s, d) => {
      // Oracle-checkable fingerprint surface: the md5 token-set fingerprint
      // reproduces bit-for-bit in any SQL engine. The xxhash64 fast path
      // (text.tokenSetFingerprint) and the rolling-gram MinHash
      // (text.fingerprint) share the token/gram semantics verified here and
      // are asserted engine-side in TextSpec (no portable oracle for
      // Spark-internal xxhash64).
      t(s, d, "documents").select(
        col("doc_id"),
        text.tokenSetFingerprintHex(col("text")).as("token_set_fp"),
        size(array_distinct(text.tokens(col("text")))).cast("long")
          .as("n_distinct_tokens"))
        .orderBy("doc_id")
    }),

    "q59_asof_join" -> ((s, d) => {
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
    }),

    "q60_stream_dedup" -> ((s, d) => {
      // watermarked streaming dedup over a stream carrying every event
      // twice; survivors = the distinct source rows exactly
      val name = s"graft_stream_dd_${streamCounter.incrementAndGet()}"
      EventStreams.streamingDedup(s, s"$d/events.parquet", name,
        keys = Seq("event_id"), shufflePartitions = Some(8))
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_sec"), col("value"))
        .orderBy("event_id")
    }),

    "q30_sessionize" -> ((s, d) => {
      EventStreams.sessionizeBatch(events(s, d), gapMinutes = 30)
        .orderBy("user_id", "session_id")
    }),

    "q31_window_tumbling" -> ((s, d) => {
      EventStreams.tumblingWindowBatch(events(s, d), "1 hour")
        .orderBy("wstart", "event_type")
    }),

    "q55_stream_stateful_sessions" -> ((s, d) => {
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
    }),

    "q32_stream_tumbling" -> ((s, d) => {
      val name = s"graft_stream_tw_${streamCounter.incrementAndGet()}"
      EventStreams.tumblingWindowStreaming(s, s"$d/events.parquet", name, "1 hour",
          shufflePartitions = Some(8))
        .orderBy("wstart", "event_type")
    }),

    "q33_jdbc_roundtrip" -> ((s, d) => {
      System.setProperty("derby.system.home", "/tmp/graft_derby")
      val url = s"jdbc:derby:/tmp/graft_derby/rt_${System.nanoTime()};create=true"
      WriteSql(t(s, d, "region"), url, "REGION_RT", overwrite = true, batchSize = 100)
      ReadSql(s, url, "SELECT * FROM REGION_RT", fetchSize = 2)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    }),

    "q105_jdbc_partitioned" -> ((s, d) => {
      // the PARALLEL scan path (ReadSql partitionColumn/numPartitions —
      // N executor connections over disjoint key ranges) must return the
      // same rows as the serial path; oracled against the source table
      System.setProperty("derby.system.home", "/tmp/graft_derby")
      // deterministic DB path (unlike q33's fresh-per-call): overwrite=true
      // makes the write idempotent, so repeated gate/bench runs reuse one
      // directory instead of accumulating dead pt_<nano> DBs under /tmp
      val url = "jdbc:derby:/tmp/graft_derby/pt_fixed;create=true"
      WriteSql(t(s, d, "nation"), url, "NATION_PT", overwrite = true, batchSize = 100)
      ReadSql(s, url, "SELECT * FROM NATION_PT",
          partitionColumn = Some("\"n_nationkey\""),
          lowerBound = 0L, upperBound = 25L, numPartitions = 4)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }),

    "q34_multimodal" -> ((s, d) => {
      // REAL codec round trip: text -> PNG bytes (javax.imageio encode) ->
      // decode + full-raster scan. Dims/fill are pure functions of the
      // source byte length, so DuckDB can predict what a correct decode
      // returns without ever seeing the PNG.
      val media = Multimodal.encodePngMediaTable(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(media, featureDim = Some(8))
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("width"), col("height"), col("mean_gray"),
          size(col("features")).cast("long").as("feature_dim"))
        .orderBy("media_id")
    }),

    "q122_multimodal_resize" -> ((s, d) => {
      // REAL resize through the codec twice: gradient PNG (pixel =
      // (n+x+y)%256) -> decode -> exact integer-mapped NN downscale to
      // maxSide 24 -> re-encode -> decode + full-raster scan. The oracle
      // recomputes every resized pixel in SQL, so the resample GEOMETRY
      // (not just plumbing) is differentially tested.
      val media = Multimodal.encodePngMediaTable(
        t(s, d, "documents").where(col("doc_id") < 200 && col("text").isNotNull),
        "doc_id", "text", gradient = true)
      Multimodal.decodeImages(Multimodal.resizeImages(media, maxSide = 24))
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("mean_gray"))
        .orderBy("media_id")
    }),

    "q123_multimodal_audio" -> ((s, d) => {
      // REAL audio codec round trip (javax.sound.sampled): deterministic
      // 16-bit PCM -> WAV encode -> decode + full-frame amplitude scan.
      // Every decoded sample is a pure function of the source byte length,
      // so the oracle predicts frames, duration and mean |amplitude|
      // without parsing a WAV.
      val media = Multimodal.encodeWavMediaTable(
        t(s, d, "documents").where(col("doc_id") < 200 && col("text").isNotNull),
        "doc_id", "text")
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("duration_ms"), col("mean_amp"))
        .orderBy("media_id")
    }),

    "q43_sliding_window" -> ((s, d) => {
      // sliding window: 2h length, 1h slide — every event lands in 2 windows
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_timestamp(col("w.start")).as("wstart"), col("event_type"),
          col("n_events"), col("sum_value"))
        .orderBy("wstart", "event_type")
    }),

    "q42_session_window" -> ((s, d) => {
      // Native gap-session operator (session_window) — batch twin of the
      // flatMapGroupsWithState sessionizer; gap semantics: diff >= gap splits.
      events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), unix_timestamp(col("sw.start")).as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy("user_id", "session_start")
    }),

    "q36_cube" -> ((s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }),

    "q37_percentile" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          min(col("l_quantity")).as("qmin"), max(col("l_quantity")).as("qmax"))
        .orderBy("l_returnflag")
    }),

    "q38_pivot" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("l_returnflag")
    }),

    "q39_window_funcs" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "q40_range_window" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      // trailing-7-day revenue per customer: RANGE frame over epoch seconds
      val base = t(s, d, "orders")
        .withColumn("od_epoch", epochSec(col("o_orderdate")))
      val w = Window.partitionBy("o_custkey").orderBy(col("od_epoch"))
        .rangeBetween(-6L * 86400L, 0L)
      base.select(
        col("o_custkey"), col("o_orderkey"), col("od_epoch"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("trailing_7d"))
        .orderBy("o_custkey", "od_epoch", "o_orderkey")
    }),

    "q41_distinct_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    "q50_correlate" -> ((s, d) => {
      // per-user event correlation (click -> purchase within 60 min):
      // the batch twin of the watermarked stream-stream join
      EventStreams.correlate(events(s, d), events(s, d), "click", "purchase", 60)
        .orderBy("user_id", "a_id", "b_id")
    }),

    "q48_locf_grouped" -> ((s, d) => {
      // per-user LOCF+1 — window-partitioned, fully parallel (no total order)
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(7)).isin(2, 3), lit(null))
          .otherwise(col("value")).as("x"))
      graft.ops.NaLocfPlusOne.byGroup(ev, Seq("user_id"), "event_id", "x", "filled")
        .select(col("user_id"), col("event_id"), col("filled"))
        .orderBy("user_id", "event_id")
    }),

    "q49_multimodal_frames" -> ((s, d) => {
      // frame-sampling + resize-planning plumbing; hash values are engine-
      // specific -> rows-only check
      val media = Multimodal.fakeMediaTable(t(s, d, "documents"), "doc_id", "text")
      Multimodal.frameSample(media, frames = 4)
        .join(Multimodal.planResize(media, maxSide = 256), Seq("media_id"))
        .select(col("media_id"), size(col("frame_hashes")).cast("long").as("n_frames"),
          col("target_width"), col("target_height"))
        .orderBy("media_id")
    }),

    "q44_ordinal" -> ((s, d) => {
      // dense row ordinals over a deterministically ordered single partition
      // — the ffdf implicit row order, driver-checkable
      val sorted = t(s, d, "customer").orderBy("c_custkey").coalesce(1)
      graft.ops.Ordinals.withRowOrdinal(sorted, "rowpos")
        .select(col("c_custkey"), col("rowpos"))
        .orderBy("c_custkey")
    }),

    "q45_approx_sketches" -> ((s, d) => {
      // approximate aggregations from DETERMINISTIC mergeable summaries, so
      // the sketch VALUES hash-match a DuckDB oracle (HLL/t-digest internals
      // are engine-specific; KMV + equi-width histograms are not):
      // distinct-count estimate = (k-1)*2^32 / k-th smallest md5-32 hash
      // (exact count when under k), p50 = midpoint of the first 1000-wide
      // price bucket reaching half the cumulative count. Both are O(k)/
      // O(buckets) state, map-side combinable — the scale properties that
      // make sketches worth using, with none of the engine specificity.
      import org.apache.spark.sql.expressions.Window
      val k = 256
      val li = t(s, d, "lineitem")
      val h = conv(substring(md5(col("l_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val kmv = li
        .groupBy(col("l_returnflag"))
        .agg(graft.expressions.BottomKAgg.bottomKHashes(h, k).as("bk"))
        .select(col("l_returnflag"),
          round(when(size(col("bk")) < k, size(col("bk")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
              element_at(col("bk"), k).cast("double")), 4).as("n_orders_kmv"))
      val wcum = Window.partitionBy("l_returnflag").orderBy("bucket")
      val wtot = Window.partitionBy("l_returnflag")
      val med = li
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") / 1000).cast("long").as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("tot", sum(col("c")).over(wtot))
        .where(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag")).agg(min(col("bucket")).as("mb"))
        .select(col("l_returnflag"),
          (col("mb").cast("double") * 1000.0 + 500.0).as("p50_hist"))
      kmv.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
    }),

    "q46_bucketed_join" -> ((s, d) => {
      import graft.io.BucketedTables
      // co-located join: both sides bucketed by the join key at write time;
      // the join itself plans with no shuffle exchange. The writes are a
      // one-time layout cost (idempotent per source dir) — re-running the
      // query reuses the tables, so a benchmark times the join, not the
      // write (prepare happens in [[benchPrepare]] / the first invocation).
      val (ordersTbl, lineitemTbl) = prepareBucketedTables(s, d)
      BucketedTables.read(s, lineitemTbl)
        .join(BucketedTables.read(s, ordersTbl),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("l_quantity"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }),

    "q47_salted_join" -> ((s, d) => {
      // skew-resistant salted join; result must equal the plain join
      graft.ops.SkewJoin.salted(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey")),
        t(s, d, "supplier").select(col("s_suppkey"), col("s_name")),
        leftKeys = Seq("l_suppkey"), rightKeys = Seq("s_suppkey"), saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
        .orderBy("l_orderkey", "l_linenumber", "s_name")
    }),

    // ------------------------------------------------------------------
    // Round-5 additions: semi-structured columns, time-series resampling,
    // interval joins, corpus statistics, sharded dataset assembly
    // ------------------------------------------------------------------
    "q73_json_extract" -> ((s, d) => {
      // semi-structured props column: JSON path extraction stays codegen'd
      // (GetJsonObject), the aggregation gets map-side partial combine
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    }),

    "q74_group_topk" -> ((s, d) => {
      // native two-phase heap operator (graft.plans.GroupTopK) — the window
      // formulation (Ops.topKPerGroup) is its semantic twin and both are
      // gated by this query's DuckDB oracle (equality also asserted in
      // GroupTopKSpec)
      graft.plans.GroupTopK(t(s, d, "orders"), Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }),

    "q75_bigram_counts" -> ((s, d) => {
      graft.ext.Vocab.topNgrams(t(s, d, "documents"), "doc_id", "text", n = 2, k = 100)
        .orderBy(col("n").desc, col("ngram"))
    }),

    "q76_resample_locf" -> ((s, d) => {
      graft.ops.Resample.locf(events(s, d), "user_id", "ts", "value",
        bucketSeconds = 3600L)
        .select(col("user_id"), col("bucket").as("h"), col("n_events"),
          col("sum_value"))
        .orderBy("user_id", "h")
    }),

    "q77_histogram" -> ((s, d) => {
      graft.ops.Profile.histogram(t(s, d, "orders"), "o_totalprice",
        width = 50000.0, maxBucket = 19)
        .withColumnRenamed("sum_value", "sum_price")
        .orderBy("bucket")
    }),

    "q78_quantile_trim" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"), text.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Profile.quantileTrim(docs, "n_tokens", 0.05, 0.95)
        .orderBy("doc_id")
    }),

    "q79_tfidf" -> ((s, d) => {
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      // nDocs is one bounded driver-side scalar (see tfidfTopTerms doc)
      graft.ext.Vocab.tfidfTopTerms(docs, "doc_id", "text",
        nDocs = docs.count(), k = 3)
        .orderBy("doc_id", "rnk")
    }),

    "q80_session_range_join" -> ((s, d) => {
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
    }),

    "q142_stream_data_card" -> ((s, d) => {
      // live drift monitoring: the per-source card maintained over a
      // 3-batch document stream; the additive counters make the final
      // state equal the one-shot card by construction (dup membership is
      // NOT additive and is deliberately absent — see CardStreams)
      import graft.streaming.{CardStreams, CorpusStreams}
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", Seq(150L, 300L))
      CardStreams.streamingDataCard(s, staged, shufflePartitions = Some(8),
          batchAdaptive = Some(false))
        .orderBy("source")
    }),

    "q143_scd2_history" -> ((s, d) => {
      // SCD Type-2 dimension build: a 4-generation changelog (insert-all,
      // two update waves, a delete wave) becomes effective-dated version
      // rows; one changelog shuffle (the per-key ordering window)
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.ops.Scd2.buildHistory(scd2Changelog(o, Seq(1L, 2L, 3L, 4L)),
          "o_orderkey", "seq", "op")
        .orderBy("o_orderkey", "valid_from")
    }),

    "q144_scd2_incremental" -> ((s, d) => {
      // incremental SCD2 merge: history from generations 1-2, delta =
      // generations 3-4; result must be bit-identical to a full rebuild
      // (the oracle IS the rebuild). History never shuffles: the touched
      // keys' close-seqs arrive by broadcast join, only the delta pays
      // the window shuffle.
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val hist = graft.ops.Scd2.buildHistory(
        scd2Changelog(o, Seq(1L, 2L)), "o_orderkey", "seq", "op")
      graft.ops.Scd2.applyDelta(hist, scd2Changelog(o, Seq(3L, 4L)),
          "o_orderkey", "seq", "op")
        .orderBy("o_orderkey", "valid_from")
    }),

    "q145_cms_estimate" -> ((s, d) => {
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
    }),

    "q146_fuzzy_join" -> ((s, d) => {
      // SymSpell-blocked fuzzy linkage: supplier names vs a copy with one
      // deterministically-deleted character; the equi-join on deletion
      // variants finds every distance<=1 pair (incl. cross matches like
      // ...001 vs ...011) without an all-pairs stage — the oracle states
      // the same result AS the brute-force cross join
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
      val pos = (col("s_suppkey") % length(col("s_name"))) + 1
      val pert = sup.select(
        (col("s_suppkey") + 100000L).as("p_suppkey"),
        concat(col("s_name").substr(lit(1), pos - 1),
          col("s_name").substr(pos + 1, length(col("s_name"))))
          .as("p_name"))
      graft.ops.FuzzyJoin.symspellJoin(
          sup, "s_suppkey", "s_name", pert, "p_suppkey", "p_name",
          maxBlock = 1 << 20)
        .orderBy("s_suppkey", "p_suppkey")
    }),

    "q153_fuzzy_join2" -> ((s, d) => {
      // SymSpell at its standard radius: maxEdits=2 (2-deletion
      // neighborhoods BOTH sides, length-difference prune before the
      // levenshtein verify). Names carry two deterministic deletions; the
      // oracle states the result AS the brute-force distance<=2 cross join
      // — the blocking-completeness guarantee, now at radius 2.
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
      val pos1 = (col("s_suppkey") % length(col("s_name"))) + 1
      val pert = sup
        .withColumn("n1", concat(col("s_name").substr(lit(1), pos1 - 1),
          col("s_name").substr(pos1 + 1, length(col("s_name")))))
        .withColumn("pos2", (col("s_suppkey") * 7) % length(col("n1")) + 1)
        .select((col("s_suppkey") + 100000L).as("p_suppkey"),
          concat(col("n1").substr(lit(1), col("pos2") - 1),
            col("n1").substr(col("pos2") + 1, length(col("n1")))).as("p_name"))
      graft.ops.FuzzyJoin.symspellJoin(
          sup, "s_suppkey", "s_name", pert, "p_suppkey", "p_name",
          maxEdits = 2, maxBlock = 1 << 20)
        .orderBy("s_suppkey", "p_suppkey")
    }),

    "q155_fuzzy_cap_audit" -> ((s, d) => {
      // cap telemetry as data: the variants the maxBlock stop-gram guard
      // would drop from a self-linkage on market segment (5 values x ~300
      // rows each — every variant block is quadratic-hot). The audit is
      // the join's own guard aggregation surfaced instead of silently
      // anti-joined away; the oracle replays the deletion neighborhood
      // and the n_l*n_r > maxBlock cut in SQL
      val c = t(s, d, "customer")
      graft.ops.FuzzyJoin.symspellJoinAudit(
          c, "c_custkey", "c_mktsegment",
          c.withColumnRenamed("c_custkey", "c_custkey_r"),
          "c_custkey_r", "c_mktsegment",
          maxEdits = 1, maxBlock = 1000)
        .orderBy("variant")
    }),

    "q154_quantile_sketch" -> ((s, d) => {
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
    }),

    "q160_quantile_interp" -> ((s, d) => {
      // q154's sketch under the percentile/quantile_cont convention
      // (q37): linear interpolation between the two bracketing sample
      // elements at p = q*(n-1), upper index clamped. Same bounded
      // aggregation; the oracle replays the identical bracketing picks
      // and the identical IEEE double arithmetic (house 6-dp round).
      graft.ext.Sketches.quantileSketch(
        t(s, d, "documents"), Seq("source"), col("doc_id"), "n_chars",
        k = 64, qs = Seq(0.25, 0.5, 0.75, 0.9), interpolate = true)
        .orderBy("source", "q")
    }),

    "q159_lsh_cap_audit" -> ((s, d) => {
      // the LSH-bucket cap telemetry under a FULL hash oracle: the
      // portable md5 minhash family (q22/q98 pattern) makes every bucket
      // size SQL-rebuildable. maxBucket=1 surfaces every pair-generating
      // bucket, so the audit's arithmetic is exercised on real buckets
      // rather than an empty pass (production uses maxBucket~1000; the
      // cap is a parameter, the telemetry shape is what's gated here).
      graft.ext.Dedup.bucketCapAuditPortable(
          fanOut(s, t(s, d, "documents"), "doc_id"), "doc_id", "text",
          numHashes = 8, bands = 4, shingleK = 3, maxBucket = 1)
        .orderBy("band", "bh")
    }),

    "q147_stream_enrich" -> ((s, d) => {
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
    }),

    "q148_stream_distinct" -> ((s, d) => {
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
    }),

    "q161_stream_quantile" -> ((s, d) => {
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
    }),

    "q162_heavy_hitters" -> ((s, d) => {
      // exact frequent vocabulary WITHOUT a full groupBy(token): the full
      // aggregation's exchange carries every distinct token (the vocabulary
      // — millions at corpus scale); the Misra-Gries candidate pass
      // shuffles <= k counters per partition and the recount aggregates
      // <= k groups, so both exchanges stay O(k) no matter the vocabulary
      // size. Exactness is the MG superset guarantee + recount (see
      // HeavyHitters.frequentItems) — the oracle replays the full groupBy
      val toks = fanOut(s, t(s, d, "documents"), "doc_id")
        .select(explode(text.tokens(col("text"))).as("token"))
      graft.ext.HeavyHitters.frequentItems(toks, col("token"),
          minShare = 0.003, k = 1024, itemName = "token")
        .orderBy("token")
    }),

    "q164_stream_heavy_hitters" -> ((s, d) => {
      // q162's candidate pass as a Complete-mode streaming aggregation
      // over two deterministic micro-batches (the q71 staging): MG state
      // is <= k counters where an exact streaming count would hold the
      // whole vocabulary; the recount makes streamed == batch exactly,
      // so q162's oracle gates this path verbatim
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents")
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(mid))
      val name = s"graft_stream_hh_${streamCounter.incrementAndGet()}"
      CorpusStreams.heavyHittersStreaming(s, staged, "text",
          minShare = 0.003, k = 1024, queryName = name,
          shufflePartitions = Some(8))
        .orderBy("token")
    }),

    "q170_stream_lm_score" -> ((s, d) => {
      // the ingest-time LM filter: q167's frozen reference model scoring
      // a STREAM of arriving batches inside foreachBatch — a document's
      // pairs live wholly in its row, so per-batch scoring is exact with
      // zero cross-batch state and the streamed frame equals the batch
      // score bit-for-bit: q167's oracle gates this path verbatim
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val mid = mx / 2
      val model = graft.ext.NgramLm.fit(
        fanOut(s, docs.where(col("doc_id") <= mid), "doc_id", parts = 8),
        "text", maxBigrams = 500)
      // stage the UPPER half as two deterministic micro-batches; the copy
      // is deleted once the stream has run (the result reads the sink)
      val hiDir = java.nio.file.Files.createTempDirectory("graft_lm_hi")
      val scored =
        try {
          docs.where(col("doc_id") > mid).write.parquet(s"$hiDir/hi")
          val cut = mid + (mx - mid) / 2
          val staged = CorpusStreams.stageIdSlices(s, s"$hiDir/hi", "doc_id",
            cuts = Seq(cut))
          CorpusStreams.lmScoreStreaming(s, staged, "doc_id", "text", model,
            shufflePartitions = Some(8), batchAdaptive = Some(false))
        } finally org.apache.commons.io.FileUtils.deleteDirectory(hiDir.toFile)
      scored.select("doc_id", "n_pairs", "n_hit", "sum_bi", "sum_uni")
        .orderBy("doc_id")
    }),

    "q167_ngram_lm" -> ((s, d) => {
      // CCNet-style LM quality filter: fit a Laplace-smoothed bigram
      // model on the lower-id half (the reference corpus), score the
      // upper half. The oracle gates the EXACT integer sufficient
      // statistics; the log transform they feed is per-pair libm — not
      // hash-stable across engines — so avg_logp is spec-asserted
      // (NgramLmSpec) and projected out here. maxBigrams=500 makes the
      // deterministic model cut actually bite in both engines. fanOut
      // width 8, not 32: this query runs ~7 shuffle-bounded stages over a
      // ~10 MB corpus slice, so per-task fixed cost dominates at 32
      // slices (measured 4.3 s vs 1.7 s) — the streaming queries'
      // shufflePartitions=8 argument applied to a batch pipeline; at
      // production scale the scan has real splits and the operator
      // inherits whatever parallelism the input carries.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val model = graft.ext.NgramLm.fit(
        fanOut(s, docs.where(col("doc_id") <= mid), "doc_id", parts = 8),
        "text", maxBigrams = 500)
      graft.ext.NgramLm.score(
          fanOut(s, docs.where(col("doc_id") > mid), "doc_id", parts = 8),
          "doc_id", "text", model)
        .select("doc_id", "n_pairs", "n_hit", "sum_bi", "sum_uni")
        .orderBy("doc_id")
    }),

    "q166_heavy_hitters_by_source" -> ((s, d) => {
      // per-DOMAIN frequent tokens (the boilerplate-detection shape):
      // one MG summary per source, candidates + per-group thresholds as
      // a broadcast frame — NO driver collect, so group cardinality can
      // grow to thousands of domains; recount aggregates candidate
      // occurrences only
      val toks = fanOut(s, t(s, d, "documents"), "doc_id")
        .select(col("source"),
          explode(text.tokens(col("text"))).as("token"))
      graft.ext.HeavyHitters.frequentItemsByGroup(toks, Seq("source"),
          col("token"), minShare = 0.004, k = 1024, itemName = "token")
        .orderBy("source", "token")
    }),

    "q165_budget_wordpiece" -> ((s, d) => {
      // q158's token budget re-denominated in the SECOND tokenizer
      // family: the cost column is materialized wordpieceTokenCount, so
      // one budget operator spends whichever currency the training run
      // uses — merges.txt BPE or vocab.txt WordPiece
      import graft.ext.Selection
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .withColumn("n_wp",
          text.wordpieceTokenCount(col("text"), wpVocab).cast("long"))
      Selection.budgetSelect(docs,
          scoreCol = "n_chars", costCol = "n_wp", tieCol = "doc_id",
          budget = 50000L)
        .select(col("doc_id"), col("n_chars"), col("n_wp"))
        .orderBy("doc_id")
    }),

    "q149_cms_native" -> ((s, d) => {
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
    }),

    "q150_correlation" -> ((s, d) => {
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
    }),

    "q151_bpe_count" -> ((s, d) => {
      // tokenizer-EXACT token accounting: greedy BPE encode under the
      // frozen merge list as ONE native codegen'd expression — no join,
      // no UDF, no shuffle before the presentation sort. The oracle
      // replays the merge loop as a DuckDB recursive CTE over distinct
      // words (BpeRuntime's documented one-merge-per-step contract).
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          text.bpeTokenCount(col("text"), bpeMerges).cast("long").as("n_bpe"))
        .orderBy("doc_id")
    }),

    "q163_wordpiece_count" -> ((s, d) => {
      // the SECOND tokenizer family: BERT-style vocabularies ship as
      // piece lists, not merge lists, and encode by greedy longest-match
      // with ## continuations — one native codegen'd expression (the
      // q151 design), oracle-replayed as a DuckDB recursive CTE whose
      // per-step longest match is a correlated max over the vocab
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          text.wordpieceTokenCount(col("text"), wpVocab)
            .cast("long").as("n_wp"))
        .orderBy("doc_id")
    }),

    "q152_bpe_blocks" -> ((s, d) => {
      // q119's pretraining blocks re-gated in TOKENIZER tokens: the same
      // materializeBlocks operator fed bpeTokens instead of whitespace
      // tokens — token budgets now mean what the training run means.
      // md5-of-block hashes every BPE token in every block.
      import org.apache.spark.sql.functions.{size => arrayLen}
      val docs = t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("source"), col("doc_id"),
          text.bpeTokens(col("text"), bpeMerges).as("toks"))
      graft.ext.Packing.materializeBlocks(docs, "toks", "doc_id",
          budget = 256, groupCols = Seq("source"), sepToken = Some("<eos>"))
        .select(col("source"), col("block_id"),
          arrayLen(col("tokens")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("tokens"))).as("h"))
        .orderBy("source", "block_id")
    }),

    "q126_data_card" -> ((s, d) => {
      // the per-source release artifact: volume, quality pass count (the
      // same gopherReasons expression q88 gates with) and corpus-wide
      // exact-duplicate membership — the card cannot drift from the gates.
      // fanOut: the gopher/token expressions run in the card's partial
      // aggregation, i.e. on the single scan task without it
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text")
        .orderBy("source")
    }),

    "q156_card_bpe" -> ((s, d) => {
      // q126's card with the token counter SWAPPED to tokenizer-exact BPE
      // (the pluggable-counter contract: sum_tokens now spends the same
      // currency the training run does; every other column unchanged).
      // One extra native expression in the aggregation — no new shuffle.
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.bpeTokenCount(col("text"), bpeMerges)))
        .orderBy("source")
    }),

    "q171_card_wordpiece" -> ((s, d) => {
      // the q156 card in the SECOND tokenizer family's currency: same
      // operator, same oracle body (cardTokensOracle), the counter
      // swapped to WordPiece — the pluggable-counter contract closed
      // across card + mixtures + budgets for BOTH vocab formats
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.wordpieceTokenCount(col("text"), wpVocab)))
        .orderBy("source")
    }),

    "q172_unigram_stats" -> ((s, d) => {
      // the THIRD tokenizer family: SentencePiece-style unigram-LM vocabs
      // ship SCORED pieces and encode by the globally OPTIMAL (Viterbi)
      // segmentation, not a greedy scan — one native codegen'd expression
      // whose integer composite (cost * 2^20 + n_pieces, the fixed-point
      // stand-in for max log-prob with ties to fewer tokens) the oracle
      // replays as a dp-array-carrying recursive CTE. Both the count AND
      // the optimized model cost are gated, per document.
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          text.unigramStats(col("text"), uniVocab, unkCost = uniUnkCost)
            .as("st"))
        .select(col("doc_id"),
          col("st.n_tokens").cast("long").as("n_uni"),
          col("st.cost").as("cost"))
        .orderBy("doc_id")
    }),

    "q188_embedding_drift" -> ((s, d) => {
      // feature drift for the vector side: per-dimension centroid shift
      // between the even and odd vec_id slices — float components route
      // through decimal(20,8) sums (raw float sums are merge-order-
      // dependent), means and d2 are per-row IEEE doubles, so the whole
      // frame is oracle-exact; exchanges carry 64 rows per partition
      val emb = t(s, d, "embeddings")
      graft.ext.Report.embeddingDrift(
          emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1), "embedding", dims = 64)
        .orderBy("dim")
    }),

    "q189_funnel" -> ((s, d) => {
      // strictly-ordered funnel over each user's (ts, event_id) sequence:
      // one user-window pass chains the stage reach minima, the per-user
      // flags aggregate on the SAME user key (no second exchange), the
      // 4-stage summary is a 1-row frame exploded tall
      graft.ops.Behavior.funnel(events(s, d),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("stage_idx")
    }),

    "q190_cohort_retention" -> ((s, d) => {
      // weekly cohort x offset retention; epoch-aligned integer weeks so
      // no engine week-start convention is involved
      graft.ops.Behavior.cohortRetention(events(s, d))
        .orderBy("cohort_week", "week_offset")
    }),

    "q191_event_transitions" -> ((s, d) => {
      // first-order Markov transition matrix of the event stream; one lag
      // window + a |types|^2-key count, probabilities exact integer ratios
      graft.ops.Behavior.transitions(events(s, d))
        .orderBy("prev_type", "next_type")
    }),

    "q195_stream_transitions" -> ((s, d) => {
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
    }),

    "q199_allpairs_jaccard" -> ((s, d) => {
      // EXACT set-similarity self-join at 0.9 token Jaccard via prefix
      // filtering: zero false negatives (contrast the q21/q23 MinHash
      // recall curve); candidates come only from rare-token prefixes,
      // verification is row-local array_intersect on candidate pairs
      Dedup.allPairsJaccard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.9)
        .orderBy("id_l", "id_r")
    }),

    "q200_kmv_overlap" -> ((s, d) => {
      // cross-corpus overlap estimate from two O(k) bottom-k sketches:
      // "how much of slice B is already in slice A" without a join of the
      // corpora; estimates exact below k distinct values, md5-portable
      val docs = t(s, d, "documents")
      graft.ext.Sketches.kmvOverlap(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1), "text", k = 64)
    }),

    "q201_rolling_active" -> ((s, d) => {
      // sliding 7-day distinct users per day: distinct (user, day) frame
      // explodes into the 7 windows it serves — never a range self-join
      graft.ops.Behavior.rollingActive(events(s, d), windowDays = 7)
        .orderBy("window_day")
    }),

    "q202_quantile_bins" -> ((s, d) => {
      // exact equal-frequency deciles of document length per language:
      // rank-based ntile with a deterministic tie-break, one exchange
      graft.ops.Profile.quantileBins(t(s, d, "documents"),
          Seq("lang"), "n_chars", n = 10, tieCol = "doc_id")
        .orderBy("lang", "bin")
    }),

    "q203_embedding_outliers" -> ((s, d) => {
      // mislabel screen: per label, the k vectors FARTHEST from their own
      // label centroid (lowest cosine). Decimal-exact centroid means, one
      // broadcast join, ranking on the GroupTopK heap — never a window
      // sort over the scored corpus
      val emb = t(s, d, "embeddings")
        .where(col("embedding").isNotNull && size(col("embedding")) === 64)
      val cent = Similarity.meanVectors(emb, Seq("label"), "embedding")
        .groupBy(col("label"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mean_v")))),
          e => e.getField("mean_v")).as("centroid"))
      val scored = emb.join(broadcast(cent), Seq("label"))
        .select(col("label"), col("vec_id"),
          vectors.cosine(col("embedding"), col("centroid")).as("cos_raw"))
      graft.plans.GroupTopK(scored, Seq("label"),
          Seq(("cos_raw", true), ("vec_id", true)), k = 5, rankName = "rnk")
        .select(col("label"), col("rnk").cast("int").as("rnk"), col("vec_id"),
          (round(col("cos_raw"), 6) + lit(0.0)).as("cosine"))
        .orderBy("label", "rnk")
    }),

    "q209_stream_cusum" -> ((s, d) => {
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
    }),

    "q210_interpolate_gaps" -> ((s, d) => {
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
    }),

    "q215_top_paths" -> ((s, d) => {
      // most common first-3-event-type sequences: one user window
      // truncated to 3 rows/user, a fixed conditional pivot, a tiny count
      graft.ops.Behavior.topPaths(events(s, d), k = 3, topK = 10)
    }),

    "q217_percentile_rank" -> ((s, d) => {
      // scale-free per-language length normalization: rank arithmetic
      // only (percent_rank, ties share a rank), one group exchange
      graft.ops.Profile.percentRankNormalize(
          t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          Seq("lang"), "n_chars")
        .orderBy("doc_id")
    }),

    "q218_session_funnel" -> ((s, d) => {
      // the q189 funnel scoped to SESSIONS: stages must complete in order
      // within one gap session — the composite (user, session) key drives
      // the same chained-window machinery; counts are sessions, not users
      val withSess = graft.streaming.EventStreams
        .sessionKeyed(events(s, d), gapMinutes = 30)
      graft.ops.Behavior.funnel(withSess,
          Seq("view", "click", "purchase"), userCol = "session_key")
        .orderBy("stage_idx")
    }),

    "q219_domain_cap" -> ((s, d) => {
      // over-representation cap (C4/RefinedWeb "no domain dominates"):
      // keep <= 10 docs per source in deterministic (md5(id), id) order —
      // GroupTopK heap, O(cap) shuffle rows per (source, partition)
      graft.ext.Selection.capPerGroup(
          t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", cap = 10)
        .orderBy("source", "pick")
    }),

    "q220_ewma_smooth" -> ((s, d) => {
      // alpha=1/2 EWMA per event type over the decimal-exact daily
      // totals: halving is an exponent shift, so the recursion's only
      // rounding is one IEEE add per step — bit-reproducible in any
      // engine that replays the same fold order
      val daily = graft.ops.Behavior.dailyTotals(events(s, d),
          Seq("event_type"), "value")
        .select(col("event_type"), col("d"), col("x").cast("double").as("x"))
      graft.ops.Profile.ewmaHalf(daily, Seq("event_type"), "d", "x")
        .orderBy("event_type", "d")
    }),

    "q221_weekday_residuals" -> ((s, d) => {
      // day-of-week seasonal screen: count-scaled residual against the
      // same-weekday baseline (n_wd*x - sum_wd, exact decimal — no mean
      // division), one broadcast stat join on the tiny daily frame
      val daily = graft.ops.Behavior.dailyTotals(events(s, d),
          Seq("event_type"), "value")
        .select(col("event_type"), col("d").as("day"),
          col("x").cast("double").as("x"))
      graft.ops.Profile.weekdayResiduals(daily, Seq("event_type"), "day", "x")
        .orderBy("event_type", "day")
    }),

    "q222_host_pagerank" -> ((s, d) => {
      // host-graph authority prior (the CommonCrawl/RefinedWeb curation
      // signal): 5 damped rounds of decimal fixed-point PageRank over a
      // deterministic synthetic outlink graph between sources; every
      // division/damping step is per-row double rounded to 12 dp, every
      // cross-row sum exact decimal — the oracle replays the iterates
      val links = t(s, d, "documents").select(col("source").as("src"),
          concat(lit("src"),
            ((col("doc_id") * 7 + 3) % 20).cast("string")).as("dst"))
        .where(col("src") =!= col("dst"))
      graft.ext.Graph.pageRank(links, "src", "dst", iters = 5)
        .orderBy("node")
    }),

    "q223_topic_clusters" -> ((s, d) => {
      // user-facing k-means topic report (vs Ivf's internal quantizer):
      // md5-seeded centroids, 2 fixed Lloyd rounds with rounded-distance
      // argmin (ulp-proof ties on cluster id), exact-decimal coordinate
      // means; report = sizes + decimal inertia + modal label
      graft.ext.Clustering.report(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", k = 4, iters = 2)
        .orderBy("cluster")
    }),

    "q224_lexical_diversity" -> ((s, d) => {
      // per-source type/token counts + division-free diversity (ppm TTR
      // via integer div, Gini-Simpson as exact pair counts): template-spam
      // sources show high repeat probability regardless of per-doc quality
      graft.ext.Vocab.lexicalDiversity(t(s, d, "documents"), "source", "text")
        .orderBy("source")
    }),

    "q225_stream_ewma" -> ((s, d) => {
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
    }),

    "q226_image_shapes" -> ((s, d) => {
      // corpus-level image geometry report through the REAL codec (q34
      // PNG round trip): orientation buckets, exact pixel totals, ppm
      // aspect via integer div — the multimodal curation cut that decides
      // resize/crop policy; the oracle predicts every dimension from the
      // source byte length without parsing a PNG
      val media = Multimodal.encodePngMediaTable(
        t(s, d, "documents").where(col("text").isNotNull), "doc_id", "text")
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("width"), col("height"),
          when(col("width") > col("height"), lit("wide"))
            .when(col("width") < col("height"), lit("tall"))
            .otherwise(lit("square")).as("orientation"),
          expr("CAST(10000 * width AS BIGINT) div height").as("__ap"))
        .groupBy(col("orientation"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("width").cast("long") * col("height")).as("total_pixels"),
          min(col("width")).as("min_w"), max(col("width")).as("max_w"),
          min(col("height")).as("min_h"), max(col("height")).as("max_h"),
          sum(col("__ap")).as("aspect_sum"))
        .withColumn("mean_aspect",
          round(col("aspect_sum").cast("double") / col("n_images"), 6))
        .orderBy("orientation")
    }),

    "q227_padding_report" -> ((s, d) => {
      // dynamic-batching cost model: whitespace token counts -> 64-wide
      // length buckets -> longest-first batches of 8 padded to their own
      // max; integer-exact waste accounting per bucket
      graft.ext.Packing.paddingReport(
          t(s, d, "documents").where(col("text").isNotNull)
            .select(col("doc_id"),
              graft.functions.text.tokenCount(col("text")).as("n_tok")),
          "n_tok", "doc_id", bucketWidth = 64, batchSize = 8)
        .orderBy("bucket")
    }),

    "q228_semantic_decontaminate" -> ((s, d) => {
      // embedding-space contamination screen (catches the paraphrased
      // leakage n-gram decontamination q67 cannot): eval slice broadcasts,
      // corpus scores row-locally, GroupTopK keeps the top eval neighbor,
      // the flag cuts on the ROUNDED cosine so the threshold is
      // engine-exact
      val emb = t(s, d, "embeddings")
      graft.ext.Decontaminate.semanticHits(
          emb.where(col("vec_id") % 10 =!= 0), "vec_id", "embedding",
          emb.where(col("vec_id") % 10 === 0), "vec_id", "embedding",
          tau = 0.9)
        .orderBy("vec_id")
    }),

    "q229_dedup_savings" -> ((s, d) => {
      // the curation run's "what did dedup buy us" card: q70's verified
      // minhash components + keep-min-id token accounting, rolled up by
      // cluster size
      Dedup.savingsCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .orderBy("cluster_size")
    }),

    "q294_soft_savings" -> ((s, d) => {
      // the q229 savings card's SOFT sibling: per-source raw token mass
      // beside the dedup-CORRECTED mass a weighted sampler sees (each
      // doc contributes tokens * its q293 1/cluster-size weight). Hard
      // dedup reports what dropping buys; this reports the effective
      // corpus size when nothing is dropped. Weighted sums are
      // decimal-routed (the dsum convention)
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val w = Dedup.softDedupWeights(docs, "doc_id", "text", threshold = 0.6)
      docs.select(col("doc_id"), col("source"),
          text.tokenCount(col("text")).as("__nt"))
        .join(w.select(col("doc_id"), col("weight")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("__nt")).as("raw_tokens"),
          sum((col("__nt") * col("weight")).cast("decimal(18,6)"))
            .cast("double").as("effective_tokens"))
        .orderBy("source")
    }),

    "q295_ivf_autotune" -> ((s, d) => {
      // the ANN recall dial MEASURED, in-engine (r16 verdict #6): exact
      // brute-force truth on the q24 probe set, the q118 portable seed
      // quantizer probed at every doubling nProbe dial, recall =
      // hit/truth over integer pair counts — `chosen` marks the
      // smallest dial reaching the 0.9 target, exactly the dial
      // Ivf.autoTuneNProbe returns. Portable model + deterministic
      // ties + integer counts = the whole sweep replays in SQL
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Ivf.portableSeedModel(emb, "vec_id",
        "embedding", k = 8)
      graft.ext.Ivf.nProbeSweep(model, emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", k = 5, recallTarget = 0.9)
        .orderBy("n_probe")
    }),

    "q296_lsh_autotune" -> ((s, d) => {
      // the LSH `tables` dial measured the same way over the q98
      // portable Rademacher planes: dial t buckets with the FIRST t
      // tables of the 16-table plane set (planes depend only on their
      // table index, so the dials nest), and one interpolated plane
      // table replays the whole sweep in the oracle
      val emb = t(s, d, "embeddings")
      Similarity.lshTablesSweep(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "vec_id", dim = 64, k = 5, bits = 8,
          recallTarget = 0.9, dials = Seq(2, 4, 8, 16))
        .orderBy("n_tables")
    }),

    "q298_soft_weighted_sample" -> ((s, d) => {
      // the q293 weights DRIVING selection (r16 verdict #4): soft dedup
      // keeps every doc and emits weight = 1/cluster_size; the weighted
      // sampler ranks by kmvHash(doc_id) * cluster_size (priority
      // sampling — inclusion chance ∝ weight, the cost column is the
      // weight's exact integer inverse) and keeps the 120 smallest, so
      // each near-dup cluster contributes ~one document-equivalent in
      // expectation while intra-cluster variety stays eligible —
      // "keep variety, sample one equivalent" composed end to end
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val w = Dedup.softDedupWeights(docs, "doc_id", "text",
        threshold = 0.6)
      graft.ext.Splits.sampleExactWeighted(w, "doc_id", "doc_id",
          n = 120, costCol = "cluster_size")
        .orderBy("doc_id")
    }),

    "q273_dedup_savings_bpe" -> ((s, d) => {
      // the q229 card in the training run's own currency — the
      // pluggable-counter contract wired through savingsCard: same
      // clusters and keep-min-id policy, token columns denominated in
      // tokenizer-exact BPE pieces (one native counter expression in the
      // labeled projection, no new shuffle)
      Dedup.savingsCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6,
          tokenCounter = Some(text.bpeTokenCount(col("text"), bpeMerges)))
        .orderBy("cluster_size")
    }),

    "q274_containment_cap_audit" -> ((s, d) => {
      // the q266 join's ubiquity-cap telemetry under a FULL hash oracle
      // (the q155/q159 convention): every prefix token a maxDf cap would
      // drop, with corpus df and part-side reach — df * n_prefix_docs
      // bounds the fan-out the cap saves on a skewed corpus, and a pair
      // can be lost only if every shared prefix token appears here.
      // maxDf=1 surfaces every SHARED prefix token, so the audit's
      // arithmetic is exercised on the q266 fixture's real hot spots
      // (production caps at df in the thousands; the telemetry shape is
      // what's gated)
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(graft.functions.text.tokens(col("text")), 1, 40), " ")
            .as("text"))
      Dedup.containmentCapAudit(fanOut(s, docs.unionByName(excerpts), "doc_id"),
          "doc_id", "text", tau = 0.8, shingleK = 3, maxDf = 1)
        .orderBy("token")
    }),

    "q284_resemblance_probe_persisted" -> ((s, d) => {
      // q278's PRODUCTION twin (r14 verdict #7): the standing state is
      // persisted once (load-or-build keyed by corpus fingerprint +
      // params — the MinhashParams manifest contract) and the query
      // pays what an ingest step actually pays: state LOAD + probe.
      // q278 deliberately keeps the per-invocation state rebuild
      // visible; this twin is the floors' view of the probe itself.
      // Same incoming slice, same oracle — results are
      // state-provenance-invariant.
      val (standing, incoming) = resemblanceSlices(s, d)
      val params = Dedup.ResemblanceParams(0.6, 3)
      // salt carries params.encoded (which versions the prefix formula):
      // any parameter OR format change relocates the scratch dir, so a
      // stale-vintage state is never even visible to the loader
      val stateDir = graft.io.TextTables.scratchDir("resemb_state", d,
        graft.io.TextTables.sourceFingerprint(s"$d/documents.parquet")
          + ";" + params.encoded)
      new java.io.File(stateDir).mkdirs()
      val state = Dedup.loadResemblanceState(s, stateDir, params).getOrElse {
        Dedup.saveResemblanceState(
          Dedup.resemblanceStateCheckpointed(fanOut(s, standing, "doc_id"),
            "doc_id", "text", threshold = 0.6, shingleK = 3), stateDir)
        Dedup.loadResemblanceState(s, stateDir, params).get
      }
      Dedup.jaccardProbe(fanOut(s, incoming, "doc_id"), state,
          "doc_id", "text")
        .orderBy("id_in", "id_host")
    }),

    "q285_stream_resemblance_persisted" -> ((s, d) => {
      // the streamed face of q284: frozen PERSISTED state, per-batch
      // probes — what a long-running ingest screen actually runs after
      // its state is on disk. Same oracle as q278/q279/q284 (per-doc
      // results are row-local given the state, so provenance and batch
      // cuts both vanish from the result)
      import graft.streaming.CorpusStreams
      val (standing, incoming) = resemblanceSlices(s, d)
      val staged = graft.io.TextTables.scratchDir("resemb_in_p", d)
      incoming.repartition(2).write.mode("overwrite").parquet(staged)
      val params = Dedup.ResemblanceParams(0.6, 3)
      // salt carries params.encoded (which versions the prefix formula):
      // any parameter OR format change relocates the scratch dir, so a
      // stale-vintage state is never even visible to the loader
      val stateDir = graft.io.TextTables.scratchDir("resemb_state", d,
        graft.io.TextTables.sourceFingerprint(s"$d/documents.parquet")
          + ";" + params.encoded)
      new java.io.File(stateDir).mkdirs()
      val state = Dedup.loadResemblanceState(s, stateDir, params).getOrElse {
        Dedup.saveResemblanceState(
          Dedup.resemblanceStateCheckpointed(standing, "doc_id", "text",
            threshold = 0.6, shingleK = 3), stateDir)
        Dedup.loadResemblanceState(s, stateDir, params).get
      }
      val name = s"graft_stream_resemb_p_${streamCounter.incrementAndGet()}"
      CorpusStreams.resemblanceProbeStreaming(s, staged, "doc_id", "text",
          state, name, shufflePartitions = Some(4),
          batchAdaptive = Some(false))
        .orderBy("id_in", "id_host")
    }),

    "q288_cjk_dedup_minhash" -> ((s, d) => {
      // the APPROXIMATE screen made script-aware: MinHash+LSH dedup with
      // per-doc CharGramRouting over the q281 corpus — the incremental
      // production dedup path (q21/q64/q71) was CJK-blind before
      // routing existed (a Han doc = ONE word shingle). Oracle = exact
      // routed-gram Jaccard keep-first survivors (the q21 convention:
      // banding recall must hold on the fixture's high-similarity dups)
      Dedup.minhashDedup(cjkCorpus(s, d), "doc_id", "text",
          threshold = 0.7, route = Some(Dedup.CharGramRouting()))
        .select(col("doc_id")).orderBy("doc_id")
    }),

    "q289_cjk_substring" -> ((s, d) => {
      // exact-substring pairs made script-aware (round-16 verdict #1 —
      // the last CJK-blind screen): the whitespace tokenizer glues each
      // unspaced doc into ONE mega-token, so the word path yields NO
      // windows for the Han half of the q281 corpus and its duplicated
      // runs were invisible to q107. Routing windows unspaced docs over
      // 12 consecutive CODE POINTS of their stripped lowercase text (the
      // segTokenCount unit) — routed windows carry no space, word
      // windows always do, so the families never cross-join. Oracle
      // replays detection, BOTH window paths, the size guard and the
      // pair join
      Dedup.exactSubstringPairs(cjkCorpus(s, d), "doc_id", "text",
          windowTokens = 12, route = Some(Dedup.CharGramRouting()))
        .orderBy("id_l", "id_r")
    }),

    "q290_cjk_substring_apply" -> ((s, d) => {
      // the APPLY step under routing: keep-first window claims span BOTH
      // token units (min doc id over the unified window table), higher
      // ids lose every covered position, and routed docs rebuild by
      // rejoining surviving code points with NO separator —
      // n_total/n_kept count each doc's OWN token currency (words vs
      // code points, the q282 budget convention)
      Dedup.exactSubstringDedup(cjkCorpus(s, d), "doc_id", "text",
          windowTokens = 12, route = Some(Dedup.CharGramRouting()))
        .select(col("doc_id"), md5(col("clean_text")).as("h"),
          col("n_total"), col("n_kept"))
        .orderBy("doc_id")
    }),

    "q287_langid_aware" -> ((s, d) => {
      // script-aware language ID over the q281 mixed corpus: unspaced
      // docs identify by SCRIPT (the Han half reads "zh" — every one of
      // them scored "und" under the stopword heuristic, whose
      // inventories are European), spaced docs fall through to the q28
      // stopword argmax bit-identically. Kana/Thai/Lao/Khmer/Myanmar
      // rules are spec-covered (the fixture carries no such scripts;
      // the oracle replays the routing and would hash-mismatch any
      // non-"zh" leak)
      cjkCorpus(s, d).select(col("doc_id"),
          graft.functions.text.langIdAware(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q286_cjk_dedup_capped" -> ((s, d) => {
      // q281 under the ubiquity cap (set-level df <= 25) — the
      // production shape for THIS corpus geometry: a 26-letter alphabet
      // squeezed through char-5-grams makes grams corpus-common (sf0.01
      // Han half: avg doc-df ~9, max ~200; and on ScaleBench replicas
      // gram df GROWS with scale because token-suffix replicas share
      // interior windows), so the open join's candidate mass is
      // super-linear by construction. The cap bounds per-token fan-out;
      // at this threshold the planted near-dups ride on rare grams and
      // every q281 pair survives (the oracle proves it: full replay of
      // routing + cluster collapse + CAPPED prefixes + symmetric prune
      // + exact verify + member expansion, the q280 convention)
      Dedup.scriptAwareJaccardPairs(cjkCorpus(s, d), "doc_id", "text",
          threshold = 0.8, maxDf = 25)
        .orderBy("id_l", "id_r")
    }),

    "q283_containment_advisor" -> ((s, d) => {
      // PRE-FLIGHT candidate-mass advisor for the open containment join
      // (the q240 join-skew-advisor convention on the screen family):
      // bound the q266-shape join's candidate mass from the df frame in
      // two bounded aggregations BEFORE any join runs — on a
      // boilerplate-skewed corpus the open join melts (measured 24.8x
      // wall at 10x skewed), and the time to learn that must not be the
      // melted join itself. Two bounds exercise both verdicts: the
      // tight one advises the maxDf cap (+ the q274 audit), the loose
      // one clears the corpus
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      // ONE advisor pass (its whole point is to be cheap); both bound
      // verdicts derive from the single one-row report — the oracle's
      // CROSS JOIN over VALUES shape. Checkpointed so the union's two
      // branches read the row instead of re-running the corpus pass.
      val rep = Dedup.containmentJoinAdvisor(docs, "doc_id", "text",
          tau = 0.9, shingleK = 3)
        .drop("advise_cap").localCheckpoint()
      Seq(1000L -> "tight", 1000000L -> "loose").map { case (b, lbl) =>
        rep.withColumn("advise_cap", col("candidates_est") > b)
          .withColumn("bound", lit(lbl))
      }.reduce(_ unionByName _).orderBy("bound")
    }),

    "q281_cjk_dedup" -> ((s, d) => {
      // script-aware near-dup dedup on a mixed-script corpus: even
      // doc_ids become UNSPACED Han twins of their token streams (the
      // cjkCorpus derivation), odd stay Latin. The whitespace tokenizer
      // collapses each Han doc to ONE token, so word-shingle dedup is
      // blind to their planted near-duplicates; the router detects
      // unspaced scripts per doc (unspacedRatio > 0.3) and shingles
      // them as code-point 5-grams instead — word 3-shingles otherwise.
      // Same AllPairs engine (cluster collapse, set-df Bayardo prefix,
      // exact verify) either way; the oracle replays detection, BOTH
      // gram paths, the portable md5 hashing and the verify end to end
      Dedup.scriptAwareJaccardPairs(cjkCorpus(s, d), "doc_id", "text",
          threshold = 0.8)
        .orderBy("id_l", "id_r")
    }),

    "q282_cjk_token_budget" -> ((s, d) => {
      // script-aware token accounting over the q281 corpus, hash-checked
      // per document: the routing detector (unspaced share of non-ws
      // code points), the unspaced count, and the segmentation-aware
      // token count — a Han doc's token budget is its ideograph count,
      // not the whitespace tokenizer's "1"
      val c = col("text")
      cjkCorpus(s, d).select(col("doc_id"),
          (graft.functions.text.unspacedRatio(c) > 0.3).as("routed"),
          graft.functions.text.unspacedCount(c).cast("long").as("n_unspaced"),
          graft.functions.text.segTokenCount(c).cast("long")
            .as("n_seg_tokens"))
        .orderBy("doc_id")
    }),

    "q280_allpairs_capped" -> ((s, d) => {
      // q199's exact self-join with the ubiquity cap ON (set-df cap 2,
      // threshold 0.6): cross-cluster candidates come only from prefix
      // tokens carried by at most two distinct sets — boilerplate-
      // frequent witnesses stop generating candidates (q275 is their
      // loud report), identical-set clusters are untouched (they
      // collapse before the df build and never enter the prefix join).
      // The oracle replays cluster collapse, capped per-set prefixes,
      // the symmetric length prune and the exact verify end to end —
      // the capped contract's q276 twin on the symmetric join
      Dedup.allPairsJaccard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6, shingleK = 3, maxDf = 2)
        .orderBy("id_l", "id_r")
    }),

    "q278_resemblance_probe" -> ((s, d) => {
      // EXACT-Jaccard ingest screen against a PRECOMPUTED standing-
      // corpus state — the resemblance face of q270 and the no-recall-
      // curve complement of the minhash screen: sets, df and the
      // Bayardo host prefixes all come from the state (threshold rides
      // IN it, so a probe can never run mismatched). Incoming = the
      // %3==0 slice plus 90%-token truncations of standing docs (each
      // a planted near-copy of its source); the oracle replays the
      // naive incoming x standing enumeration the prefix join must
      // reproduce exactly
      val (standing, incoming) = resemblanceSlices(s, d)
      val state = Dedup.resemblanceStateCheckpointed(
        fanOut(s, standing, "doc_id"), "doc_id", "text",
        threshold = 0.6, shingleK = 3)
      Dedup.jaccardProbe(fanOut(s, incoming, "doc_id"), state,
          "doc_id", "text")
        .orderBy("id_in", "id_host")
    }),

    "q279_stream_resemblance_probe" -> ((s, d) => {
      // q278 with the batch ARRIVING as a stream: the standing state
      // (sets + df + host prefixes) is frozen, each micro-batch probes
      // independently (a doc's result is row-local given the state), so
      // the streamed frame equals the batch probe under any cut and
      // q278's oracle gates it verbatim. The state comes from the q285
      // scratch-persisted convention (round-16 verdict #6: rebuilding +
      // checkpointing the three corpus frames per invocation was the
      // battery's 6.5-7.3 s tail — the build is a ONCE-per-corpus cost
      // by the state's own contract, and the fresh-build composition
      // stays covered by q278's in-query build and CorpusStreamsSpec);
      // same salt as q285, so the two probes share one on-disk state
      import graft.streaming.CorpusStreams
      val (standing, incoming) = resemblanceSlices(s, d)
      val staged = graft.io.TextTables.scratchDir("resemb_in", d)
      incoming.repartition(2).write.mode("overwrite").parquet(staged)
      val params = Dedup.ResemblanceParams(0.6, 3)
      val stateDir = graft.io.TextTables.scratchDir("resemb_state", d,
        graft.io.TextTables.sourceFingerprint(s"$d/documents.parquet")
          + ";" + params.encoded)
      new java.io.File(stateDir).mkdirs()
      val state = Dedup.loadResemblanceState(s, stateDir, params).getOrElse {
        Dedup.saveResemblanceState(
          Dedup.resemblanceStateCheckpointed(standing, "doc_id", "text",
            threshold = 0.6, shingleK = 3), stateDir)
        Dedup.loadResemblanceState(s, stateDir, params).get
      }
      val name = s"graft_stream_resemb_${streamCounter.incrementAndGet()}"
      CorpusStreams.resemblanceProbeStreaming(s, staged, "doc_id", "text",
          state, name, shufflePartitions = Some(4),
          batchAdaptive = Some(false))
        .orderBy("id_in", "id_host")
    }),

    "q277_feature_moments" -> ((s, d) => {
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
    }),

    "q276_containment_capped" -> ((s, d) => {
      // the q266 join with the ubiquity cap ON (maxDf = 3): candidate
      // generation is DEFINED as the capped prefix join — a pair whose
      // every shared prefix token is more ubiquitous than the cap is out
      // of contract (q274 is its loud report). On this fixture the
      // planted quote->host shingles have df 2, so the entire quote
      // screen survives the cap while corpus-frequent witnesses stop
      // generating candidates — the skew-defense configuration, under
      // the same full hash oracle as the open join
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(graft.functions.text.tokens(col("text")), 1, 40), " ")
            .as("text"))
      Dedup.containmentPairs(fanOut(s, docs.unionByName(excerpts), "doc_id"),
          "doc_id", "text", tau = 0.8, shingleK = 3, maxDf = 3)
        .orderBy("id_part", "id_whole")
    }),

    "q275_allpairs_cap_audit" -> ((s, d) => {
      // the same cap telemetry on the AllPairs (q199) prefix join, where
      // df is SET-level (identical template docs collapse before the df
      // build, so a 10k-copy template cannot make its tokens look
      // common): capped tokens with set-level df and distinct-set reach
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(graft.functions.text.tokens(col("text")), 1, 40), " ")
            .as("text"))
      Dedup.allPairsCapAudit(fanOut(s, docs.unionByName(excerpts), "doc_id"),
          "doc_id", "text", threshold = 0.6, shingleK = 3, maxDf = 1)
        .orderBy("token")
    }),

    "q230_ks_drift" -> ((s, d) => {
      // continuous-distribution drift (the chi-square test's complement):
      // exact integer KS distance between click and view value
      // distributions per user-parity cohort — rank arithmetic only, one
      // window exchange over the distinct-value frame
      graft.ops.Profile.ksDrift(
          events(s, d).withColumn("cohort", pmod(col("user_id"), lit(2))),
          Seq("cohort"), "event_type", "value", "click", "view")
        .orderBy("cohort")
    }),

    "q231_cluster_cards" -> ((s, d) => {
      // topic cards: the q223 clustering joined back to the corpus text
      // (vec_id = doc_id by fixture construction) — top-3 tokens per
      // cluster on the GroupTopK heap; the human-readable face of the
      // embedding clustering
      val assign = graft.ext.Clustering.assign(
        t(s, d, "embeddings"), "vec_id", "embedding", k = 4, iters = 2)
      val toks = assign.select(col("vec_id").as("doc_id"), col("cluster"))
        .join(t(s, d, "documents").select(col("doc_id"), col("text")),
          Seq("doc_id"))
        .select(col("cluster"),
          explode(graft.functions.text.tokens(col("text"))).as("token"))
        .groupBy(col("cluster"), col("token"))
        .agg(count(lit(1)).as("n"))
      graft.plans.GroupTopK(toks, Seq("cluster"),
          Seq(("n", false), ("token", true)), 3, "rnk")
        .select(col("cluster"), col("rnk"), col("token"), col("n"))
        .orderBy("cluster", "rnk")
    }),

    "q232_stream_semantic_decon" -> ((s, d) => {
      // q228 with the corpus ARRIVING as a stream: the literal-eval-set
      // argmin is one row-local expression (no shuffle, no state), so
      // plain Append mode equals the batch screen row-for-row under any
      // cut — q228's oracle gates this verbatim
      import graft.streaming.CorpusStreams
      val evals = t(s, d, "embeddings").where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
        .sortBy(_._1)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/embeddings.parquet",
        "vec_id", cuts = Seq(250))
      val name = s"graft_stream_sem_${streamCounter.incrementAndGet()}"
      CorpusStreams.semanticScreenStreaming(s, staged, "vec_id", "embedding",
          evals, tau = 0.9, name,
          corpusFilter = Some(col("vec_id") % 10 =!= 0),
          shufflePartitions = Some(4))
        .orderBy("vec_id")
    }),

    "q233_ab_cuped" -> ((s, d) => {
      // variance-reduced experiment readout: pre-period value sums as the
      // CUPED covariate (cutoff = Jan 16), pooled theta from exact
      // decimal moments, per-variant raw vs adjusted means side by side
      graft.ops.Behavior.abTestCuped(
        events(s, d).withColumn("variant", pmod(col("user_id"), lit(2))),
        "variant", "value", cutoffEpoch = 1705363200L)
    }),

    "q234_gini_features" -> ((s, d) => {
      // which metadata field predicts English content: log-free Gini
      // split gain per feature (two-class impurity is one fixed double
      // tree; per-value terms rounded then decimal-summed)
      graft.ops.Profile.giniFeatureScores(
          t(s, d, "documents")
            .withColumn("len_bucket", expr("n_chars div 500")),
          Seq("source", "len_bucket"), col("lang") === "en")
        .orderBy("feature")
    }),

    "q235_corpus_manifest" -> ((s, d) => {
      // dataset-versioning fingerprint: 16 hash shards + a chained root
      // row, all md5-over-strings — two corpora are byte-identical iff
      // the root digests match
      graft.ext.Report.manifest(t(s, d, "documents"), "doc_id", "text",
          shards = 16)
        .orderBy("shard")
    }),

    "q236_boilerplate_prefix" -> ((s, d) => {
      // template-header detector: per-source longest common prefix via
      // the LCP(min, max) identity — one min/max aggregation + an
      // O(prefix) scan of the two extreme strings, never cross-doc
      graft.ext.Report.boilerplatePrefix(
          t(s, d, "documents"), "source", "text", maxPrefix = 40)
        .orderBy("source")
    }),

    "q237_stream_ks_drift" -> ((s, d) => {
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
    }),

    "q238_percentile_gate" -> ((s, d) => {
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
    }),

    "q239_manifest_diff" -> ((s, d) => {
      // dataset-version diff through the digest chain: drop shard 5's
      // docs, edit one doc in shard 10 — the diff must localize to
      // exactly {5: removed, 10: changed, root: changed}, all else same
      val docs = t(s, d, "documents")
      val next = docs.where(col("doc_id") % 16 =!= 5)
        .withColumn("text", when(col("doc_id") % 16 === 10 &&
            (col("doc_id") - 10) % 160 === 0,
          concat(lit("EDITED: "), coalesce(col("text"), lit(""))))
          .otherwise(col("text")))
      graft.ext.Report.manifestDiff(docs, next, "doc_id", "text", shards = 16)
        .orderBy("shard")
    }),

    "q240_join_skew" -> ((s, d) => {
      // pre-flight shuffle-join advisor: hottest order keys in lineitem
      // with exact counts and per-key skew factors vs the uniform share
      graft.ops.Profile.joinSkewReport(t(s, d, "lineitem"), "l_orderkey",
          topK = 5)
        .orderBy("rnk")
    }),

    "q241_l_diversity" -> ((s, d) => {
      // the q208 k-anonymity companion: quasi-identifier groups whose
      // sensitive attribute (an account-balance band) shows fewer than l
      // distinct values — a k-anonymous group still leaks when most
      // members share the sensitive value
      graft.ops.Expectations.lDiversityAudit(
          t(s, d, "customer").withColumn("bal_band",
            floor(col("c_acctbal") / 2000).cast("int")),
          Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    "q242_fd_violations" -> ((s, d) => {
      // functional-dependency profiler: does o_custkey determine
      // o_orderpriority (it should not) — per violating determinant, row
      // and distinct counts, majority value, rows a repair would rewrite
      graft.ops.Expectations.fdViolations(t(s, d, "orders"),
          Seq("o_custkey"), "o_orderpriority")
        .orderBy("o_custkey")
    }),

    "q243_token_dispersion" -> ((s, d) => {
      // source-boilerplate detector: Fano factor of each token's
      // per-source counts (zeros never materialized) — bursty tokens
      // concentrate in few sources, per-doc repetition rules can't see it
      graft.ext.Vocab.tokenDispersion(t(s, d, "documents"),
          "source", "text", minTotal = 50)
        .orderBy("token")
    }),

    "q244_calibration" -> ((s, d) => {
      // reliability curve for "length predicts English": exact rank
      // deciles (ntile, doc_id ties), per-bin positive rates — the
      // artifact a quality-classifier gate ships with its threshold
      graft.ops.Profile.calibrationReport(
          t(s, d, "documents").select(col("doc_id"), col("n_chars"), col("lang")),
          "n_chars", col("lang") === "en", bins = 10, tieCol = "doc_id")
        .orderBy("bin")
    }),

    "q245_split_leakage" -> ((s, d) => {
      // the q56-vs-q174 measurement: near-dup pairs crossing the split
      // boundary under content-hash vs cluster-keyed assignment — the
      // cluster split must show ZERO off-diagonal pairs
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6)
        .localCheckpoint() // two audits consume the verified pair set
      val w = Seq(0.8, 0.1, 0.1)
      val lbl = Seq("train", "val", "test")
      val naive = graft.ext.Splits.leakageAudit(pairs, "id_l", "id_r",
          graft.ext.Splits.byContentHash(t(s, d, "documents"), "text", w, lbl),
          "doc_id", "split")
        .withColumn("method", lit("content_hash"))
      val cc = Dedup.connectedComponents(pairs)
      val labeled = Dedup.labelComponents(docs.select(col("doc_id")),
        cc, "doc_id")
      val clustered = graft.ext.Splits.leakageAudit(pairs, "id_l", "id_r",
          graft.ext.Splits.byClusterHash(labeled, "component", w, lbl),
          "doc_id", "split")
        .withColumn("method", lit("cluster_hash"))
      naive.unionByName(clustered)
        .select(col("method"), col("split_l"), col("split_r"), col("n_pairs"))
        .orderBy("method", "split_l", "split_r")
    }),

    "q246_filter_agreement" -> ((s, d) => {
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
    }),

    "q247_langid_margin" -> ((s, d) => {
      // language-ID confidence report: per predicted language, how many
      // assignments ride on a margin <= 1 stopword hit — the slice the
      // heuristic ID cannot be trusted on
      val docs = t(s, d, "documents")
        .select(graft.functions.text.langId(col("text")).as("lang_pred"),
          graft.functions.text.langIdMargin(col("text")).as("margin"))
      docs.groupBy(col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("margin") <= 1, 1)).as("n_ambiguous"),
          min(col("margin")).as("min_margin"), max(col("margin")).as("max_margin"))
        .withColumn("ambiguous_share",
          round(col("n_ambiguous").cast("double") / col("n_docs"), 6))
        .orderBy("lang_pred")
    }),

    "q248_classifier_stats" -> ((s, d) => {
      // the quality-classifier FIT's oracle surface (the q167 convention:
      // exact integer sufficient statistics under the hash oracle, the
      // libm sigmoid rounds spec-asserted in ClassifierSpec): per-bucket
      // occurrence counts overall and within the positive class (label =
      // English), plus the two class-size marker rows (bucket -1/-2).
      // ONE map-side-combinable aggregation over the exploded feature
      // frame — exactly what every gradient round of Classifier.fit
      // consumes, and what a Naive-Bayes fit would read directly.
      graft.ext.Classifier.suffStats(
          t(s, d, "documents")
            .withColumn("y", (col("lang") === lit("en")).cast("int")),
          "text", "y", buckets = 4096)
        .orderBy("bucket")
    }),

    "q266_containment_pairs" -> ((s, d) => {
      // asymmetric subsumption screen: every 5th document donates its
      // first 40 tokens as a planted standalone "quote" row, and the
      // EXACT containment join (prefix-filtered on the part side, zero
      // false negatives) finds each quote inside its host — pairs whose
      // jaccard column sits far below any resemblance-dedup threshold:
      // precisely what q199/q21-style dedup cannot see
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val excerpts = docs.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          array_join(slice(graft.functions.text.tokens(col("text")), 1, 40), " ")
            .as("text"))
      Dedup.containmentPairs(fanOut(s, docs.unionByName(excerpts), "doc_id"),
          "doc_id", "text", tau = 0.8)
        .orderBy("id_part", "id_whole")
    }),

    "q265_chi2_features" -> ((s, d) => {
      // chi-square feature screen over RAW tokens: which words predict
      // the label (the readable companion to the hashed fits q248/q251 —
      // a bucket map hides which vocabulary carries signal). Eight
      // integer contingency cells per token, one fixed double tree,
      // ranks on the unrounded statistic (the q24 convention): the whole
      // top-50 is hash-oracled.
      graft.ext.Classifier.chiSquareTokens(
          t(s, d, "documents")
            .withColumn("y", (col("lang") === lit("en")).cast("int")),
          "text", "y", k = 50, minDf = 5)
        .orderBy("rank")
    }),

    "q263_sq8_report" -> ((s, d) => {
      // SQ8 scalar quantization fidelity card: per-dim corpus ranges ->
      // one byte per coordinate -> per-doc code stats (integer-exact) +
      // reconstruction error as an exact decimal sum — the first rung of
      // the quantization ladder (4x memory vs float32), under the strict
      // hash oracle
      graft.ext.Sq8.quantizeReport(
          t(s, d, "embeddings"), "vec_id", "embedding", dim = 64)
        .orderBy("vec_id")
    }),

    "q264_sq8_ann" -> ((s, d) => {
      // SQ8 ANN: corpus and probes quantized against the CORPUS ranges,
      // candidates scored by the EXACT-DECIMAL dequantized dot (255x-
      // scaled — Sq8.topK; round 16 replaced the raw code dot after
      // RecallBench measured its whitened ranking at 0.29-0.34 recall)
      // on the GroupTopK heap — the engine's first ANN path whose
      // end-to-end top-k is hash-oracled (exact decimal scores leave no
      // rounding convention to disagree on)
      val emb = t(s, d, "embeddings")
      graft.ext.Sq8.topK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", dim = 64, k = 5)
        .orderBy("query_id", "rank")
    }),

    "q262_pca_projection" -> ((s, d) => {
      // the PCA loop closed: every embedding's coordinate along the
      // q261 dominant direction — 6-dp coordinates times 6-dp loadings
      // summed as exact decimals, so the per-doc projection sits under
      // the hash oracle end to end (matrix -> direction -> projection)
      val loadings = graft.ext.Embeddings.topComponent(
          graft.ext.Embeddings.covarianceReport(
            t(s, d, "embeddings"), "embedding", dim = 64),
          dim = 64, iters = 3)
        .orderBy("i").collect().map(_.getDouble(1)).toSeq
      graft.ext.Embeddings.projectOnto(
          t(s, d, "embeddings"), "vec_id", "embedding", loadings)
        .orderBy("vec_id")
    }),

    "q261_top_component" -> ((s, d) => {
      // the dominant embedding direction via 3 oracle-replayable power
      // rounds over the q260 matrix: exact decimal mat-vec products,
      // per-round max-normalization (one double division, re-quantized
      // to 6 dp) — the q222 PageRank iterate convention applied to the
      // spectral step. Unnormalized on purpose: the unit norm is the
      // libm sqrt the oracle contract stops before.
      graft.ext.Embeddings.topComponent(
          graft.ext.Embeddings.covarianceReport(
            t(s, d, "embeddings"), "embedding", dim = 64),
          dim = 64, iters = 3)
        .orderBy("i")
    }),

    "q260_embedding_covariance" -> ((s, d) => {
      // the PCA/whitening groundwork and degenerate-dim diagnostic:
      // exact upper-triangle covariance of the embedding matrix from
      // decimal moment sums (no mean subtraction — the sums formulation
      // keeps every cross-row quantity exact; the single rounded double
      // division is the only floating step). Pair products are emitted
      // row-locally (no self-join); the shuffle carries O(d²) rows per
      // partition.
      graft.ext.Embeddings.covarianceReport(
          t(s, d, "embeddings"), "embedding", dim = 64)
        .orderBy("i", "j")
    }),

    "q259_ccnet_pipeline" -> ((s, d) => {
      // the full CCNet multilingual build as ONE declared plan: LM
      // bucketing (q258) -> drop the worst-fit tail bucket -> sqrt
      // temperature mixture over the kept per-language TOKEN mass
      // (q86's convention, mass-denominated) — the "balance languages
      // after quality filtering" step every multilingual corpus ships.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val model = graft.ext.NgramLm.fit(
        fanOut(s, docs.where(col("doc_id") <= mid), "doc_id", parts = 8),
        "text", maxBigrams = 500)
      val scored = graft.ext.NgramLm.score(
          fanOut(s, docs.where(col("doc_id") > mid), "doc_id", parts = 8),
          "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("lang"), col("text")),
          Seq("doc_id"))
        .where(col("n_pairs") > 0)
        .withColumn("fit", col("sum_bi").cast("double") / col("n_pairs"))
      val kept = graft.ops.Profile.rankBuckets(scored, Seq("lang"), "fit", 3)
        .where(col("bucket") >= 1) // bucket 0 = worst LM fit = the tail cut
      graft.ext.Mixtures.temperatureWeights(kept, "lang", alpha = 0.5,
          budget = 50000L, mass = Some(text.tokenCount(col("text"))))
        .orderBy("lang")
    }),

    "q258_ccnet_buckets" -> ((s, d) => {
      // CCNet's perplexity-bucket recipe on the engine's bigram LM: fit
      // on the lower-id half (the q167 model), score the upper half,
      // bucket per LANGUAGE into head/middle/tail by the per-doc fit
      // ratio (one IEEE division — engine-exact sort key), report exact
      // integer rollups per bucket. rankBuckets uses percent-rank
      // thresholds, not ntile, so ties share a bucket in any engine.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val model = graft.ext.NgramLm.fit(
        fanOut(s, docs.where(col("doc_id") <= mid), "doc_id", parts = 8),
        "text", maxBigrams = 500)
      val scored = graft.ext.NgramLm.score(
          fanOut(s, docs.where(col("doc_id") > mid), "doc_id", parts = 8),
          "doc_id", "text", model)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .where(col("n_pairs") > 0)
        .withColumn("fit", col("sum_bi").cast("double") / col("n_pairs"))
      graft.ops.Profile.rankBuckets(scored, Seq("lang"), "fit", 3)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pairs")).cast("long").as("pairs"),
          sum(col("n_hit")).cast("long").as("hits"),
          sum(col("sum_bi")).cast("long").as("bi_total"))
        .orderBy("lang", "bucket")
    }),

    "q257_classifier_ap" -> ((s, d) => {
      // the PR-AUC companion to q255 for rare-positive screens:
      // threshold-based average precision with ties fully counted —
      // integer TP/FP cumulatives, per-threshold terms one fixed double
      // tree rounded to 12 dp then decimal-summed (order-free)
      import graft.ext.Classifier
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
        .withColumn("y", (col("lang") === lit("en")).cast("int"))
      val (w, bias) = Classifier.nbModel(
        Classifier.suffStats(docs, "text", "y"))
      val scored = docs.where(col("text").isNotNull)
        .select(col("source"), col("y"),
          Classifier.nbScoreColumn(col("text"), w, bias).as("score"))
      graft.ops.Profile.averagePrecision(scored, Seq("source"), "score",
          col("y") === 1)
        .orderBy("source")
    }),

    "q256_stream_classifier_auc" -> ((s, d) => {
      // q255's quality readout with the corpus ARRIVING as a stream: the
      // model pre-fits on the batch corpus (a standing model monitoring
      // live ingest), scoring is the stateless row-local fold, scores
      // bin into clamped fixed-width buckets BEFORE aggregation (state =
      // groups x 801 bins, constant in score spread — not groups x
      // distinct scores), and the per-(source, bin) counts are additive
      // — one Complete-mode aggregation equals the batch frame under any
      // cut, the rank-sum scan runs on the drained counts. The oracle
      // replays the same bin: the binned mid-rank AUC.
      import graft.ext.Classifier
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents")
        .withColumn("y", (col("lang") === lit("en")).cast("int"))
      val (w, bias) = Classifier.nbModel(
        Classifier.suffStats(docs, "text", "y"))
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(250))
      val name = s"graft_stream_auc_${streamCounter.incrementAndGet()}"
      CorpusStreams.classifierAucStreaming(s, staged, "text", w, bias,
          "source", col("lang") === lit("en"), name,
          shufflePartitions = Some(4),
          // declared bound live: |sources| x 801 bins x 2 label counts
          maxStateRows = 100000L)
        .orderBy("source")
    }),

    "q255_classifier_auc" -> ((s, d) => {
      // the evaluation leg of the train->score loop: per-source exact
      // AUC (rank-sum with full tie handling, integer arithmetic) of the
      // q251 NB score against the label it was trained on. The source
      // join is co-keyed with the fanOut partitioning; the AUC window
      // runs over distinct scores only.
      import graft.ext.Classifier
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
        .withColumn("y", (col("lang") === lit("en")).cast("int"))
      val (w, bias) = Classifier.nbModel(
        Classifier.suffStats(docs, "text", "y"))
      // score + label columns in ONE projection (nbScoreColumn) — a
      // naiveBayesScoreWith + join-back would re-scan and re-shuffle the
      // corpus purely to reattach source/y
      val scored = docs.where(col("text").isNotNull)
        .select(col("source"), col("y"),
          Classifier.nbScoreColumn(col("text"), w, bias).as("score"))
      graft.ops.Profile.aucExact(scored, Seq("source"), "score",
          col("y") === 1)
        .orderBy("source")
    }),

    "q254_nb_incremental" -> ((s, d) => {
      // incremental classifier refresh: the lower and upper corpus
      // halves contribute their sufficient statistics SEPARATELY (two
      // ingest shards), the standing table merges them by per-bucket
      // summation, and the rebuilt model scores the corpus — bit-equal
      // to q251's one-shot fit because the stats are additive, so q251's
      // oracle gates the incremental path verbatim (the q144/q120
      // incremental == one-shot convention applied to model state).
      import graft.ext.Classifier
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
        .withColumn("y", (col("lang") === lit("en")).cast("int"))
      val mid = t(s, d, "documents").agg(max(col("doc_id"))).head().getLong(0) / 2
      val stats = Classifier.mergeSuffStats(
        Classifier.suffStats(docs.where(col("doc_id") <= mid), "text", "y"),
        Classifier.suffStats(docs.where(col("doc_id") > mid), "text", "y"))
      val (w, bias) = Classifier.nbModel(stats)
      Classifier.naiveBayesScoreWith(docs, "doc_id", "text", w, bias)
        .orderBy("doc_id")
    }),

    "q253_anneal_schedule" -> ((s, d) => {
      // 3-phase annealed data curriculum (natural proportions -> 3/4 ->
      // sqrt temperature, 10k units each): quarter-restricted alphas
      // keep every tempered mass a sqrt chain — correctly-rounded IEEE
      // ops, so the whole schedule sits under the hash oracle where an
      // arbitrary pow() could not
      graft.ext.Mixtures.annealSchedule(t(s, d, "documents"), "source",
          phases = 3, budgetPerPhase = 10000L)
        .orderBy("phase", "source")
    }),

    "q252_stream_classifier" -> ((s, d) => {
      // q128's quantized classifier gate applied at INGEST time (the
      // q232 stateless-Append pattern): the scorer is one row-local
      // codegen'd fold, so the streamed filter equals the batch one
      // row-for-row under any cut — q128's oracle gates it verbatim. A
      // Classifier.fit weight table drops into the same call unchanged.
      import graft.streaming.CorpusStreams
      val weights = Array.tabulate(4096)(b =>
        (((b.toLong * 2654435761L) % 1024L) - 512L).toInt)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(250))
      val name = s"graft_stream_clf_${streamCounter.incrementAndGet()}"
      CorpusStreams.classifierScoreStreaming(s, staged, "doc_id", "text",
          weights, bias = 32L, name, shufflePartitions = Some(4))
        .orderBy("doc_id")
    }),

    "q251_nb_classifier" -> ((s, d) => {
      // the fully differential-testable TRAINED classifier: multinomial
      // NB fit on the English label and scored over the same corpus —
      // weights, prior and scores are all quantized integers (the q134
      // floor-ln convention), so training AND inference sit under ONE
      // hash oracle. Completes the classifier family: q128 scores a
      // GIVEN weight table, q248 oracles the fit's sufficient
      // statistics, this one trains end to end. fanOut: the md5 feature
      // pass is the q134-class row-local cost.
      graft.ext.Classifier.naiveBayesScores(
          fanOut(s, t(s, d, "documents"), "doc_id")
            .withColumn("y", (col("lang") === lit("en")).cast("int")),
          "doc_id", "text", "y", buckets = 4096)
        .orderBy("doc_id")
    }),

    "q250_jpeg_roundtrip" -> ((s, d) => {
      // q34's differential codec contract on the SECOND image codec —
      // JPEG, the dominant web-crawl format: text -> REAL JPEG bytes
      // (javax.imageio encode) -> decode + full-raster scan. JPEG is
      // lossy, but the uniform-gray fill lives entirely in each block's
      // DC coefficient, which the JDK codec round-trips exactly for all
      // 256 gray values (spec-gated in MultimodalSpec) — so dims AND
      // mean-gray stay pure functions of the source byte length and
      // DuckDB predicts a correct decode without ever parsing a JPEG.
      val media = Multimodal.encodeJpegMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.n_bytes").as("n_bytes"),
          col("width"), col("height"), col("mean_gray"))
        .orderBy("media_id")
    }),

    "q249_curation_close" -> ((s, d) =>
      curationCloseCard(s, d, c => text.tokenCount(c))),

    "q267_curation_close_bpe" -> ((s, d) =>
      // the q249 close-out with the token currency SWAPPED to
      // tokenizer-exact BPE (the q156/q171 pluggable-counter contract
      // applied to the composed card): a curator allocating by training
      // tokens reads the split totals and dedup savings in the currency
      // the run actually spends. Same gates, same split, same plan shape
      // — one native counter expression replaces the whitespace count.
      curationCloseCard(s, d,
        c => text.bpeTokenCount(c, bpeMerges).cast("long"))),

    "q269_curation_close_contained" -> ((s, d) =>
      // the q249 close-out with the optional containment screen ON:
      // quote-in-host subsumption (the q266 asymmetric signal) drops
      // contained docs between the decontamination and dedup stages —
      // the one dedup signal the composed pipeline didn't consume. Card
      // sections, split policy and plan shape unchanged.
      curationCloseCard(s, d, c => text.tokenCount(c),
        containmentTau = Some(0.8))),

    "q270_containment_probe" -> ((s, d) => {
      // the ingest face of q266: probe an arriving batch (the doc_id%5==0
      // slice + 40-token excerpts planted from standing docs) against the
      // PRECOMPUTED containment state of the standing corpus — "is this
      // new doc a quote of something we already hold". The corpus is
      // never re-shingled; the probe prefix orders by standing-df and
      // verifies candidates with one exact intersection (zero false
      // negatives vs the oracle's naive enumeration)
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val standing = docs.where(col("doc_id") % 5 =!= 0)
      val incoming = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(standing.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            array_join(slice(text.tokens(col("text")), 1, 40), " ").as("text")))
      // checkpointed state: one shingle pass + one df aggregation total,
      // shared by the prefix, candidate and verify consumers
      val state = Dedup.containmentStateCheckpointed(
        standing, "doc_id", "text", shingleK = 3)
      Dedup.containmentProbe(incoming, state, "doc_id", "text",
          tau = 0.8, shingleK = 3)
        .orderBy("id_in", "id_host")
    }),

    "q271_stream_containment_probe" -> ((s, d) => {
      // q270 with the batch ARRIVING as a stream: the standing state is
      // frozen, each micro-batch probes independently (a doc's result is
      // row-local given the state), so the streamed frame equals the
      // batch probe under any cut and q270's oracle gates it verbatim
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val standing = docs.where(col("doc_id") % 5 =!= 0)
      val incoming = docs.where(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("text"))
        .unionByName(standing.where(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            array_join(slice(text.tokens(col("text")), 1, 40), " ").as("text")))
      val staged = graft.io.TextTables.scratchDir("contain_in", d)
      incoming.repartition(2).write.mode("overwrite").parquet(staged)
      // checkpointed state: the corpus sets AND df materialize once; every
      // micro-batch probe re-reads the frames instead of re-shingling
      val state = Dedup.containmentStateCheckpointed(
        standing, "doc_id", "text", shingleK = 3)
      val name = s"graft_stream_contain_${streamCounter.incrementAndGet()}"
      CorpusStreams.containmentProbeStreaming(s, staged, "doc_id", "text",
          state, tau = 0.8, shingleK = 3, name, shufflePartitions = Some(4),
          batchAdaptive = Some(false))
        .orderBy("id_in", "id_host")
    }),

    "q216_dup_triangles" -> ((s, d) => {
      // graph-shape diagnostic of the exact near-dup pair graph (the en
      // slice — the full 0.9 graph at sf0.1 holds ~1M edges of template
      // cliques and the census is a per-slice diagnostic, not a corpus
      // pass): degree-ordered orientation bounds wedge fan-out by the
      // oriented out-degree, O(sqrt(m)) — no hub explosion
      graft.ext.DupGraph.triangleCensus(
        Dedup.allPairsJaccard(
          fanOut(s, t(s, d, "documents").where(col("lang") === "en"), "doc_id"),
          "doc_id", "text", threshold = 0.9))
    }),

    "q214_ab_test" -> ((s, d) => {
      // experiment readout: user_id-parity variants, conversion = a
      // high-value purchase (rare enough that neither side saturates),
      // exact counts + one fixed double tree for the two-proportion z
      graft.ops.Behavior.abTest(
        events(s, d).withColumn("variant",
          when(col("user_id") % 2 === 0, "control").otherwise("treatment")),
        "variant",
        conversion = col("event_type") === "purchase" && col("value") >= 48.0)
    }),

    "q213_bounce_rate" -> ((s, d) => {
      // daily single-event-session share over the q30 gap sessions; exact
      // integer ratios, one aggregation over the (user, session) frame
      graft.ops.Behavior.bounceRate(events(s, d), gapMinutes = 30)
        .orderBy("day")
    }),

    "q211_funnel_latency" -> ((s, d) => {
      // stage-to-stage conversion latency over the q189 reach-time pass:
      // decimal-exact means, interpolated medians, one user exchange
      graft.ops.Behavior.funnelLatency(events(s, d),
          Seq("signup", "view", "click", "purchase"))
        .orderBy("from_stage", "to_stage")
    }),

    "q212_rate_anomalies" -> ((s, d) => {
      // bot screen: users with a superhuman single-minute burst; one
      // (user, minute) aggregation, struct-max peak, no event-level window
      graft.ops.Behavior.rateAnomalies(events(s, d), threshold = 1)
        .orderBy("user_id")
    }),

    "q205_session_lift" -> ((s, d) => {
      // market-basket lift between event types over behavioral sessions:
      // per-session self-join on the distinct (session, type) frame
      // (<= |types| rows each), type totals broadcast, exact ratios
      graft.ops.Behavior.sessionLift(events(s, d), gapMinutes = 30)
        .orderBy("type_a", "type_b")
    }),

    "q206_stream_rolling_active" -> ((s, d) => {
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
    }),

    "q207_token_cooccurrence" -> ((s, d) => {
      // skip-gram co-occurrence pairs with log-free lift: row-local pair
      // generation (position explode + fixed-offset element_at), tiny-
      // frame normalizers, exact ratios
      graft.ext.Vocab.cooccurrenceLift(
          fanOut(s, t(s, d, "documents"), "doc_id"), "text",
          window = 3, topK = 20)
    }),

    "q208_k_anonymity" -> ((s, d) => {
      // privacy release audit: quasi-identifier combos re-identifiable to
      // fewer than k individuals; one bounded aggregation
      graft.ops.Expectations.kAnonymityAudit(t(s, d, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 30)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    "q204_cusum_changepoint" -> ((s, d) => {
      // level-shift detection per event type: decimal-exact daily totals,
      // CUSUM peak with a deterministic argmax; the windows run on the
      // (type, day) frame, never on events
      graft.ops.Behavior.cusumChangePoint(events(s, d),
          Seq("event_type"), "value")
        .orderBy("event_type")
    }),

    "q196_mad_outliers" -> ((s, d) => {
      // robust median/MAD outlier screen per event type: three bounded
      // group aggregations, broadcast stat joins, 3-sigma-equivalent cut
      graft.ops.Behavior.madOutliers(events(s, d), Seq("event_type"), "value")
        .orderBy("event_type")
    }),

    "q197_interval_overlap" -> ((s, d) => {
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
    }),

    "q198_stream_funnel" -> ((s, d) => {
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
    }),

    "q193_winnow_pairs" -> ((s, d) => {
      // winnowing (MOSS) text-reuse screen, PORTABLE twin: md5 gram
      // hashes + windowed min + postings self-join under the ubiquity
      // cap, every stage replayed by the oracle; the production path is
      // the one-pass native kernel (portable = false, WinnowSpec)
      Dedup.winnowCandidatePairs(
          fanOut(s, t(s, d, "documents"), "doc_id"), "doc_id", "text",
          k = 7, w = 5, maxPostings = 20, minShared = 8, portable = true)
        .orderBy("id_l", "id_r")
    }),

    "q194_sparse_cosine" -> ((s, d) => {
      // inverted-index all-pairs tf cosine: postings equi-join under the
      // df cap (join fan-out <= maxDf * |postings|), integer dots, one
      // IEEE double tree for the score, deterministic rounded-score top-k
      Similarity.sparseCosineTopK(
          fanOut(s, t(s, d, "documents"), "doc_id"), "doc_id", "text",
          k = 10, maxDf = 100)
        .orderBy(col("cosine").desc, col("id_l"), col("id_r"))
    }),

    "q192_trend_ols" -> ((s, d) => {
      // per-type OLS trend of event value over the hour index from a fixed
      // origin: exact decimal sufficient statistics, one O(groups) shuffle,
      // coefficients a fixed IEEE double tree over the exact sums
      val ev = events(s, d).select(col("event_type"),
        ((unix_timestamp(col("ts")) - lit(1704067200L)) / lit(3600L))
          .cast("long").as("hour_idx"),
        col("value"))
      graft.ops.Profile.trendOls(ev, Seq("event_type"), "hour_idx", "value")
        .orderBy("event_type")
    }),

    "q187_stream_drift" -> ((s, d) => {
      // q185's drift report with the candidate slice ARRIVING as a stream
      // against the frozen en baseline: Complete-mode token counts are
      // order-insensitive, so the accumulated frame — and the chi-square
      // ranking over it — is bit-identical to batch wherever the stream
      // is cut; q185's oracle gates this verbatim
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(mid))
      val name = s"graft_stream_drift_${streamCounter.incrementAndGet()}"
      CorpusStreams.tokenDriftStreaming(s, staged, "text",
          baseline = docs.where(col("lang") === "en"),
          baselineTextCol = "text", k = 50, queryName = name,
          streamFilter = Some(col("text").isNotNull && col("lang") =!= "en"),
          shufflePartitions = Some(8))
        .orderBy(col("chi2_term").desc, col("token"))
    }),

    "q186_distinct_ngrams" -> ((s, d) => {
      // distinct-1/distinct-2 diversity per source — the synthetic-data
      // repetitiveness screen: a template-stamped source collapses in
      // distinct-2 first; row-local gram builds, one two-level combinable
      // aggregation, ratios exact under the hash oracle
      graft.ext.Vocab.distinctNgramRatios(
          fanOut(s, t(s, d, "documents"), "doc_id")
            .where(col("text").isNotNull),
          Seq("source"), "text", ns = Seq(1, 2))
        .orderBy("source", "n")
    }),

    "q185_token_drift" -> ((s, d) => {
      // corpus-monitoring drift report: top-50 tokens by two-sample
      // chi-square contribution between the en slice and the rest —
      // chi-square deliberately (no logarithm), so counts AND scores are
      // exact under the hash oracle where a KL/JSD would be libm-bound;
      // two combinable count shuffles, broadcast totals, heap top-k
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
        .where(col("text").isNotNull)
      graft.ext.Report.tokenDrift(
          docs.where(col("lang") === "en"),
          docs.where(col("lang") =!= "en"), "text", k = 50)
        .orderBy(col("chi2_term").desc, col("token"))
    }),

    "q184_stream_novelty" -> ((s, d) => {
      // q183's novelty screen at INGEST time: arriving batches scored in
      // foreachBatch against the standing reference gram set. Scores are
      // row-local given the broadcast set, so streamed == batch verbatim
      // under q183's oracle wherever the stream is cut (the refs riding
      // the staged slices are scored then excluded, exactly as in batch)
      import graft.streaming.CorpusStreams
      val docs = t(s, d, "documents")
      val mid = docs.agg(max(col("doc_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/documents.parquet",
        "doc_id", cuts = Seq(mid))
      CorpusStreams.noveltyScoresStreaming(s, staged, "doc_id", "text",
          reference = docs.where(col("doc_id") % 10 === 0),
          refTextCol = "text", n = 8, shufflePartitions = Some(8),
          batchAdaptive = Some(false))
        .where(col("doc_id") % 10 =!= 0)
        .orderBy("doc_id")
    }),

    "q183_novelty" -> ((s, d) => {
      // novelty screen: docs outside the reference tenth (doc_id % 10)
      // scored by the share of their distinct 8-token shingles unseen in
      // the reference — the synthetic-data "is it new text?" metric; one
      // scan per corpus, broadcast reference gram set, and the gram HASH
      // never reaches the output so the oracle replays string shingles
      // (the q67 convention)
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      graft.ext.Decontaminate.noveltyScores(
          docs.where(col("doc_id") % 10 =!= 0), "doc_id", "text",
          reference = docs.where(col("doc_id") % 10 === 0),
          refTextCol = "text", n = 8)
        .orderBy("doc_id")
    }),

    "q182_bm25_search" -> ((s, d) => {
      // BM25 top-10 per query with the rational-idf reproducibility
      // contract (see Vocab.bm25Search): per-term scores are per-row IEEE
      // doubles rounded to 6 dp, totals are decimal sums — every rank AND
      // score hash-matches the SQL replay; nothing after the tf shuffle
      // is proportional to corpus size (query-term broadcasts), ranking
      // on the GroupTopK heap
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
        .where(col("text").isNotNull)
      // both corpus scalars in ONE action (row-local tokenize, no explode)
      val stats = docs
        .agg(count(lit(1)), sum(size(text.tokens(col("text"))).cast("long")))
        .head()
      val (nDocs, dlSum) = (stats.getLong(0), stats.getLong(1))
      val qdf = s.createDataFrame(bm25Queries).toDF("query_id", "qtext")
      graft.ext.Vocab.bm25Search(docs, "doc_id", "text",
          qdf, "query_id", "qtext", nDocs, dlSum, k = 10)
        .orderBy("query_id", "rnk")
    }),

    "q181_priority_sample" -> ((s, d) => {
      // priority sampling: 100 docs weighted by token count, supporting
      // unbiased per-slice token-total estimates (sum(est_weight) over any
      // subset ~ that subset's true token mass; spec-asserted). Integer
      // priorities from the portable md5 draw, so sample membership, tau
      // and every estimate hash-match the SQL replay — ONE GroupTopK heap
      // pass, never a global sort
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          text.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.ext.Selection.prioritySample(docs, "doc_id", "n_tok", k = 100)
        .orderBy("doc_id")
    }),

    "q180_mixture_interleave" -> ((s, d) => {
      // the training ORDER of a weighted mixture, materialized: stride
      // scheduling over sources means every output prefix holds source
      // shares within one row of the 1:2:3:4 weight classes — guaranteed,
      // not in-expectation-under-an-RNG; all-integer virtual time, so the
      // whole schedule (positions included) sits under the hash oracle.
      // doc_id is the within-source order here; a content-hash key would
      // make it a deterministic shuffle (see strideInterleave scaladoc)
      graft.ext.Mixtures.strideInterleave(
          t(s, d, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id", interleaveWeights)
        .orderBy("pos")
    }),

    "q178_hll_registers" -> ((s, d) => {
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
    }),

    "q179_stream_hll" -> ((s, d) => {
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
    }),

    "q177_phrase_blocklist" -> ((s, d) => {
      // banned-phrase filtering at blocklist scale: distinct phrases
      // present per doc, counted in ONE Aho-Corasick pass (a native
      // reference-object expression) instead of |blocklist| contains
      // scans. The list deliberately overlaps (scan inside slow scan,
      // single words inside bigrams) to exercise fail-link outputs; the
      // oracle is the naive per-phrase contains — semantics, not cost
      t(s, d, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          text.phraseHits(col("text"), blockPhrases).cast("long").as("n_hits"))
        .orderBy("doc_id")
    }),

    "q176_nextfit_pack" -> ((s, d) => {
      // doc-boundary-preserving packing (next-fit): the instruction-tuning
      // convention where a document is never split across training
      // sequences — the complement of q57's concat-then-chunk. Budget 90
      // vs 10-99-token docs exercises the oversize-doc-gets-own-bin
      // branch inside the gate, not just in specs. Oracle replays the
      // sequential fill recurrence as a row-at-a-time recursive CTE.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          text.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.ext.Packing.nextFitPack(docs, "n_tok", "doc_id", budget = 90L,
          groupCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("bin_id"))
        .orderBy("doc_id")
    }),

    "q175_waterfill_alloc" -> ((s, d) => {
      // data-constrained mixture allocation (the epochs-cap waterfill):
      // budget tokens distributed proportionally to per-source mass, but
      // no source beyond its cap (here 1-3 "epochs" of its own mass, by
      // source index); surplus redistributes among the uncapped until the
      // water level settles. Exact BigInt walk over the per-source frame
      // (O(#sources), the applyTemperature bounded-collect pattern); the
      // oracle replays the walk with window cumsums + the frozen frontier
      // level. The 50000 budget saturates the 1x and 2x plateaus and cuts
      // the 3x plateau at the level — every branch exercised.
      val m = t(s, d, "documents").where(col("text").isNotNull)
        .groupBy("source")
        .agg(sum(text.tokenCount(col("text")).cast("long")).as("mass"))
      val pc = m.withColumn("cap",
        (lit(1) + substring(col("source"), 4, 10).cast("int") % 3)
          .cast("long") * col("mass"))
      graft.ext.Mixtures.capWaterfill(pc, "source", "mass", "cap",
          budget = 50000L)
        .select(col("source"), col("mass"), col("cap"), col("alloc"))
        .orderBy("source")
    }),

    "q174_split_by_cluster" -> ((s, d) => {
      // LEAKAGE-SAFE train/val/test split: the split key is the near-dup
      // CLUSTER id (q70's verified-minhash components), not the document
      // — near-identical docs can never straddle the split boundary and
      // leak eval content into training. Content-hash splitting (q56)
      // only co-assigns byte-identical rows; this is the near-dup-aware
      // upgrade a real pretraining pipeline ships.
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6))
      val labeled = Dedup.labelComponents(docs.select(col("doc_id")),
        cc, "doc_id")
      graft.ext.Splits.byClusterHash(labeled, "component",
          weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test"))
        .orderBy("doc_id")
    }),

    "q173_card_unigram" -> ((s, d) => {
      // the q156/q171 card in the THIRD tokenizer family's currency: same
      // operator, same oracle body (cardTokensOracle), the counter swapped
      // to the unigram Viterbi count — all three vocab formats (merge
      // list, piece list, scored pieces) now spend through one contract
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.unigramTokenCount(col("text"), uniVocab,
            unkCost = uniUnkCost)))
        .orderBy("source")
    }),

    "q157_mixture_bpe" -> ((s, d) => {
      // q86's temperature mixture RE-DENOMINATED in tokenizer-exact BPE
      // tokens (the `mass` knob): n, weight and alloc all become
      // token-denominated, so the allocation means what the training run
      // means. Still ONE map-side-combinable aggregation — the token
      // count is a native expression inside the same agg, no new shuffle.
      graft.ext.Mixtures.temperatureWeights(
          t(s, d, "documents").where(col("text").isNotNull), "source",
          alpha = 0.5, budget = 10000L,
          mass = Some(text.bpeTokenCount(col("text"), bpeMerges)))
        .orderBy("source")
    }),

    "q158_budget_bpe" -> ((s, d) => {
      // q114's global budget selection SPENDING tokenizer-exact BPE
      // tokens: the cost column is materialized bpeTokenCount, so the
      // 50k budget is a real token budget. Same two-pass range-
      // partitioned cumsum — the cost currency is pluggable by design.
      import graft.ext.Selection
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .withColumn("n_bpe",
          text.bpeTokenCount(col("text"), bpeMerges).cast("long"))
      Selection.budgetSelect(docs,
          scoreCol = "n_chars", costCol = "n_bpe", tieCol = "doc_id",
          budget = 50000L)
        .select(col("doc_id"), col("n_chars"), col("n_bpe"))
        .orderBy("doc_id")
    }),

    "q135_source_overlap" -> ((s, d) => {
      // cross-source duplication matrix (the data-card companion q126
      // summarizes per-source): distinct (text-hash, source) pairs
      // self-joined on the hash — every 7th doc mirrored into a '-m'
      // (7 is coprime with the source cycle, so every source overlaps)
      // source so the matrix is non-trivial. One shuffle on the hash.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), col("text"), col("source"))
      val mirrored = docs.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"),
          concat(col("source"), lit("-m")).as("source"))
      val hs = docs.union(mirrored)
        .select(md5(col("text")).as("h"), col("source")).distinct()
      hs.as("a").join(hs.as("b"), Seq("h"))
        .where(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("source_a", "source_b")
    }),

    "q134_dsir_select" -> ((s, d) => {
      // DSIR selection, md5-PORTABLE twin on a bounded slice (ids < 1500):
      // quantized integer log-odds make the whole score column (and the
      // top-200 cut) hash-exact in any engine. The md5-per-feature cost is
      // what the bound caps; q138 is the native full-corpus production face.
      // fanOut (see helper): the 3 md5 feature passes were ~2.9 s EACH on
      // the single scan task, and the floor tracked host load 1:1 (the
      // r9 4.1->6.2 s drift)
      val docs = fanOut(s, t(s, d, "documents")
        .where(col("text").isNotNull && col("doc_id") < 1500), "doc_id")
      val scores = graft.ext.Dsir.importanceScores(
        docs, docs.where(col("lang") === "en"), "doc_id", "text")
      graft.ext.Dsir.selectTopK(scores, "doc_id", k = 200)
        .orderBy("doc_id")
    }),

    "q138_dsir_native" -> ((s, d) => {
      // production DSIR: the same pipeline over the FULL corpus through the
      // one-pass native feature expression (no per-feature md5/string
      // work). Different hash family -> engine-specific scores, so this is
      // the recall-asserted sibling (DsirSpec), not a SQL-oracled row; the
      // md5 twin q134 keeps the differential gate on the machinery.
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val scores = graft.ext.Dsir.importanceScores(
        docs, docs.where(col("lang") === "en"), "doc_id", "text",
        native = true)
      graft.ext.Dsir.selectTopK(scores, "doc_id", k = 200)
        .orderBy("doc_id")
    }),

    "q133_line_filter" -> ((s, d) => {
      // C4 rule-based line filtering: segments under 3 words drop, the
      // rest reassemble in order — one codegen'd row-local projection
      val segs = filter(split(col("text"), "\\. "), x => x =!= "")
      val kept = filter(segs,
        seg => size(filter(split(seg, " "), w => w =!= "")) >= 3)
      t(s, d, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          text.filterShortSegments(col("text"), minWords = 3).as("clean_text"),
          size(segs).cast("long").as("n_total"),
          size(kept).cast("long").as("n_kept"))
        .orderBy("doc_id")
    }),

    "q132_domain_blocklist" -> ((s, d) => {
      // crawl blocklist with parent-domain semantics: blocking
      // src3.example.com also blocks cdn.src3.example.com; the whole check
      // is a row-local suffix expansion against one array literal
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 4 === 0, lit("cdn.")).otherwise(lit("")),
        col("source"),
        when(id % 2 === 0, lit(".example.com")).otherwise(lit(".example.org")),
        lit("/p/"), (id % 100).cast("string"))
      val bl = Seq("src3.example.com", "src7.example.org", "example.net")
      t(s, d, "documents")
        .select(id, text.hostOf(url).as("host"),
          text.domainBlocked(url, bl).cast("int").cast("long").as("blocked"))
        .orderBy("doc_id")
    }),

    "q131_intradoc_dedup" -> ((s, d) => {
      // generation-loop cleanup: every 3rd doc gets its text repeated
      // (simulating a looped generation / boilerplate refrain), then the
      // row-local first-occurrence segment dedup must restore one copy;
      // zero shuffle — the whole transform is a codegen'd projection
      val looped = t(s, d, "documents").where(col("text").isNotNull)
        .withColumn("text",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(". "), col("text")))
            .otherwise(col("text")))
      val segs = filter(split(col("text"), "\\. "), x => x =!= "")
      looped.select(col("doc_id"),
        text.dropRepeatedSegments(col("text")).as("clean_text"),
        size(segs).cast("long").as("n_total"),
        size(array_distinct(segs)).cast("long").as("n_kept"))
        .orderBy("doc_id")
    }),

    "q130_distinct_estimate" -> ((s, d) => {
      // KMV cardinality estimate per source next to the exact count — the
      // estimator is pure integer math over the q61 sketch, so the whole
      // row (including the ESTIMATE) sits under the hash oracle
      graft.ext.Sketches.kmvDistinctCount(
        t(s, d, "documents"), Seq("source"), "text", k = 16)
        .orderBy("source")
    }),

    "q128_quality_classifier" -> ((s, d) => {
      // fastText-shape quantized classifier applied entirely map-side: the
      // deterministic weight table stands in for an exported model (any
      // (bucket -> int weight) export drops in unchanged); scoring is exact
      // integer math, so the SCORE column itself sits under the hash
      // oracle, not just the keep/drop decision.
      val weights = Array.tabulate(4096)(b =>
        (((b.toLong * 2654435761L) % 1024L) - 512L).toInt)
      t(s, d, "documents")
        .select(col("doc_id"),
          text.hashedLinearScore(col("text"), weights, bias = 32L).as("score"))
        .withColumn("label",
          when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))
        .orderBy("doc_id")
    }),

    "q127_url_dedup" -> ((s, d) => {
      // crawl-level dedup by canonical URL (CCNet/RefinedWeb convention):
      // messy synthetic URLs derived from doc fields (case noise, www,
      // default ports, fragments, adjacent tracking params) — pages whose
      // canonical forms coincide merge keep-first. Canonicalization is
      // codegen'd regex-only; dedup is one map-side-combinable groupBy.
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("HTTP")).when(id % 3 === 1, lit("https"))
          .otherwise(lit("HtTpS")),
        lit("://"),
        when(id % 2 === 0, lit("WWW.")).otherwise(lit("")),
        upper(col("source")), lit(".Example.COM"),
        when(id % 3 =!= 0 && id % 5 === 0, lit(":443"))
          .when(id % 3 === 0 && id % 5 === 0, lit(":80"))
          .when(id % 11 === 0, lit(":8080")).otherwise(lit("")),
        lit("/Path/"), (id % 40).cast("string"),
        when(id % 7 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&id="), (id % 13).cast("string"),
        when(id % 4 === 0, lit("&utm_campaign=x&gclid=abc")).otherwise(lit("")),
        when(id % 6 === 0, lit("#sec-2")).otherwise(lit("")))
      t(s, d, "documents")
        .select(id, text.canonicalizeUrl(url).as("url"))
        .groupBy(col("url"))
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_pages"))
        .select(col("doc_id"), col("url"), col("n_pages"))
        .orderBy("doc_id")
    }),

    "q81_shard_assign" -> ((s, d) => {
      graft.ext.Splits.shardAssign(t(s, d, "documents"), "text", "doc_id",
        nShards = 8)
        .select(col("doc_id"), col("shard"), col("ordinal"))
        .orderBy("doc_id")
    }),

    "q82_sample_exact" -> ((s, d) => {
      graft.ext.Splits.sampleExact(t(s, d, "documents"), "text", "doc_id", n = 100)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    "q83_source_quota" -> ((s, d) => {
      // per-domain quota cap (web-corpus curation): keep at most 10 docs per
      // source, priority by content hash — deterministic, partition-invariant
      Ops.topKPerGroup(t(s, d, "documents"), Seq("source"),
        Seq(md5(col("text")).asc, col("doc_id").asc), k = 10)
        .select(col("source"), col("rnk"), col("doc_id"))
        .orderBy("source", "rnk")
    }),

    "q84_snapshot_diff" -> ((s, d) => {
      // incremental-corpus audit: v_old = ids < 400, v_new = ids >= 100 with
      // every 50th doc's text revised — exercises all four statuses
      val docs = t(s, d, "documents")
      val vOld = docs.where(col("doc_id") < 400)
      val vNew = docs.where(col("doc_id") >= 100)
        .withColumn("text",
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.ops.SnapshotDiff(vOld, vNew, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q85_segment_dedup" -> ((s, d) => {
      // C4/Gopher-style boilerplate removal: drop every occurrence of an
      // 8-word segment repeated anywhere in the corpus, reassemble in order
      graft.ext.Dedup.segmentDedup(t(s, d, "documents"), "doc_id", "text",
        width = 8, minCount = 2)
        .orderBy("doc_id")
    }),

    "q86_mixture_temperature" -> ((s, d) => {
      // p^alpha source rebalancing at alpha=0.5 (sqrt is correctly rounded,
      // so weights are bit-identical across engines — see temperatureWeights)
      graft.ext.Mixtures.temperatureWeights(t(s, d, "documents"), "source",
        alpha = 0.5, budget = 10000L)
        .orderBy("source")
    }),

    "q141_sampled_quantiles" -> ((s, d) => {
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
    }),

    "q140_curation_pipeline" -> ((s, d) => {
      // the round-7 curation stack as ONE declared plan: domain blocklist
      // -> line filter -> intra-doc dedup -> quantized classifier gate ->
      // canonical-URL dedup (keep-first) -> per-source rollup. Catalyst
      // fuses every row-local stage into the scan projection; the whole
      // pipeline is two hash shuffles (URL-dedup group, final source
      // group) plus a survivor-id join that AQE broadcasts at bench scale
      // and degrades to a clean shuffle join at full scale.
      val id = col("doc_id")
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val url = concat(lit("https://"),
        when(id % 4 === 0, lit("cdn.")).otherwise(lit("")),
        col("source"),
        when(id % 2 === 0, lit(".example.com")).otherwise(lit(".example.org")),
        lit("/p/"), (id % 100).cast("string"),
        lit("?utm_source=x&id="), (id % 25).cast("string"),
        when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
      val bl = Seq("src3.example.com", "src7.example.org")
      val weights = Array.tabulate(4096)(b =>
        (((b.toLong * 2654435761L) % 1024L) - 512L).toInt)
      val staged = docs
        .withColumn("url", url)
        .where(!text.domainBlocked(col("url"), bl))
        .withColumn("clean", text.dropRepeatedSegments(
          text.filterShortSegments(col("text"), minWords = 3)))
        .where(text.hashedLinearScore(col("clean"), weights, bias = 32L) >= 0)
        .withColumn("curl", text.canonicalizeUrl(col("url")))
      val kept = staged.groupBy(col("curl"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(staged.select(col("doc_id"), col("clean"), col("source")),
          Seq("doc_id"))
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(text.tokenCount(col("clean")).cast("long")).as("sum_tokens"))
        .orderBy("source")
    }),

    "q90_corpus_pipeline" -> ((s, d) => {
      // the end-to-end corpus build a reference user runs as ONE declared
      // plan: normalize -> quality-filter -> exact-dedup -> content-hash
      // split -> per-split stats. Every stage is an already-oracled
      // operator; Catalyst fuses the scan+normalize+filter into one pass
      // and the whole pipeline is two shuffles (dedup group, final group).
      val clean = t(s, d, "documents").select(col("doc_id"),
        text.normalizeNFC(text.stripControl(col("text"))).as("text"))
      val kept = clean.where(
        text.gopherReasons(col("text"), minStopwords = 1) === 0)
      val ded = graft.ext.Dedup.exact(kept, Seq("text"), "doc_id")
      graft.ext.Splits.byContentHash(ded, "text",
        weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(text.tokenCount(col("text")).cast("long")).as("sum_tokens"))
        .orderBy("split")
    }),

    "q88_quality_filter" -> ((s, d) => {
      // Gopher-rules document filter: violation bitmask + keep flag,
      // displayed signals and bitmask from ONE gopherSignals struct (single
      // expression tree — they cannot drift). minStopwords=1: the
      // inventories are 18 words/language — far smaller than Gopher's
      // English stop-set, where >=2 is the rule
      val reasons = text.gopherReasonsOf(col("sig"), minStopwords = 1)
      t(s, d, "documents")
        .select(col("doc_id"), text.gopherSignals(col("text")).as("sig"))
        .select(
          col("doc_id"),
          col("sig.n_tok").as("n_tok"),
          col("sig.stop_hits").as("stop_hits"),
          reasons.as("reasons"),
          (reasons === 0).as("keep"))
        .orderBy("doc_id")
    }),

    "q89_mixture_apply" -> ((s, d) => {
      // q86's allocations actually applied: exactly alloc_s docs per
      // source in deterministic hash order (GroupTopK + broadcast allocs)
      graft.ext.Mixtures.applyTemperature(t(s, d, "documents"), "source",
        "doc_id", alpha = 0.5, budget = 300L)
        .select(col("source"), col("rnk"), col("doc_id"))
        .orderBy("source", "rnk")
    }),

    "q117_mixture_upsample" -> ((s, d) => {
      // the upsampling regime of temperature mixing: budget 1200 exceeds
      // sf0.01's corpus size, so every source's allocation exceeds its row
      // count and the shortfall is delivered by epoch repetition (full
      // epochs for all rows + a hash-order prefix for the remainder) —
      // exactly alloc_s rows out per source
      graft.ext.Mixtures.applyTemperature(t(s, d, "documents"), "source",
          "doc_id", alpha = 0.5, budget = 1200L, upsample = true)
        .select(col("source"), col("rnk"),
          col("epoch").cast("long").as("epoch"), col("doc_id"))
        .orderBy("source", "rnk", "epoch")
    }),

    "q87_group_sample" -> ((s, d) => {
      // deterministic per-group k-sample: order inside each group by a
      // cross-engine content hash (md5) and keep the first k with the
      // native heap operator — a reproducible reservoir sample per language
      val docs = t(s, d, "documents")
        .withColumn("hk", md5(col("doc_id").cast("string")))
      graft.plans.GroupTopK(docs, Seq("lang"),
        Seq("hk" -> true, "doc_id" -> true), k = 5)
        .select(col("lang"), col("rnk"), col("doc_id"))
        .orderBy("lang", "rnk")
    }),

    "q91_cdc_merge" -> ((s, d) => {
      // CDC upsert-apply: snapshot = orders with key % 7 != 0; changelog =
      // inserts (the held-out keys), two update generations (seq 2 overrides
      // seq 1 on half the updated keys) and deletes. Latest (seq, op) per
      // key wins; the snapshot side never shuffles (broadcast anti join).
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val snap = o.where(col("o_orderkey") % 7 =!= 0)
      def ch(src: DataFrame, seq: Long, op: String,
          ck: Column, tp: Column): DataFrame =
        src.select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
          ck.as("o_custkey"), tp.as("o_totalprice"))
      val changes =
        ch(o.where(col("o_orderkey") % 7 === 0), 1, "I",
          col("o_custkey"), col("o_totalprice"))
        .unionByName(ch(snap.where(col("o_orderkey") % 10 === 3), 1, "U",
          col("o_custkey"), col("o_totalprice") + 1000.0))
        .unionByName(ch(snap.where(col("o_orderkey") % 20 === 3), 2, "U",
          col("o_custkey"), col("o_totalprice") + 2000.0))
        .unionByName(ch(snap.where(col("o_orderkey") % 10 === 7), 1, "D",
          lit(null).cast("long"), lit(null).cast("double")))
      graft.ops.ChangeApply(snap, changes, "o_orderkey", "seq", "op")
        .orderBy("o_orderkey")
    }),

    "q92_posting_lists" -> ((s, d) => {
      // inverted index: df >= 5 terms with their first-20 posting lists —
      // bounded per-token state (KMV buffer), never a full collect_set
      graft.ext.Vocab.postingLists(t(s, d, "documents"), "doc_id", "text",
        minDf = 5, maxPostings = 20)
        .orderBy("token")
    }),

    "q93_bloom_join" -> ((s, d) => {
      // semi join with a Bloom prefilter on the fact side: a kilobyte
      // sketch of the qualifying order keys probes inside codegen BEFORE
      // the lineitem shuffle; the exact semi join afterwards removes false
      // positives, so the answer is exactly the plain semi join
      val urgent = t(s, d, "orders").where(
        col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      graft.ops.BloomJoin.semi(t(s, d, "lineitem"), "l_orderkey",
          urgent, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    "q94_stream_correlate" -> ((s, d) => {
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
    }),

    "q95_zorder" -> ((s, d) => {
      // Morton z-values over (custkey, price decile): the 2-D data-skipping
      // layout key; zbucket = the top bits = the file-grain cluster id.
      // Oracle SQL is GENERATED from the same step table (ZOrder.zValue16Sql)
      val x = col("o_custkey") % 65536
      val y = floor(col("o_totalprice") / lit(10.0)).cast("long") % 65536
      t(s, d, "orders")
        .select(col("o_orderkey"), graft.ops.ZOrder.zValue16(x, y).as("zval"))
        .withColumn("zbucket", shiftright(col("zval"), 24))
        .orderBy("o_orderkey")
    }),

    "q96_csv_roundtrip" -> ((s, d) => {
      // lossless text-format interchange: documents (incl. the free-text
      // column) through RFC-4180 CSV and back; oracle = the source table,
      // so any quoting/escaping loss breaks the hash
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      graft.io.TextTables.csvRoundTrip(docs,
          graft.io.TextTables.scratchDir("csv_rt", d))
        .orderBy("doc_id")
    }),

    "q136_orc_roundtrip" -> ((s, d) => {
      // events through ORC and back — the columnar interchange face;
      // byte-lossless, so the oracle is the source table
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.io.TextTables.orcRoundTrip(ev,
          graft.io.TextTables.scratchDir("orc_rt", d))
        .select(col("event_id"), epochSec(col("ts")).as("es"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    "q268_embedding_jsonl_roundtrip" -> ((s, d) => {
      // vector ingest interchange: the embeddings table through JSONL and
      // back under the explicit array<float> schema — the gate external
      // embedding dumps enter through. Losslessness is proven per
      // COMPONENT: the round-tripped vector explodes to (vec_id, i, x)
      // with the float cast to double (exact widening), and the oracle is
      // the SOURCE parquet exploded the same way — one flipped bit in any
      // of the 32k floats breaks the hash
      val emb = t(s, d, "embeddings")
      graft.io.TextTables.embeddingJsonlRoundTrip(emb,
          graft.io.TextTables.scratchDir("emb_rt", d))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"), col("x").cast("double").as("x"))
        .orderBy("vec_id", "i")
    }),

    "q97_jsonl_roundtrip" -> ((s, d) => {
      // events (timestamps + doubles) through JSON Lines and back;
      // double round-trips via shortest-repr, timestamp via ISO-8601
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.io.TextTables.jsonlRoundTrip(ev,
          graft.io.TextTables.scratchDir("jsonl_rt", d))
        .select(col("event_id"), epochSec(col("ts")).as("es"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }),

    "q98_knn_lsh_portable" -> ((s, d) => {
      // LSH ANN with a FULL hash oracle: Rademacher planes from MD5
      // (portablePlanes) make buckets — hence candidates, hence the top-k —
      // bit-identical in any engine; the oracle SQL below interpolates the
      // same planes. q25 stays the seeded-PRNG production variant.
      val emb = t(s, d, "embeddings")
      Similarity.lshTopKPortable(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
        dim = 64, k = 5, tables = 4, bits = 8)
        .orderBy("query_id", "rank")
    }),

    "q99_unpivot" -> ((s, d) => {
      // wide->long melt (Dataset.unpivot — Spark's native UNPIVOT): the
      // delegated-SQL surface's reshaping op, inverse of q38's pivot
      t(s, d, "lineitem").where(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }),

    "q100_grouping_sets" -> ((s, d) => {
      // explicit GROUPING SETS with grouping() disambiguation of the
      // all-rows NULL vs a genuine NULL key — completes the q08/q36
      // rollup/cube family
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
                 o_orderpriority NULLS FIRST""")
    }),

    "q101_partition_pruning" -> ((s, d) => {
      // Hive-partitioned layout + partition pruning — THE scan optimization
      // at 100 TB: the o_orderstatus predicate becomes a PartitionFilter,
      // so non-matching partition DIRECTORIES are never listed or read
      // (PlanAuditSpec asserts the plan shape). Layout write happens once
      // per scratch dir; later invocations plan straight against it.
      // fingerprint salt: a regenerated orders.parquet at the same path gets
      // a fresh scratch dir instead of silently serving the stale layout
      val dir = graft.io.TextTables.scratchDir("part_orders", d,
        graft.io.TextTables.sourceFingerprint(s"$d/orders.parquet"))
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        t(s, d, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dir)
      }
      s.read.parquet(dir)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }),

    "q102_incremental_agg" -> ((s, d) => {
      // materialized-view maintenance: per-priority order stats refreshed
      // from row deltas only (base NEVER rescanned). The oracle recomputes
      // from scratch — decimal-routed delta arithmetic makes refresh equal
      // recompute bit-exactly, which is the whole point of the operator
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      val base = orders.where(col("o_orderkey") % 50 =!= 0)
      val aggOld = base.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(27,4)")).cast("double").as("sum_value"))
      val changedOld = base.where(col("o_orderkey") % 97 === 0)
      val changedNew = changedOld.withColumn("v", col("v") + 500.0)
      val inserts = orders.where(col("o_orderkey") % 50 === 0)
      graft.ops.IncrementalAgg.refresh(aggOld, changedOld,
          changedNew.unionByName(inserts), Seq("g"), "v")
        .orderBy("g")
    }),

    "q103_stream_matview" -> ((s, d) => {
      // streaming materialized view: per-priority order stats maintained
      // incrementally over a 3-batch stream — the final state must equal
      // the one-shot aggregate (q102's delta arithmetic, streaming face)
      import graft.streaming.{CorpusStreams, MaterializedAgg}
      val orders = t(s, d, "orders")
      val mid = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/orders.parquet",
        "o_orderkey", Seq(mid / 3, 2 * mid / 3))
      MaterializedAgg.streamingRefresh(s, staged,
          Seq("o_orderpriority"), "o_totalprice", shufflePartitions = Some(8),
          batchAdaptive = Some(false))
        .orderBy("o_orderpriority")
    }),

    "q104_schema_evolution" -> ((s, d) => {
      // parquet schema evolution (the reference's append-path widening,
      // §1.2, done the Spark way): files with an old 2-column schema and a
      // new 3-column schema in one dataset; mergeSchema unions them,
      // null-filling the column the old files lack
      val dir = graft.io.TextTables.scratchDir("schema_evo", d,
        graft.io.TextTables.sourceFingerprint(s"$d/orders.parquet"))
      // gate on BOTH _SUCCESS markers (q101's pattern): a crash between the
      // v1 and v2 writes must not leave a partial layout that later runs
      // serve forever
      if (!new java.io.File(s"$dir/v1", "_SUCCESS").exists() ||
          !new java.io.File(s"$dir/v2", "_SUCCESS").exists()) {
        val o = t(s, d, "orders")
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/v1")
        o.where(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$dir/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .orderBy("o_orderkey")
    }),

    "q108_expectations" -> ((s, d) => {
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
    }),

    "q109_orphan_keys" -> ((s, d) => {
      // referential-integrity audit under a dimension-snapshot cut: fact
      // rows whose order arrived after the snapshot are orphans — one LEFT
      // ANTI equi-join, then per-key counts (the quarantine artifact)
      import graft.ops.Expectations
      Expectations.orphans(
          t(s, d, "lineitem"),
          t(s, d, "orders").where(col("o_orderdate") < lit("1997-01-01")),
          keys = Seq("l_orderkey" -> "o_orderkey"))
        .orderBy("l_orderkey")
    }),

    "q110_dup_keys" -> ((s, d) => {
      // candidate-key audit: prove (lang, source) is NOT a key of documents
      // by listing the violating tuples with multiplicities — one map-side-
      // combinable aggregation
      import graft.ops.Expectations
      Expectations.duplicateKeys(t(s, d, "documents"), Seq("lang", "source"))
        .orderBy("lang", "source")
    }),

    "q114_budget_select" -> ((s, d) => {
      // corpus selection under a global cost budget: best-scored docs kept
      // while the running cost fits (inclusive prefix rule). Two-pass
      // range-partitioned cumsum — the naive global window would collapse
      // 100 TB onto one task.
      import graft.ext.Selection
      Selection.budgetSelect(t(s, d, "documents"),
          scoreCol = "n_chars", costCol = "n_chars", tieCol = "doc_id",
          budget = 100000L)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q115_budget_by_source" -> ((s, d) => {
      // per-source budget selection: the partition-parallel window form —
      // the one to prefer at scale whenever a grouping key exists
      import graft.ext.Selection
      Selection.budgetSelectByGroup(t(s, d, "documents"), Seq("source"),
          scoreCol = "n_chars", costCol = "n_chars", tieCol = "doc_id",
          budgetPerGroup = 2000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q113_stream_quality" -> ((s, d) => {
      // always-on ingest quality gate: two deterministic micro-batches (cut
      // at the median event id), each tagged row-locally and routed to
      // pass/quarantine parquet sinks. Row-local tagging commutes with
      // micro-batching, so q108's batch oracle semantics gate the streaming
      // path too (restricted to the quarantined rows).
      import graft.ops.Expectations.Rule
      import graft.streaming.{CorpusStreams, QualityStreams}
      val mid = t(s, d, "events").agg(max(col("event_id"))).head().getLong(0) / 2
      val staged = CorpusStreams.stageIdSlices(s, s"$d/events.parquet",
        "event_id", cuts = Seq(mid))
      val gate = QualityStreams.gateStreaming(s, staged, Seq(
          Rule("value_le_300", col("value") <= 300),
          Rule("known_type",
            col("event_type").isin("click", "view", "purchase", "signup")),
          Rule("user_present", col("user_id").isNotNull)),
        shufflePartitions = Some(8), batchAdaptive = Some(false))
      gate.quarantine.select(col("event_id"),
          concat_ws(",", col("violations")).as("violations"))
        .orderBy("event_id")
    }),

    "q112_quarantine_stats" -> ((s, d) => {
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
    }),

    "q111_chunking" -> ((s, d) => {
      // context-window chunking: long documents sliced into 128-token
      // windows every 64 tokens (50% overlap) — row-local, codegen'd,
      // no shuffle before the ordering; md5-of-chunk keeps the oracle
      // row narrow while hashing every token
      import graft.ext.Packing
      import graft.functions.text
      val docs = t(s, d, "documents")
        .select(col("doc_id"), text.tokens(col("text")).as("toks"))
      Packing.slidingChunks(docs, "toks", Seq("doc_id"), size = 128, stride = 64)
        .select(col("doc_id"),
          col("chunk_idx").cast("long").as("chunk_idx"),
          size(col("chunk")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("chunk"))).as("h"))
        .orderBy("doc_id", "chunk_idx")
    }),

    "q106_compaction" -> ((s, d) => {
      // small-files maintenance: fragment documents into 64 tiny files (the
      // accumulated-appends shape), compact to ~4 range-clustered files,
      // prove content identity against the SOURCE table. md5(text) keeps
      // the oracle row narrow while hashing every payload byte.
      import graft.io.{Compaction, TextTables}
      val salt = TextTables.sourceFingerprint(s"$d/documents.parquet")
      val frag = TextTables.scratchDir("compact_in", d, salt)
      if (!new java.io.File(frag, "_SUCCESS").exists()) {
        s.read.parquet(s"$d/documents.parquet")
          .repartition(64).write.mode("overwrite").parquet(frag)
      }
      val out = TextTables.scratchDir("compact_out", d, salt)
      val target = math.max(1L, (Compaction.dataBytes(s, frag) + 3) / 4)
      Compaction.compact(s, frag, out, targetFileBytes = target,
          clusterBy = Seq("doc_id"))
        .select(col("doc_id"), md5(col("text")).as("h"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    "q35_sql_text" -> ((s, d) => {
      // The reference's core capability: an arbitrary user SQL string
      // answered by the engine (`R/ffsql.R:171-176`) — here Spark SQL itself.
      t(s, d, "region").createOrReplaceTempView("region_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        WITH n AS (SELECT n_regionkey, count(*) AS n_nations
                   FROM nation_v GROUP BY n_regionkey)
        SELECT r_name, n_nations FROM region_v
        JOIN n ON r_regionkey = n_regionkey
        ORDER BY r_name""")
    }))

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber, net_price""",
    "q03_topk_revenue" ->
      """SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q04_region_revenue" ->
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "q05_running_window" ->
      """SELECT o_custkey,
         CAST(row_number() OVER w AS INTEGER) AS rn, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""",
    "q06_intersect" ->
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""",
    "q07_except" ->
      """SELECT o_orderkey AS k FROM orders
         EXCEPT SELECT l_orderkey AS k FROM lineitem ORDER BY k""",
    "q08_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q09_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""",
    "q10_antijoin" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""",
    "q11_having" ->
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey""",
    "q12_scalar_funcs" ->
      """SELECT p_partkey, upper(p_brand) AS brand_up,
         substring(p_name, 1, 8) AS name_pfx,
         CAST(length(p_name) AS BIGINT) AS name_len,
         concat(p_brand, '#', p_type) AS brand_type,
         CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'mid'
              ELSE 'big' END AS size_class,
         round(p_retailprice / 7.0, 3) AS price_div
         FROM part ORDER BY p_partkey""",
    "q13_date_funcs" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
         CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_epoch,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
         FROM orders ORDER BY o_orderkey""",
    "q14_matchmerge_inner" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_retailprice
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber, l_partkey""",
    "q15_matchmerge_left" ->
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",
    "q16_recoder" ->
      """SELECT CASE WHEN l_returnflag = 'A' THEN 'ACCEPTED'
                     WHEN l_returnflag = 'R' THEN 'RETURNED'
                     ELSE l_returnflag END AS flag, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY flag""",
    "q17_rename" ->
      """SELECT r_regionkey AS regionkey, r_name AS region_name
         FROM region ORDER BY regionkey""",
    "q18_factorise" ->
      """SELECT n_name AS level,
         CAST(row_number() OVER (ORDER BY n_name) AS BIGINT) AS rnk
         FROM (SELECT DISTINCT n_name FROM nation) ORDER BY level""",
    "q19_locf" ->
      """WITH t AS (SELECT event_id,
             CASE WHEN event_id % 5 IN (1,2) THEN NULL ELSE value END AS x
             FROM events),
         t2 AS (SELECT event_id, x,
             sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) OVER w AS ix,
             last_value(x IGNORE NULLS) OVER w AS locf
             FROM t WINDOW w AS (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t3 AS (SELECT event_id, x, ix, locf,
             max(CASE WHEN x IS NOT NULL THEN ix ELSE 0 END) OVER
               (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
             FROM t2)
         SELECT event_id, locf + (ix - cm) AS filled FROM t3 ORDER BY event_id""",
    "q20_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM documents GROUP BY text ORDER BY doc_id""",
    "q45_approx_sketches" ->
      """WITH h AS (SELECT DISTINCT l_returnflag,
             CAST(concat('0x', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
           FROM lineitem),
         r AS (SELECT l_returnflag, hv,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS nd
           FROM h),
         kmv AS (SELECT l_returnflag,
             round(CASE WHEN max(nd) < 256 THEN CAST(max(nd) AS DOUBLE)
                   ELSE 255.0 * 4294967296.0 /
                     CAST(max(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) END, 4)
               AS n_orders_kmv
           FROM r GROUP BY l_returnflag),
         b AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cb AS (SELECT l_returnflag, bucket, c,
             sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM b),
         med AS (SELECT l_returnflag, min(bucket) AS mb FROM cb
                 WHERE 2 * cum >= tot GROUP BY l_returnflag)
         SELECT k.l_returnflag, k.n_orders_kmv,
           CAST(m.mb AS DOUBLE) * 1000.0 + 500.0 AS p50_hist
         FROM kmv k JOIN med m USING (l_returnflag)
         ORDER BY l_returnflag""",
    // q21/q23: the LSH stages are candidate generators only — the emitted
    // pairs are EXACT-verified (jaccard over full gram sets), so whenever LSH
    // recall on the dataset is complete, the output equals the brute-force
    // pair set this SQL computes. Verified complete on the driver's fixtures
    // (planted near-dups sit at j >= 0.92; banding recall there ~= 1).
    "q21_dedup_minhash" ->
      """WITH toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT DISTINCT id_r FROM j WHERE jac >= 0.6)
         ORDER BY doc_id""",
    // identical semantics to q21 (the streaming path is batch-boundary-
    // invariant by construction — see CorpusStreams): same oracle SQL
    "q71_stream_corpus_dedup" ->
      """WITH toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT DISTINCT id_r FROM j WHERE jac >= 0.6)
         ORDER BY doc_id""",
    // same brute-force pair CTE as q21; an increment row (id >= 400) drops
    // iff some pair has it as the LARGER side with jaccard >= 0.6 — the
    // partner is then either a corpus doc (< 400) or a smaller increment id
    "q64_dedup_increment" ->
      """WITH toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r)
         SELECT doc_id FROM documents
         WHERE doc_id >= 400 AND doc_id NOT IN
           (SELECT DISTINCT id_r FROM j WHERE jac >= 0.6 AND id_r >= 400)
         ORDER BY doc_id""",
    "q23_ngram_jaccard" ->
      """WITH n AS (SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm FROM documents),
         g AS (SELECT DISTINCT doc_id,
                 CASE WHEN length(norm) <= 5 THEN norm
                      ELSE substring(norm, i, 5) END AS gram
               FROM (SELECT doc_id, norm,
                       unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
                     FROM n)),
         sz AS (SELECT doc_id, count(*) AS s FROM g GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r)
         SELECT id_l, id_r, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8
         ORDER BY id_l, id_r""",
    // langId is a deterministic argmax (struct max: score, then language
    // code) — reproducible in SQL via row_number over the same ordering.
    "q28_langid" ->
      """WITH toks AS (SELECT doc_id, lang,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS tk
           FROM documents),
         s AS (SELECT doc_id, lang, l, len(list_intersect(tk, sw)) AS score
               FROM toks CROSS JOIN (VALUES
                 ('de', ['der','die','das','und','ist','von','mit','nicht','ein','eine','als','auch','auf','dem','des','im','zu','den']),
                 ('en', ['the','and','of','to','in','is','that','it','was','for','with','are','this','not','have','from','they','which']),
                 ('es', ['el','los','las','una','por','con','para','como','mas','pero','sus','este','esta','entre','cuando','muy','sin','sobre']),
                 ('fr', ['le','la','les','des','est','dans','pour','que','qui','une','sur','pas','avec','par','sont','mais','nous','aux']),
                 ('it', ['il','di','che','non','per','con','sono','della','nel','alla','anche','come','questo','gli','dei','delle','essere','più'])
                 ) AS v(l, sw)),
         best AS (SELECT doc_id, lang, l, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, l DESC) AS rn FROM s)
         SELECT doc_id, CASE WHEN score <= 0 THEN 'und' ELSE l END AS lang_pred, lang
         FROM best WHERE rn = 1 ORDER BY doc_id""",
    "q49_multimodal_frames" ->
      """WITH m AS (SELECT doc_id AS media_id,
             CAST(length(text) % 640 + 32 AS INTEGER) AS w,
             CAST(length(text) % 480 + 32 AS INTEGER) AS h
           FROM documents)
         SELECT media_id, CAST(4 AS BIGINT) AS n_frames,
           CAST(CASE WHEN greatest(w, h) <= 256 THEN round(w * 1.0)
                ELSE round(w * (256.0 / greatest(w, h))) END AS INTEGER) AS target_width,
           CAST(CASE WHEN greatest(w, h) <= 256 THEN round(h * 1.0)
                ELSE round(h * (256.0 / greatest(w, h))) END AS INTEGER) AS target_height
         FROM m ORDER BY media_id""",
    // scale = max|v|/127 (double, fixed order), code = round-half-away-from-
    // zero(v/scale) clamped; DuckDB round() is also half-away-from-zero
    "q72_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         x AS (SELECT vec_id, scale, unnest(v) AS val,
             unnest(generate_series(1, len(v))) AS dim FROM s)
         SELECT vec_id, CAST(dim AS BIGINT) AS dim,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE greatest(-127, least(127, round(val / scale))) END AS BIGINT) AS code,
           scale
         FROM x ORDER BY vec_id, dim""",
    "q66_embed_centroids" ->
      """WITH e AS (SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(generate_series(1, len(embedding))) AS dim
           FROM embeddings)
         SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_v
         FROM e GROUP BY label, dim ORDER BY label, dim""",
    // Exact cosine top-k is ANSI-expressible: DuckDB's
    // list_cosine_similarity on DOUBLE[] accumulates in double like the
    // native CosineSimilarity expression; ranks use the UNROUNDED score on
    // both sides, output rounds to 6dp (Similarity.bruteForceTopK contract).
    // q272 shares this replay verbatim: the JSONL ingest gate is
    // lossless (q268), so the ANN ranking over ingested vectors must
    // hash-equal the ranking over the source parquet
    "q24_knn_bruteforce" -> annBruteOracle,
    "q272_ingested_ann" -> annBruteOracle,

    // q24's scoring CTEs with the mining exclusions: the labeled positive
    // per query is its true top-1 (recomputed in SQL), plus the 0.95
    // false-negative margin — both applied before the re-rank
    "q304_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
         s AS (SELECT query_id, neighbor_id,
                 list_cosine_similarity(qv, cv) AS cos_raw
               FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
         p AS (SELECT query_id, neighbor_id AS pos_id FROM
                 (SELECT query_id, neighbor_id,
                    row_number() OVER (PARTITION BY query_id
                      ORDER BY cos_raw DESC, neighbor_id) AS rn
                  FROM s)
               WHERE rn = 1),
         f AS (SELECT s.query_id, s.neighbor_id, s.cos_raw FROM s
               LEFT JOIN p ON p.query_id = s.query_id
                          AND p.pos_id = s.neighbor_id
               WHERE p.pos_id IS NULL AND s.cos_raw < 0.95),
         r AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
               FROM f)
         SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    "q27_text_quality" ->
      """WITH base AS (SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks,
             len(regexp_extract_all(regexp_replace(text, '\s+', ' ', 'g'),
               '\p{L}+|\p{N}+|[^\p{L}\p{N} ]')) AS n_sub
           FROM documents),
         m AS (SELECT doc_id, n_sub,
             CASE WHEN n_chars = 0 THEN 0.0
                  ELSE CAST(n_punct AS DOUBLE) / n_chars END AS pr,
             CASE WHEN n_chars = 0 THEN 0.0
                  ELSE CAST(n_digit AS DOUBLE) / n_chars END AS dr,
             CASE WHEN n_tok = 0 THEN 0.0
                  ELSE CAST(n_nonspace AS DOUBLE) / n_tok END AS atl,
             CAST(n_tok AS DOUBLE) AS tkd,
             CASE WHEN len(toks) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(toks,
                    ['the','and','of','to','in','is','that','it','was','for',
                     'with','are','this','not','have','from','they','which']))
                    AS DOUBLE) / len(toks) END AS sr
           FROM base)
         SELECT doc_id,
           round(least(tkd / 100.0, 1.0) * 0.25
             + (CASE WHEN atl BETWEEN 2.5 AND 9.0 THEN 1.0 ELSE 0.3 END) * 0.2
             + greatest(0.0, 1.0 - pr * 4.0) * 0.2
             + greatest(0.0, 1.0 - dr * 4.0) * 0.15
             + least(sr * 4.0, 1.0) * 0.2, 6) AS quality,
           round(pr, 6) AS punct_ratio,
           round(sr, 6) AS stopword_ratio,
           CAST(n_sub AS BIGINT) AS n_subwords
         FROM m ORDER BY doc_id""",
    // corpus seeds only (the generation's frozen model); increment checked
    // vs corpus cell-mates then vs smaller-id increment cell-mates
    "q137_semdedup_incr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         corp AS (SELECT * FROM e WHERE vec_id < 400),
         inc AS (SELECT vec_id, v FROM e WHERE vec_id >= 400
                 UNION ALL
                 SELECT vec_id + 200000, v FROM e
                 WHERE vec_id < 400 AND vec_id % 20 = 0),
         seeds AS (SELECT v AS c_vec, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM corp)
           WHERE rn <= 16),
         asgc AS (SELECT vec_id, v, cell FROM (
             SELECT c.vec_id, c.v, s.cell,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY list_cosine_similarity(c.v, s.c_vec) DESC, s.cell) AS rn
             FROM corp c CROSS JOIN seeds s)
           WHERE rn = 1),
         asgi AS (SELECT vec_id, v, cell FROM (
             SELECT i.vec_id, i.v, s.cell,
               row_number() OVER (PARTITION BY i.vec_id
                 ORDER BY list_cosine_similarity(i.v, s.c_vec) DESC, s.cell) AS rn
             FROM inc i CROSS JOIN seeds s)
           WHERE rn = 1),
         dropc AS (SELECT DISTINCT i.vec_id
           FROM asgi i JOIN asgc c ON i.cell = c.cell
           WHERE list_cosine_similarity(i.v, c.v) >= 0.95),
         drops AS (SELECT DISTINCT r.vec_id
           FROM asgi l JOIN asgi r ON l.cell = r.cell AND l.vec_id < r.vec_id
           WHERE list_cosine_similarity(l.v, r.v) >= 0.95)
         SELECT i.vec_id, CAST(i.cell AS BIGINT) AS cell FROM asgi i
         WHERE i.vec_id NOT IN (SELECT vec_id FROM dropc
                                UNION SELECT vec_id FROM drops)
         ORDER BY i.vec_id""",
    // seed/assignment CTEs mirror q118's proven quantizer parity; dropped =
    // any smaller-id cell-mate at cosine >= 0.95 (canonical-min-id)
    "q129_semdedup" ->
      """WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         e AS (SELECT * FROM e0
               UNION ALL
               SELECT vec_id + 100000, v FROM e0 WHERE vec_id % 10 = 0),
         seeds AS (SELECT v AS c_vec, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         asg AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, s.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.cell) AS rn
             FROM e CROSS JOIN seeds s)
           WHERE rn = 1),
         dropped AS (SELECT DISTINCT r.vec_id
           FROM asg l JOIN asg r ON l.cell = r.cell AND l.vec_id < r.vec_id
           JOIN e el ON el.vec_id = l.vec_id
           JOIN e er ON er.vec_id = r.vec_id
           WHERE list_cosine_similarity(el.v, er.v) >= 0.95)
         SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell FROM asg a
         WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
         ORDER BY a.vec_id""",
    "q52_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
                    UNION ALL
                    SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings),
         p AS (SELECT a.vec_id AS id_l, b.vec_id AS id_r,
                 list_cosine_similarity(a.ev, b.ev) AS c
               FROM e a JOIN e b ON a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.ev, b.ev) >= 0.95)
         SELECT id_l, id_r, round(c, 6) AS cosine FROM p ORDER BY id_l, id_r""",
    "q54_sql_native_fn" ->
      """SELECT a.vec_id AS id_l, b.vec_id AS id_r,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) + 0
             AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
         ORDER BY id_l""",
    "q65_repetition" ->
      """WITH segs AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\. '), x -> x <> '') AS sg
           FROM documents),
         tok AS (SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
           FROM documents),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY doc_id, tok)
           GROUP BY doc_id)
         SELECT s.doc_id,
           round(CASE WHEN len(sg) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(sg)) AS DOUBLE) / len(sg) END, 6)
             AS dup_segment_ratio,
           round(CASE WHEN m IS NULL THEN 0.0
             ELSE CAST(m AS DOUBLE) / n END, 6) AS max_token_ratio
         FROM segs s LEFT JOIN mult ON s.doc_id = mult.doc_id
         ORDER BY s.doc_id""",
    "q63_text_normalize" ->
      """SELECT doc_id,
           md5(nfc_normalize(regexp_replace(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))) AS clean_md5,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc
         FROM documents ORDER BY doc_id""",
    "q62_profile" ->
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
         SELECT * FROM p ORDER BY "column"""",
    "q61_bottomk_sketch" ->
      """WITH h AS (SELECT DISTINCT source,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS hv
           FROM documents),
         r AS (SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h)
         SELECT source, CAST(rn AS BIGINT) AS rn, hv FROM r WHERE rn <= 8
         ORDER BY source, rn""",
    "q58_mixture_sample" ->
      """WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)),
         cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         j AS (SELECT c.source, c.n, w.wt FROM cnt c JOIN w ON c.source = w.source),
         t AS (SELECT min(n / wt) AS total FROM j),
         thr AS (SELECT source,
             CAST(round(wt * (SELECT total FROM t) / n * 4294967296) AS BIGINT) AS th
           FROM j)
         SELECT d.source, count(*) AS n_kept
         FROM documents d JOIN thr ON d.source = thr.source
         WHERE CAST(concat('0x', substring(md5(d.text), 1, 8)) AS BIGINT) < th
         GROUP BY d.source ORDER BY d.source""",
    "q57_sequence_packing" ->
      """WITH d AS (SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents),
         o AS (SELECT source, n_tokens,
           coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
         FROM d)
         SELECT source, CAST(floor(start_off / 2048) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM o GROUP BY source, pack_id ORDER BY source, pack_id""",
    "q119_packed_blocks" ->
      raw"""WITH tok AS (SELECT source, doc_id,
             list_append(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), '<eos>') AS t
           FROM documents),
         o AS (SELECT source, doc_id, t, CAST(len(t) AS BIGINT) AS n,
             CAST(coalesce(sum(len(t)) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
           FROM tok WHERE len(t) > 0),
         sp AS (SELECT source, t, n, st,
             unnest(generate_series(st // 512, (st + n - 1) // 512)) AS b
           FROM o),
         pieces AS (SELECT source, b, st,
             t[greatest(0, b*512 - st) + 1 : least(n, (b+1)*512 - st)] AS piece
           FROM sp),
         blocks AS (SELECT source, b AS block_id,
             string_agg(array_to_string(piece, ' '), ' ' ORDER BY st) AS txt,
             sum(len(piece)) AS nt
           FROM pieces GROUP BY source, b)
         SELECT source, CAST(block_id AS BIGINT) AS block_id,
           CAST(nt AS BIGINT) AS n_tokens, md5(txt) AS h
         FROM blocks ORDER BY source, block_id""",
    // thresholds = round(cumweight * 2^32): 0.8 -> 3435973837, 0.9 -> 3865470566
    "q56_dataset_split" ->
      """WITH s AS (SELECT n_chars, CASE
           WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
           WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
           ELSE 'test' END AS split
         FROM documents)
         SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM s GROUP BY split ORDER BY split""",
    "q53_recoder_numeric" ->
      """SELECT CASE WHEN l_linenumber = 1 THEN 101
                     WHEN l_linenumber = 2 THEN 102
                     ELSE l_linenumber END AS ln, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY ln""",
    "q29_fingerprint" ->
      """WITH toks AS (SELECT doc_id,
             list_sort(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> ''))) AS tk
           FROM documents)
         SELECT doc_id, md5(array_to_string(tk, ' ')) AS token_set_fp,
           CAST(len(tk) AS BIGINT) AS n_distinct_tokens
         FROM toks ORDER BY doc_id""",
    "q26_token_stats" ->
      """SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_m
         FROM documents ORDER BY doc_id""",
    "q30_sessionize" ->
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
         FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id""",
    "q31_window_tumbling" ->
      """WITH b AS (SELECT
           (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS wstart,
           event_type, value FROM events)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""",
    "q32_stream_tumbling" ->
      """WITH b AS (SELECT
           (CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS wstart,
           event_type, value FROM events)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""",
    "q33_jdbc_roundtrip" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",
    "q105_jdbc_partitioned" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""",
    "q106_compaction" ->
      """SELECT doc_id, md5(text) AS h, lang, source, n_chars
         FROM documents ORDER BY doc_id""",
    "q108_expectations" ->
      """SELECT event_id, concat_ws(',',
           CASE WHEN NOT coalesce(value <= 300, false)
                THEN 'value_le_300' END,
           CASE WHEN NOT coalesce(
                  event_type IN ('click','view','purchase','signup'), false)
                THEN 'known_type' END,
           CASE WHEN NOT coalesce(user_id IS NOT NULL, false)
                THEN 'user_present' END) AS violations
         FROM events ORDER BY event_id""",
    "q109_orphan_keys" ->
      """SELECT l_orderkey, count(*) AS n_rows FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
           WHERE o.o_orderkey = l.l_orderkey
             AND o.o_orderdate < DATE '1997-01-01')
         GROUP BY 1 ORDER BY 1""",
    "q110_dup_keys" ->
      """SELECT lang, source, count(*) AS n_rows FROM documents
         GROUP BY 1, 2 HAVING count(*) > 1 ORDER BY 1, 2""",
    "q114_budget_select" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id) AS cum
           FROM documents)
         WHERE cum <= 100000 ORDER BY doc_id""",
    "q115_budget_by_source" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS cum
           FROM documents)
         WHERE cum <= 2000 ORDER BY doc_id""",
    "q113_stream_quality" ->
      """SELECT event_id, violations FROM (
           SELECT event_id, concat_ws(',',
             CASE WHEN NOT coalesce(value <= 300, false)
                  THEN 'value_le_300' END,
             CASE WHEN NOT coalesce(
                    event_type IN ('click','view','purchase','signup'), false)
                  THEN 'known_type' END,
             CASE WHEN NOT coalesce(user_id IS NOT NULL, false)
                  THEN 'user_present' END) AS violations
           FROM events)
         WHERE violations <> '' ORDER BY event_id""",
    "q112_quarantine_stats" ->
      """SELECT rule, n_rows FROM (
           SELECT 'value_le_300' AS rule, count(*) AS n_rows FROM events
             WHERE NOT coalesce(value <= 300, false)
           UNION ALL SELECT 'known_type', count(*) FROM events
             WHERE NOT coalesce(
               event_type IN ('click','view','purchase','signup'), false)
           UNION ALL SELECT 'user_present', count(*) FROM events
             WHERE NOT coalesce(user_id IS NOT NULL, false))
         WHERE n_rows > 0 ORDER BY rule""",
    "q111_chunking" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         starts AS (SELECT doc_id, t,
             unnest(generate_series(0, len(t) - 1, 64)) AS st
           FROM tok WHERE len(t) > 0)
         SELECT doc_id, CAST(st // 64 AS BIGINT) AS chunk_idx,
           CAST(len(t[st+1 : least(st+128, len(t))]) AS BIGINT) AS n_tokens,
           md5(array_to_string(t[st+1 : least(st+128, len(t))], ' ')) AS h
         FROM starts ORDER BY doc_id, chunk_idx""",
    "q107_exact_substring" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         idx AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 11)) AS i FROM tok),
         w AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+11], ' ') AS win
               FROM idx),
         sized AS (SELECT doc_id, win FROM
             (SELECT doc_id, win, count(*) OVER (PARTITION BY win) AS c FROM w)
           WHERE c <= 1000)
         SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_windows
         FROM sized a JOIN sized b ON a.win = b.win AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q116_exact_substring_apply" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         w AS (SELECT doc_id, i, array_to_string(t[i:i+11], ' ') AS win
               FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 11)) AS i FROM tok)),
         keeper AS (SELECT win, min(doc_id) AS k FROM w GROUP BY 1),
         dup AS (SELECT w.doc_id, w.i FROM w
                 JOIN keeper ON w.win = keeper.win WHERE w.doc_id > keeper.k),
         cov AS (SELECT DISTINCT doc_id,
                   unnest(generate_series(i, i + 11)) AS p FROM dup),
         pos AS (SELECT doc_id, t[p] AS tok, p
                 FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t))) AS p FROM tok)),
         kept AS (SELECT pos.doc_id, pos.p, pos.tok
                  FROM pos LEFT JOIN cov
                    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                        count(*) AS nk
                 FROM kept GROUP BY doc_id)
         SELECT tok.doc_id, md5(coalesce(agg.clean_text, '')) AS h,
           CAST(coalesce(len(tok.t), 0) AS BIGINT) AS n_total,
           CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept
         FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
         ORDER BY tok.doc_id""",
    // corpus ids precede batch ids, so the incremental apply equals the
    // one-shot keep-first dedup (q116's oracle) restricted to the batch
    "q120_substring_dedup_incr" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         w AS (SELECT doc_id, i, array_to_string(t[i:i+11], ' ') AS win
               FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 11)) AS i FROM tok)),
         keeper AS (SELECT win, min(doc_id) AS k FROM w GROUP BY 1),
         dup AS (SELECT w.doc_id, w.i FROM w
                 JOIN keeper ON w.win = keeper.win WHERE w.doc_id > keeper.k),
         cov AS (SELECT DISTINCT doc_id,
                   unnest(generate_series(i, i + 11)) AS p FROM dup),
         pos AS (SELECT doc_id, t[p] AS tok, p
                 FROM (SELECT doc_id, t,
                         unnest(generate_series(1, len(t))) AS p FROM tok)),
         kept AS (SELECT pos.doc_id, pos.p, pos.tok
                  FROM pos LEFT JOIN cov
                    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                        count(*) AS nk
                 FROM kept GROUP BY doc_id)
         SELECT tok.doc_id, md5(coalesce(agg.clean_text, '')) AS h,
           CAST(coalesce(len(tok.t), 0) AS BIGINT) AS n_total,
           CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept
         FROM tok LEFT JOIN agg ON tok.doc_id = agg.doc_id
         WHERE tok.doc_id > (SELECT max(doc_id) // 2 FROM documents)
         ORDER BY tok.doc_id""",
    "q60_stream_dedup" ->
      """SELECT event_id, user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, value
         FROM events ORDER BY event_id""",
    "q59_asof_join" ->
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
         ORDER BY p.user_id, p_id""",
    "q55_stream_stateful_sessions" ->
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
         ORDER BY user_id, session_start""",
    "q34_multimodal" ->
      """SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
         CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height,
         CAST(octet_length(encode(text)) % 256 AS BIGINT) AS mean_gray,
         CAST(8 AS BIGINT) AS feature_dim
         FROM documents ORDER BY media_id""",
    // every resized pixel recomputed in SQL: nearest-neighbor source pixel
    // is (x*w div tw, y*h div th), gradient value (n+sx+sy)%256, mean =
    // integer-floor of the pixel sum — exactly the engine's raster loop
    "q122_multimodal_resize" ->
      """WITH src AS (SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         dims AS (SELECT media_id, n, n % 64 + 16 AS w, n % 48 + 16 AS h
                  FROM src),
         t AS (SELECT media_id, n, w, h,
             CASE WHEN greatest(w, h) <= 24 THEN w
                  ELSE greatest(1, CAST(round(w * 24.0 / greatest(w, h)) AS INTEGER))
             END AS tw,
             CASE WHEN greatest(w, h) <= 24 THEN h
                  ELSE greatest(1, CAST(round(h * 24.0 / greatest(w, h)) AS INTEGER))
             END AS th
           FROM dims),
         px AS (SELECT media_id, n, w, h, tw, th,
                  unnest(generate_series(0, tw - 1)) AS x FROM t),
         pxy AS (SELECT media_id, n, w, h, tw, th, x,
                   unnest(generate_series(0, th - 1)) AS y FROM px),
         s AS (SELECT media_id, tw, th,
                 sum((n + (x * w // tw) + (y * h // th)) % 256) AS tot
               FROM pxy GROUP BY 1, 2, 3)
         SELECT media_id, CAST(tw AS BIGINT) AS width,
           CAST(th AS BIGINT) AS height,
           CAST(tot // (tw * th) AS BIGINT) AS mean_gray
         FROM s ORDER BY media_id""",
    "q123_multimodal_audio" ->
      """WITH src AS (SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         d AS (SELECT media_id, n, n % 1000 + 100 AS num FROM src),
         sm AS (SELECT media_id, num,
                  sum(abs(((n + i) % 65536) - 32768)) AS tot
                FROM (SELECT media_id, n, num,
                        unnest(generate_series(0, num - 1)) AS i FROM d)
                GROUP BY 1, 2)
         SELECT media_id, CAST(num AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(num * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(tot // num AS BIGINT) AS mean_amp
         FROM sm ORDER BY media_id""",
    "q50_correlate" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
         CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS lag_sec
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
         ORDER BY 1, 2, 3""",
    "q48_locf_grouped" ->
      """WITH t AS (SELECT user_id, event_id,
             CASE WHEN event_id % 7 IN (2,3) THEN NULL ELSE value END AS x
             FROM events),
         t2 AS (SELECT user_id, event_id, x,
             sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) OVER w AS ix,
             last_value(x IGNORE NULLS) OVER w AS locf
             FROM t WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t3 AS (SELECT user_id, event_id, x, ix, locf,
             max(CASE WHEN x IS NOT NULL THEN ix ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
             FROM t2)
         SELECT user_id, event_id,
           CASE WHEN x IS NOT NULL THEN x ELSE locf + (ix - cm) END AS filled
         FROM t3 ORDER BY user_id, event_id""",
    "q44_ordinal" ->
      """SELECT c_custkey,
         CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS rowpos
         FROM customer ORDER BY c_custkey""",
    "q46_bucketed_join" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, l_quantity, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q47_salted_join" ->
      """SELECT l_orderkey, l_linenumber, s_name
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY l_orderkey, l_linenumber, s_name""",
    "q43_sliding_window" ->
      """WITH fe AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS es, event_type, value
                     FROM events),
         b AS (SELECT (es - es % 3600) AS wstart, event_type, value FROM fe
               UNION ALL
               SELECT (es - es % 3600) - 3600 AS wstart, event_type, value FROM fe)
         SELECT wstart, event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM b GROUP BY wstart, event_type ORDER BY wstart, event_type""",
    "q42_session_window" ->
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
         FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""",
    "q36_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""",
    "q37_percentile" ->
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.9) AS p90,
         min(l_quantity) AS qmin, max(l_quantity) AS qmax
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q38_pivot" ->
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
         count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q39_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""",
    "q40_range_window" ->
      """WITH b AS (SELECT o_custkey, o_orderkey,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_epoch, o_totalprice
           FROM orders)
         SELECT o_custkey, o_orderkey, od_epoch,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER
             (PARTITION BY o_custkey ORDER BY od_epoch
              RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
         FROM b ORDER BY o_custkey, od_epoch, o_orderkey""",
    "q41_distinct_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q35_sql_text" ->
      """WITH n AS (SELECT n_regionkey, count(*) AS n_nations
                    FROM nation GROUP BY n_regionkey)
         SELECT r_name, n_nations FROM region
         JOIN n ON r_regionkey = n_regionkey
         ORDER BY r_name""",
    // portable simhash: 60-bit md5 token hash, multiplicity-weighted bit
    // votes, tie (vote sum 0) -> bit 0; tokenless docs -> 0 via LEFT JOIN
    "q22_dedup_simhash" ->
      """WITH toks AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS tok
           FROM documents),
         h AS (SELECT doc_id,
             CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) AS hv
           FROM toks),
         v AS (SELECT doc_id, b,
             sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b)
           GROUP BY doc_id, b),
         s AS (SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sh
           FROM v GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(s.sh, 0) AS BIGINT) AS simhash
         FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
         ORDER BY d.doc_id""",
    // same 8-token shingle definition as the q21 3-shingle CTE; benchmark =
    // doc_id % 10 == 0; any shared shingle contaminates
    "q67_decontaminate" ->
      """WITH toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 8 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+7], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 7, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
         hit AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bs USING (shingle))
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM hit)
         ORDER BY doc_id""",
    "q125_oov_rate" ->
      """WITH vocab AS (SELECT token FROM (
             SELECT unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
                 x -> x <> '')) AS token
             FROM documents)
           GROUP BY token ORDER BY count(*) DESC, token LIMIT 100),
         dt AS (SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
                 x -> x <> '')) AS token
               FROM documents),
         agg AS (SELECT dt.doc_id, count(*) AS n_tokens,
             sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
           FROM dt LEFT JOIN vocab v ON dt.token = v.token
           GROUP BY dt.doc_id)
         SELECT d.doc_id, CAST(coalesce(agg.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(agg.n_oov, 0) AS BIGINT) AS n_oov
         FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         ORDER BY d.doc_id""",
    "q121_contamination_spans" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         w AS (SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS win
               FROM (SELECT doc_id, t,
                       unnest(generate_series(1, len(t) - 7)) AS i FROM tok)),
         b AS (SELECT DISTINCT doc_id AS bench_id, win FROM w
               WHERE doc_id % 10 = 0),
         hits AS (SELECT w.doc_id, b.bench_id, w.i
                  FROM w JOIN b USING (win) WHERE w.doc_id <> b.bench_id)
         SELECT doc_id, bench_id, count(*) AS n_spans,
           CAST(min(i) - 1 AS BIGINT) AS first_start
         FROM hits GROUP BY doc_id, bench_id
         ORDER BY doc_id, bench_id""",
    "q124_html_extract" ->
      raw"""WITH h AS (SELECT doc_id,
             concat('<html><body><h1>Doc </h1><p class="main">', text,
               ' &amp; more</p><br/></body></html>') AS t
           FROM documents),
         s1 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t FROM h),
         s2 AS (SELECT doc_id,
             replace(replace(replace(replace(replace(t,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&apos;', ''''), '&amp;', '&') AS t
           FROM s1),
         s3 AS (SELECT doc_id,
             trim(regexp_replace(t, '\s+', ' ', 'g')) AS t FROM s2)
         SELECT doc_id, md5(t) AS h,
           CAST(len(list_filter(regexp_split_to_array(t, '\s+'),
             x -> x <> '')) AS BIGINT) AS n_tok
         FROM s3 ORDER BY doc_id""",
    "q68_scrub" ->
      """WITH s AS (SELECT doc_id,
             concat(text, ' contact user', doc_id,
               '@mail.example.com via https://data.example.org/d/', doc_id,
               ' end') AS t
           FROM documents),
         r1 AS (SELECT doc_id, len(regexp_extract_all(t, 'https?://[^\s]+')) AS n_urls,
             regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g') AS t1
           FROM s),
         r2 AS (SELECT doc_id, n_urls,
             len(regexp_extract_all(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             regexp_replace(t1,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t2
           FROM r1)
         SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls,
           CAST(n_emails AS BIGINT) AS n_emails, md5(t2) AS scrubbed_md5
         FROM r2 ORDER BY doc_id""",
    "q69_vocab_topk" ->
      """WITH tok AS (SELECT
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents)
         SELECT token, count(*) AS n FROM tok GROUP BY token
         ORDER BY n DESC, token LIMIT 100""",
    // q21's exact-pair CTE + recursive transitive closure; component = min
    // reachable id (self included), singletons label themselves via LEFT JOIN
    "q70_dedup_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a)
         SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
         ORDER BY d.doc_id""",
    // q70's component CTEs + per-component size and the 1/size weight
    "q293_soft_dedup" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lbl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         cnt AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM lbl GROUP BY 1)
         SELECT l.doc_id, l.component, c.cluster_size,
           round(1.0 / c.cluster_size, 6) AS weight
         FROM lbl l JOIN cnt c USING (component)
         ORDER BY l.doc_id""",

    // the q293 weight chain, then priority = md5-32bit(doc_id) x
    // cluster_size ascending (tie doc_id), first 120 kept — the
    // weighted-sampler replay over the replayed weights
    "q298_soft_weighted_sample" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lbl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         cnt AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM lbl GROUP BY 1),
         wt AS (SELECT l.doc_id, l.component, c.cluster_size,
                 round(1.0 / c.cluster_size, 6) AS weight
                FROM lbl l JOIN cnt c USING (component)),
         pri AS (SELECT doc_id, component, cluster_size, weight,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) * cluster_size AS p
                FROM wt),
         sel AS (SELECT doc_id, component, cluster_size, weight
                 FROM pri ORDER BY p, doc_id LIMIT 120)
         SELECT doc_id, component, cluster_size, weight
         FROM sel ORDER BY doc_id""",

    // the q293 weight chain + whitespace token mass, rolled up by source
    // with the decimal-routed weighted sum
    "q294_soft_savings" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lbl AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         cnt AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
                 FROM lbl GROUP BY 1),
         wt AS (SELECT l.doc_id, round(1.0 / c.cluster_size, 6) AS weight
                FROM lbl l JOIN cnt c USING (component)),
         tok AS (SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS nt
           FROM documents)
         SELECT t.source, CAST(sum(t.nt) AS BIGINT) AS raw_tokens,
           CAST(sum(CAST(t.nt * w.weight AS DECIMAL(18,6))) AS DOUBLE)
             AS effective_tokens
         FROM tok t JOIN wt w USING (doc_id)
         GROUP BY 1 ORDER BY t.source""",

    // q70's component CTEs + per-component keep-longest representative
    "q139_dedup_keep_best" ->
      raw"""WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id,
             len(list_filter(regexp_split_to_array(d.text, '\s+'), x -> x <> '')) AS n_tok,
             coalesce(c.component, d.doc_id) AS component
           FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
           WHERE d.text IS NOT NULL),
         sizes AS (SELECT component, count(*) AS n_members FROM lab GROUP BY component),
         r AS (SELECT component, doc_id, n_tok,
             row_number() OVER (PARTITION BY component
               ORDER BY n_tok DESC, doc_id) AS rn FROM lab)
         SELECT r.component, r.doc_id, CAST(r.n_tok AS BIGINT) AS n_tok,
           CAST(s.n_members AS BIGINT) AS n_members
         FROM r JOIN sizes s USING (component) WHERE rn = 1
         ORDER BY r.component""",
    "q73_json_extract" ->
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q74_group_topk" ->
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rnk""",
    "q75_bigram_counts" ->
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         idx AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 1)) AS i FROM tok)
         SELECT t[i] || ' ' || t[i+1] AS ngram, count(*) AS n
         FROM idx GROUP BY ngram ORDER BY n DESC, ngram LIMIT 100""",
    // LOCF via the count-of-non-null grouping trick: each gap bucket joins
    // the group of the last observed bucket, whose max is its single sum
    "q76_resample_locf" ->
      """WITH e AS (SELECT user_id,
             CAST(floor(floor(epoch(ts))/3600) AS BIGINT) AS h, value FROM events),
         b AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM e GROUP BY user_id),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS h FROM b),
         agg AS (SELECT user_id, h, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
           FROM e GROUP BY user_id, h),
         j AS (SELECT g.user_id, g.h, coalesce(a.n, 0) AS n_events, a.sv
               FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.h = a.h),
         k AS (SELECT *, count(sv) OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM j)
         SELECT user_id, h, n_events,
           max(sv) OVER (PARTITION BY user_id, grp) AS sum_value
         FROM k ORDER BY user_id, h""",
    "q77_histogram" ->
      """SELECT CAST(least(greatest(floor(o_totalprice/50000.0), 0), 19) AS BIGINT) AS bucket,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY bucket ORDER BY bucket""",
    "q78_quantile_trim" ->
      """WITH n AS (SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
           FROM documents),
         q AS (SELECT quantile_cont(n_tokens, 0.05) AS lo,
                      quantile_cont(n_tokens, 0.95) AS hi FROM n)
         SELECT doc_id, n_tokens FROM n, q
         WHERE n_tokens >= lo AND n_tokens <= hi ORDER BY doc_id""",
    // rational idf (nd+1)/(df+1): same per-document ranking as the log form,
    // and exactly reproducible across engines (see Vocab.tfidfTopTerms)
    "q79_tfidf" ->
      """WITH tok AS (SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
         dfq AS (SELECT token, count(*) AS df
                 FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY token),
         nq AS (SELECT count(*) AS nd FROM documents),
         s AS (SELECT doc_id, token, tf,
                 round(tf * (nd + 1.0) / (df + 1.0), 6) AS score
               FROM tf JOIN dfq USING (token), nq),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, token) AS rn FROM s)
         SELECT doc_id, CAST(rn AS BIGINT) AS rnk, token, score
         FROM r WHERE rn <= 3 ORDER BY doc_id, rnk""",
    // q30's session CTE, reduced to interval bounds + a containment join
    "q80_session_range_join" ->
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
         ORDER BY event_id, session_id""",
    "q81_shard_assign" ->
      """WITH s AS (SELECT doc_id,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 8 AS shard
           FROM documents)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS ordinal
         FROM s ORDER BY doc_id""",
    "q82_sample_exact" ->
      """SELECT doc_id, source FROM
         (SELECT doc_id, source FROM documents
          ORDER BY md5(text), doc_id LIMIT 100)
         ORDER BY doc_id""",
    "q83_source_quota" ->
      """WITH r AS (SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(text), doc_id) AS rn
           FROM documents)
         SELECT source, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM r WHERE rn <= 10 ORDER BY source, rnk""",
    "q84_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400),
         n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id >= 100)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""",
    // same greedy chunking regex as segmentDedup; the whitespace class is
    // spelled out because Java and RE2 disagree on \S (see Dedup
    // .segmentDedup) — with it, chunking is engine-identical
    "q85_segment_dedup" ->
      """WITH segs AS (
           SELECT doc_id, trim(s.seg) AS seg, s.i AS idx
           FROM documents, LATERAL (
             SELECT unnest(regexp_extract_all(text, '(?:[^ \t\n\x0B\f\r]+ ?){1,8}')) AS seg,
                    generate_subscripts(regexp_extract_all(text, '(?:[^ \t\n\x0B\f\r]+ ?){1,8}'), 1) AS i) s
           WHERE trim(s.seg) <> ''),
         freq AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) >= 2),
         flagged AS (SELECT g.doc_id, g.idx, g.seg, f.seg IS NOT NULL AS dropped
                     FROM segs g LEFT JOIN freq f USING (seg)),
         agg AS (SELECT doc_id, count(*) AS n_total,
                   count(*) FILTER (WHERE NOT dropped) AS n_kept,
                   string_agg(seg, ' ' ORDER BY idx) FILTER (WHERE NOT dropped) AS clean_text
                 FROM flagged GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_total, 0) AS n_total, coalesce(a.n_kept, 0) AS n_kept
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""",
    // sqrt (not pow) on both sides: IEEE-correctly-rounded, so per-source
    // terms are bit-identical across engines; the normalizer sum is
    // decimal-routed (dsum convention) to kill merge-order dependence
    "q86_mixture_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z FROM c)
         SELECT source, n, round(sqrt(n) / z, 6) AS weight,
           CAST(round(10000 * sqrt(n) / z) AS BIGINT) AS alloc
         FROM c, z ORDER BY source""",
    "q87_group_sample" ->
      """SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         WHERE rn <= 5 ORDER BY lang, rnk""",
    // the q126 chain minus the (non-additive) dup column: the streamed
    // card's counters are batch-additive, so the one-shot SQL is its oracle
    "q150_correlation" ->
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
         ORDER BY l_returnflag, col_x, col_y""",

    "q151_bpe_count" ->
      s"""WITH RECURSIVE
         $bpeEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_bpe
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""",

    // the wpEncCte greedy longest-match replay, summed per document
    "q163_wordpiece_count" ->
      s"""WITH RECURSIVE
         $wpEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_wp
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""",

    // q158's inclusive greedy-prefix rule with the cost column swapped to
    // the WordPiece token count via the wpEncCte replay
    "q165_budget_wordpiece" ->
      s"""WITH RECURSIVE
         $wpEncCte,
         m AS (SELECT w.doc_id, sum(f.nt) AS nw
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
         dd AS (SELECT d.doc_id, d.n_chars,
             CAST(coalesce(m.nw, 0) AS BIGINT) AS n_wp
           FROM documents d LEFT JOIN m USING (doc_id)
           WHERE d.text IS NOT NULL),
         r AS (SELECT doc_id, n_chars, n_wp,
             sum(n_wp) OVER (ORDER BY n_chars DESC, doc_id ASC) AS cum
           FROM dd)
         SELECT doc_id, n_chars, n_wp FROM r WHERE cum <= 50000
         ORDER BY doc_id""",

    // q86's sqrt/decimal-normalizer chain with the per-source mass
    // re-denominated in BPE tokens via the q151 recursive encode replay
    "q157_mixture_bpe" ->
      s"""WITH RECURSIVE
         $bpeEncCte,
         dmass AS (SELECT w.doc_id, w.source, sum(f.nt) AS m
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id, w.source),
         c AS (SELECT source, CAST(sum(m) AS BIGINT) AS n
           FROM dmass GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z
           FROM c)
         SELECT source, n, round(sqrt(n) / z, 6) AS weight,
           CAST(round(10000 * sqrt(n) / z) AS BIGINT) AS alloc
         FROM c, z ORDER BY source""",

    // q114's inclusive greedy-prefix rule with the cost column swapped to
    // the BPE token count (RANGE == ROWS here: doc_id makes the order
    // total, so the window sum is unambiguous)
    "q158_budget_bpe" ->
      s"""WITH RECURSIVE
         $bpeEncCte,
         m AS (SELECT w.doc_id, sum(f.nt) AS nb
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id),
         dd AS (SELECT d.doc_id, d.n_chars,
             CAST(coalesce(m.nb, 0) AS BIGINT) AS n_bpe
           FROM documents d LEFT JOIN m USING (doc_id)
           WHERE d.text IS NOT NULL),
         r AS (SELECT doc_id, n_chars, n_bpe,
             sum(n_bpe) OVER (ORDER BY n_chars DESC, doc_id ASC) AS cum
           FROM dd)
         SELECT doc_id, n_chars, n_bpe FROM r WHERE cum <= 50000
         ORDER BY doc_id""",

    "q152_bpe_blocks" ->
      s"""WITH RECURSIVE
         $bpeEncCte,
         doctok AS (SELECT d.doc_id, d.source,
             list_append(coalesce(a.toks, CAST([] AS VARCHAR[])), '<eos>') AS t
           FROM documents d LEFT JOIN
             (SELECT w.doc_id, flatten(list(f.syms ORDER BY w.wi)) AS toks
              FROM words w JOIN fin f USING (word) GROUP BY w.doc_id) a
           USING (doc_id)
           WHERE d.text IS NOT NULL),
         o AS (SELECT source, doc_id, t, CAST(len(t) AS BIGINT) AS n,
             CAST(coalesce(sum(len(t)) OVER (PARTITION BY source
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS st
           FROM doctok WHERE len(t) > 0),
         sp AS (SELECT source, t, n, st,
             unnest(generate_series(st // 256, (st + n - 1) // 256)) AS b
           FROM o),
         pieces AS (SELECT source, b, st,
             t[greatest(0, b*256 - st) + 1 : least(n, (b+1)*256 - st)] AS piece
           FROM sp),
         blocks AS (SELECT source, b AS block_id,
             string_agg(array_to_string(piece, ' '), ' ' ORDER BY st) AS txt,
             sum(len(piece)) AS nt
           FROM pieces GROUP BY source, b)
         SELECT source, CAST(block_id AS BIGINT) AS block_id,
           CAST(nt AS BIGINT) AS n_tokens, md5(txt) AS h
         FROM blocks ORDER BY source, block_id""",

    "q148_stream_distinct" ->
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
         FROM st ORDER BY event_type""",

    // q154's sketch replica over the event stream's group/key/value —
    // streamed == batch bit-for-bit, so ONE SQL rebuild gates both
    "q161_stream_quantile" ->
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
         ORDER BY event_type, q""",

    // full-vocabulary groupBy + HAVING — exactly what the two-bounded-pass
    // MG-candidate + recount answer must equal (same tokenization as q69)
    "q162_heavy_hitters" -> hhTokenOracle,

    // streamed == batch by construction (per-doc stats are row-local),
    // so the q167 replay gates the streaming path verbatim
    "q170_stream_lm_score" -> lmStatsOracle,

    // bigram-model replay: reference counts, the same deterministic
    // top-500 cut (count desc, bigram asc), then exact integer sums over
    // the target half's pair stream
    "q167_ngram_lm" -> lmStatsOracle,

    // the LM chain + per-language percent-rank buckets over the fit
    // ratio (one IEEE division as the sort key) — ntile would split ties
    "q258_ccnet_buckets" -> ccnetBucketsOracle,

    // exact decimal moment sums (per-row double products cast once),
    // fixed double tree for cov — both engines run the identical IEEE ops
    "q260_embedding_covariance" -> (covCtes + """
         SELECT i, j, n, sx, sy, sxy, cov FROM cv ORDER BY i, j"""),

    // the q199 shingle chain over the planted-excerpt union, then the
    // NAIVE ordered-pair enumeration (every pair sharing a shingle) —
    // the zero-false-negative oracle the prefix-filtered engine plan
    // must reproduce exactly
    "q266_containment_pairs" ->
      raw"""WITH uni AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), 1, 40), ' ')
           FROM documents WHERE doc_id % 5 = 0),
         tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM uni WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_part, b.doc_id AS id_whole,
             count(*) AS ic
           FROM tok a JOIN tok b ON a.token = b.token
             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         c AS (SELECT id_part, id_whole, sa.s AS szp, sb.s AS szw, ic,
             CAST(ic AS DOUBLE) / sa.s AS cont,
             CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
           FROM inter JOIN sz sa ON sa.doc_id = id_part
                      JOIN sz sb ON sb.doc_id = id_whole)
         SELECT id_part, id_whole, CAST(szp AS BIGINT) AS sz_part,
           CAST(szw AS BIGINT) AS sz_whole, CAST(ic AS BIGINT) AS overlap,
           round(cont, 6) AS containment, round(jac, 6) AS jaccard
         FROM c WHERE cont >= 0.8 ORDER BY id_part, id_whole""",

    // the naive incoming-x-standing enumeration (every cross pair
    // sharing a shingle) the prefix-filtered probe must reproduce —
    // the q266 zero-false-negative oracle split across two frames
    "q270_containment_probe" -> containmentProbeOracle,

    // per-doc probe results are row-local given the frozen state, so the
    // streamed twin equals batch under any cut — ONE oracle gates both
    "q271_stream_containment_probe" -> containmentProbeOracle,

    // eight integer cells per token, the identical left-associated double
    // tree on both engines, ranks on the unrounded statistic
    "q265_chi2_features" ->
      raw"""WITH base AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '')) AS tk
           FROM documents WHERE text IS NOT NULL),
         cls AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS np FROM base),
         cnt AS (SELECT tok AS token, count(*) AS df_t,
             CAST(sum(y) AS BIGINT) AS pos_t
           FROM (SELECT unnest(tk) AS tok, y FROM base) GROUP BY 1),
         f AS (SELECT token, df_t, pos_t FROM cnt, cls
           WHERE df_t >= 5 AND df_t <= n - 5),
         x AS (SELECT token, df_t, pos_t,
             CAST(pos_t AS DOUBLE) AS a,
             CAST(df_t - pos_t AS DOUBLE) AS b,
             CAST(np AS DOUBLE) - CAST(pos_t AS DOUBLE) AS c,
             CAST(n - np AS DOUBLE) - CAST(df_t - pos_t AS DOUBLE) AS d,
             CAST(n AS DOUBLE) AS nd, CAST(np AS DOUBLE) AS npd,
             CAST(n - np AS DOUBLE) AS nnd
           FROM f, cls),
         ch AS (SELECT token, df_t, pos_t,
             nd * (a * d - b * c) * (a * d - b * c)
               / ((a + b) * (c + d) * npd * nnd) AS chi2raw
           FROM x),
         r AS (SELECT token, df_t, pos_t, round(chi2raw, 6) AS chi2,
             CAST(row_number() OVER (ORDER BY chi2raw DESC, token)
               AS INTEGER) AS rank
           FROM ch)
         SELECT rank, token, CAST(df_t AS BIGINT) AS df_t, pos_t, chi2
         FROM r WHERE rank <= 50 ORDER BY rank""",

    // the SQ8 chain + per-doc rollup: integer code stats and the exact
    // decimal |x - round(dequant, 6)| sum — order-free, engine-exact
    "q263_sq8_report" -> (sq8Ctes + """,
         er AS (SELECT vec_id, code,
             abs(xq - CAST(round(CASE WHEN hi = lo THEN CAST(lo AS DOUBLE)
                 ELSE CAST(lo AS DOUBLE) + CAST(code AS DOUBLE) / 255.0
                   * CAST(hi - lo AS DOUBLE) END, 6)
               AS DECIMAL(18,6))) AS err
           FROM cd)
         SELECT vec_id, CAST(sum(code) AS BIGINT) AS sum_code,
           CAST(min(code) AS INTEGER) AS min_code,
           CAST(max(code) AS INTEGER) AS max_code,
           CAST(sum(err) AS DOUBLE) AS recon_err
         FROM er GROUP BY vec_id ORDER BY vec_id"""),

    // the SQ8 chain + exact-decimal dequantized dots (D = 255*lo +
    // code*(hi-lo), scale 6; products scale 12) and a row_number top-k —
    // ranking is tie-broken on (score desc, id asc), a total order over
    // exact decimals: hash-exact ANN faithful to the raw inner product
    "q264_sq8_ann" -> (sq8Ctes + """,
         dq AS (SELECT vec_id, i,
             CAST(lo * 255 + code * (hi - lo) AS DECIMAL(18,6)) AS d
           FROM cd),
         q AS (SELECT vec_id AS query_id, i, d AS qd FROM dq
               WHERE vec_id < 10),
         s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(sum(CAST(q.qd AS DECIMAL(18,6))
               * CAST(c.d AS DECIMAL(18,6))) AS DECIMAL(38,12)) AS sc
           FROM dq c JOIN q ON c.i = q.i AND c.vec_id <> q.query_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, sc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sc DESC, neighbor_id) AS INTEGER) AS rank
           FROM s)
         SELECT query_id, neighbor_id,
           CAST(round(sc, 6) AS DOUBLE) AS score, rank
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""),

    // the covariance chain + 3 unrolled power-iteration rounds: decimal
    // matrix-vector products are exact (scales sized to stay under
    // DuckDB's precision-38 cap), per-round max-normalization divides in
    // double and re-quantizes to 6 dp — the q222 PageRank iterate
    // convention applied to the spectral step
    "q261_top_component" -> (covCtes + """,
         M AS (SELECT i, j, CAST(cov AS DECIMAL(18,6)) AS c FROM cv
               UNION ALL
               SELECT j, i, CAST(cov AS DECIMAL(18,6)) FROM cv WHERE i <> j),
         v0 AS (SELECT DISTINCT i, CAST(1.0 AS DECIMAL(18,6)) AS v FROM M),
         w1 AS (SELECT m.i, sum(m.c * v0.v) AS w
           FROM M m JOIN v0 ON m.j = v0.i GROUP BY m.i),
         x1 AS (SELECT max(abs(w)) AS mx FROM w1),
         v1 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w1, x1),
         w2 AS (SELECT m.i, sum(m.c * v1.v) AS w
           FROM M m JOIN v1 ON m.j = v1.i GROUP BY m.i),
         x2 AS (SELECT max(abs(w)) AS mx FROM w2),
         v2 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w2, x2),
         w3 AS (SELECT m.i, sum(m.c * v2.v) AS w
           FROM M m JOIN v2 ON m.j = v2.i GROUP BY m.i),
         x3 AS (SELECT max(abs(w)) AS mx FROM w3),
         v3 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w3, x3)
         SELECT i, CAST(v AS DOUBLE) AS loading FROM v3 ORDER BY i"""),

    // the full chain once more + the per-doc exact decimal dot product
    // with the round-3 iterate — matrix -> direction -> projection under
    // one oracle
    "q262_pca_projection" -> (covCtes + """,
         M AS (SELECT i, j, CAST(cov AS DECIMAL(18,6)) AS c FROM cv
               UNION ALL
               SELECT j, i, CAST(cov AS DECIMAL(18,6)) FROM cv WHERE i <> j),
         v0 AS (SELECT DISTINCT i, CAST(1.0 AS DECIMAL(18,6)) AS v FROM M),
         w1 AS (SELECT m.i, sum(m.c * v0.v) AS w
           FROM M m JOIN v0 ON m.j = v0.i GROUP BY m.i),
         x1 AS (SELECT max(abs(w)) AS mx FROM w1),
         v1 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w1, x1),
         w2 AS (SELECT m.i, sum(m.c * v1.v) AS w
           FROM M m JOIN v1 ON m.j = v1.i GROUP BY m.i),
         x2 AS (SELECT max(abs(w)) AS mx FROM w2),
         v2 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w2, x2),
         w3 AS (SELECT m.i, sum(m.c * v2.v) AS w
           FROM M m JOIN v2 ON m.j = v2.i GROUP BY m.i),
         x3 AS (SELECT max(abs(w)) AS mx FROM w3),
         v3 AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w3, x3)
         SELECT x.vec_id, CAST(sum(x.xi * v3.v) AS DOUBLE) AS proj
         FROM x JOIN v3 USING (i)
         GROUP BY x.vec_id ORDER BY x.vec_id"""),

    // the chain + tail-bucket drop + q86's sqrt temperature over the
    // kept token mass — the full multilingual build in one CTE chain
    "q259_ccnet_pipeline" -> (lmChainCtes + raw""",
         stats AS (SELECT doc_id, count(*) AS n_pairs,
             CAST(sum(cb) AS BIGINT) AS sum_bi
           FROM j GROUP BY doc_id),
         withlang AS (SELECT s.doc_id, d.lang, d.text,
             CAST(s.sum_bi AS DOUBLE) / s.n_pairs AS fit
           FROM stats s JOIN documents d USING (doc_id) WHERE s.n_pairs > 0),
         pr AS (SELECT *, round(percent_rank() OVER
             (PARTITION BY lang ORDER BY fit), 6) AS prk
           FROM withlang),
         keepd AS (SELECT lang, text FROM pr
           WHERE CAST(least(floor(prk * 3), 2) AS INTEGER) >= 1),
         c AS (SELECT lang,
             CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> ''))) AS BIGINT) AS n
           FROM keepd GROUP BY lang),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z
           FROM c)
         SELECT lang, n, round(sqrt(n) / z, 6) AS weight,
           CAST(round(50000 * sqrt(n) / z) AS BIGINT) AS alloc
         FROM c, z ORDER BY lang"""),

    // per-group replay: count within source, threshold = that source's
    // token mass — the grouped twin of q162's HAVING
    "q166_heavy_hitters_by_source" ->
      """WITH tok AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents),
         n AS (SELECT source, count(*) AS n FROM tok GROUP BY source)
         SELECT t.source, t.token, count(*) AS cnt
         FROM tok t JOIN n ON t.source = n.source
         GROUP BY t.source, t.token, n.n
         HAVING count(*) > n.n * 0.004
         ORDER BY t.source, t.token""",

    // the streamed candidate pass recounts to the same exact answer as
    // the batch operator (MG superset holds under any merge order), so
    // q162's full-groupBy oracle gates the streaming path verbatim
    "q164_stream_heavy_hitters" -> hhTokenOracle,

    "q147_stream_enrich" ->
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
         FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY 1""",

    "q146_fuzzy_join" ->
      """WITH pert AS (SELECT s_suppkey + 100000 AS p_suppkey,
             substr(s_name, 1, pos - 1) || substr(s_name, pos + 1) AS p_name
           FROM (SELECT s_suppkey, s_name,
               CAST(s_suppkey % length(s_name) + 1 AS INT) AS pos
             FROM supplier))
         SELECT s.s_suppkey, s.s_name, p.p_suppkey, p.p_name,
           levenshtein(s.s_name, p.p_name) AS edit_distance
         FROM supplier s CROSS JOIN pert p
         WHERE levenshtein(s.s_name, p.p_name) <= 1
         ORDER BY s.s_suppkey, p.p_suppkey""",

    "q153_fuzzy_join2" ->
      """WITH p1 AS (SELECT s_suppkey,
             substr(s_name, 1, pos - 1) || substr(s_name, pos + 1) AS n1
           FROM (SELECT s_suppkey, s_name,
               CAST(s_suppkey % length(s_name) + 1 AS INT) AS pos
             FROM supplier)),
         pert AS (SELECT s_suppkey + 100000 AS p_suppkey,
             substr(n1, 1, pos2 - 1) || substr(n1, pos2 + 1) AS p_name
           FROM (SELECT s_suppkey, n1,
               CAST((s_suppkey * 7) % length(n1) + 1 AS INT) AS pos2
             FROM p1))
         SELECT s.s_suppkey, s.s_name, p.p_suppkey, p.p_name,
           levenshtein(s.s_name, p.p_name) AS edit_distance
         FROM supplier s CROSS JOIN pert p
         WHERE levenshtein(s.s_name, p.p_name) <= 2
         ORDER BY s.s_suppkey, p.p_suppkey""",

    // deletion-neighborhood replay: per id the DISTINCT variants (the
    // string itself + each single-char deletion), per-variant counts on
    // each side, then the same n_l * n_r > maxBlock cut the guard makes
    "q155_fuzzy_cap_audit" ->
      """WITH l AS (SELECT c_custkey AS id, c_mktsegment AS v FROM customer
             WHERE c_mktsegment IS NOT NULL AND len(c_mktsegment) > 0),
         vars AS (SELECT DISTINCT id, variant FROM (
           SELECT id, v AS variant FROM l
           UNION ALL
           SELECT id, substr(v, 1, CAST(i AS INT) - 1)
                   || substr(v, CAST(i AS INT) + 1) AS variant
           FROM l, unnest(generate_series(1, len(v))) AS t(i)
         )),
         cnt AS (SELECT variant, count(*) AS n FROM vars GROUP BY 1)
         SELECT variant, n AS n_left, n AS n_right,
           n * n AS candidates_dropped
         FROM cnt WHERE n * n > 1000 ORDER BY variant""",

    // bottom-k-by-hash quantile sketch replica: the k smallest
    // (md5-prefix hash, value) pairs per source are the sample; the
    // estimate is the nearest-rank-lower element sample[floor(q*(n-1))]
    // of the value-sorted sample — the exact slice + element pick the
    // engine computes, so estimates hash-match bit-for-bit
    "q154_quantile_sketch" ->
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
         ORDER BY source, q""",

    // q154's slice with the quantile_cont pick: both bracketing elements
    // at p = q*(n-1) joined in, linear interpolation in IEEE double with
    // the house 6-dp round; upper index clamped at n (q=1.0 / frac=0)
    "q160_quantile_interp" ->
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
         ORDER BY p.source, p.q""",

    // the portable-md5 minhash/banding replay: permutations 2g/2g+1 of a
    // shingle = the [1,15]/[16,30] 60-bit slices of md5(g ':' shingle),
    // band key = md5 over the comma-joined signature slice — bucket
    // sizes rebuilt bit-for-bit
    "q159_lsh_cap_audit" ->
      raw"""WITH toks AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL),
         sh AS (SELECT DISTINCT doc_id,
             tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
           FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 2)) AS i
                 FROM toks WHERE len(tk) >= 3)),
         hs AS (SELECT doc_id, g.i AS perm,
             min(CAST(concat('0x', substring(md5(CAST(g.i // 2 AS VARCHAR) || ':' || s),
               CASE WHEN g.i % 2 = 0 THEN 1 ELSE 16 END, 15)) AS BIGINT)) AS mh
           FROM sh CROSS JOIN generate_series(0, 7) g(i)
           GROUP BY doc_id, g.i),
         sigp AS (SELECT doc_id,
             max(CASE WHEN perm = 0 THEN mh END) AS s0,
             max(CASE WHEN perm = 1 THEN mh END) AS s1,
             max(CASE WHEN perm = 2 THEN mh END) AS s2,
             max(CASE WHEN perm = 3 THEN mh END) AS s3,
             max(CASE WHEN perm = 4 THEN mh END) AS s4,
             max(CASE WHEN perm = 5 THEN mh END) AS s5,
             max(CASE WHEN perm = 6 THEN mh END) AS s6,
             max(CASE WHEN perm = 7 THEN mh END) AS s7
           FROM hs GROUP BY doc_id),
         bk AS (
           SELECT 0 AS band, CAST(concat('0x', substring(md5(CAST(s0 AS VARCHAR) || ',' || CAST(s1 AS VARCHAR)), 1, 15)) AS BIGINT) AS bh FROM sigp
           UNION ALL SELECT 1, CAST(concat('0x', substring(md5(CAST(s2 AS VARCHAR) || ',' || CAST(s3 AS VARCHAR)), 1, 15)) AS BIGINT) FROM sigp
           UNION ALL SELECT 2, CAST(concat('0x', substring(md5(CAST(s4 AS VARCHAR) || ',' || CAST(s5 AS VARCHAR)), 1, 15)) AS BIGINT) FROM sigp
           UNION ALL SELECT 3, CAST(concat('0x', substring(md5(CAST(s6 AS VARCHAR) || ',' || CAST(s7 AS VARCHAR)), 1, 15)) AS BIGINT) FROM sigp)
         SELECT band, bh, count(*) AS bucket_size,
           (count(*) * (count(*) - 1)) // 2 AS pairs_dropped
         FROM bk GROUP BY band, bh HAVING count(*) > 1
         ORDER BY band, bh""",

    "q145_cms_estimate" ->
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
         FROM est e LEFT JOIN ex x USING (k) ORDER BY l_suppkey""",

    "q143_scd2_history" -> scd2RebuildSql,

    // the incremental merge must equal the full rebuild — same oracle
    "q144_scd2_incremental" -> scd2RebuildSql,

    "q142_stream_data_card" ->
      raw"""WITH base AS (SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks
           FROM documents),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM documents) GROUP BY doc_id, tok) GROUP BY doc_id),
         sig AS (SELECT b.doc_id, b.source, b.n_tok,
             CASE WHEN b.n_tok = 0 THEN 0.0
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
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id),
         rs AS (SELECT source, n_tok,
             CASE WHEN n_tok < 20 OR n_tok > 100000 THEN 1 ELSE 0 END
               + CASE WHEN avg_len < 3.0 OR avg_len > 10.0 THEN 1 ELSE 0 END
               + CASE WHEN dig_r > 0.2 THEN 1 ELSE 0 END
               + CASE WHEN stop_hits < 1 THEN 1 ELSE 0 END
               + CASE WHEN max_share > 0.2 THEN 1 ELSE 0 END AS reasons
           FROM sig)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(count(CASE WHEN reasons = 0 THEN 1 END) AS BIGINT) AS n_quality_pass
         FROM rs GROUP BY source ORDER BY source""",
    // q88's gopher replication grouped per source + corpus-wide dup join
    "q126_data_card" ->
      raw"""WITH base AS (SELECT doc_id, source, md5(text) AS h,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks
           FROM documents),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM documents) GROUP BY doc_id, tok) GROUP BY doc_id),
         sig AS (SELECT b.doc_id, b.source, b.h, b.n_tok,
             CASE WHEN b.n_tok = 0 THEN 0.0
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
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id),
         rs AS (SELECT source, h, n_tok,
             CASE WHEN n_tok < 20 OR n_tok > 100000 THEN 1 ELSE 0 END
               + CASE WHEN avg_len < 3.0 OR avg_len > 10.0 THEN 1 ELSE 0 END
               + CASE WHEN dig_r > 0.2 THEN 1 ELSE 0 END
               + CASE WHEN stop_hits < 1 THEN 1 ELSE 0 END
               + CASE WHEN max_share > 0.2 THEN 1 ELSE 0 END AS reasons
           FROM sig),
         dup AS (SELECT md5(text) AS h, count(*) AS dn FROM documents GROUP BY 1)
         SELECT source, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(count(CASE WHEN reasons = 0 THEN 1 END) AS BIGINT) AS n_quality_pass,
           CAST(count(CASE WHEN dn > 1 THEN 1 END) AS BIGINT) AS n_dup_docs
         FROM rs JOIN dup USING (h)
         GROUP BY source ORDER BY source""",
    // q126's card oracle with sum_tokens re-denominated in the BPE replay
    // (the recursive encode CTE q151 uses), every other column identical
    "q156_card_bpe" -> cardTokensOracle(bpeEncCte),

    // the identical card, token currency swapped to the WordPiece replay
    "q171_card_wordpiece" -> cardTokensOracle(wpEncCte),

    // the uniEncCte Viterbi replay: per-word (count, cost) joined back
    // to documents and summed — null-text docs excluded like q151/q163
    "q172_unigram_stats" ->
      s"""WITH RECURSIVE
         $uniEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS n, sum(f.cost) AS c
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_uni,
           CAST(coalesce(a.c, 0) AS BIGINT) AS cost
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""",

    "q173_card_unigram" -> cardTokensOracle(uniEncCte),

    // the naive contains replay of the Aho-Corasick pass: a phrase hits
    // iff it is a plain substring, counted once per distinct phrase
    // ONE shared register-frame replay for both sketch faces — streamed ==
    // batch by construction (order-insensitive max), no recount needed
    "q178_hll_registers" -> hllRegOracle,
    "q179_stream_hll" -> hllRegOracle,

    // streamed == batch by construction (row-local scores against the
    // static broadcast set), so the q183 replay gates the streaming path
    // verbatim — the shared-string convention (q162/q164, q167/q170)
    "q184_stream_novelty" -> noveltyOracle,

    // streamed == batch by construction (order-insensitive counts), so
    // the q185 replay gates the streaming monitoring path verbatim
    // the same chained strictly-before window mins: an event advances a
    // stage only if the previous stage's running min over ROWS UNBOUNDED
    // PRECEDING .. 1 PRECEDING (the strict prefix in (ts, event_id) order)
    // is non-null; count(col) = count of non-null reach timestamps
    "q189_funnel" -> funnelOracle,

    "q198_stream_funnel" -> funnelOracle,

    "q190_cohort_retention" ->
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
         FROM f ORDER BY cohort_week, week_offset""",

    "q191_event_transitions" -> transitionsOracle,

    "q195_stream_transitions" -> transitionsOracle,

    // naive exact replay: distinct 3-word-shingle sets, full pair
    // intersection counts, the identical double ratio and threshold —
    // the prefix filter must lose NOTHING for this to hash-match
    "q199_allpairs_jaccard" ->
      raw"""WITH tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
           FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (SELECT id_l, id_r,
             CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
           FROM inter JOIN sz sa ON sa.doc_id = id_l
                      JOIN sz sb ON sb.doc_id = id_r)
         SELECT id_l, id_r, round(jac, 6) AS jaccard FROM j
         WHERE jac >= 0.9 ORDER BY id_l, id_r""",

    // identical pair build: positions x offsets 1..3 clipped at the array
    // end, unordered pair key, the same fixed division tree
    "q207_token_cooccurrence" ->
      raw"""WITH tk AS (SELECT
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE text IS NOT NULL),
         pos AS (SELECT arr, i FROM
           (SELECT arr, unnest(generate_series(1, len(arr))) AS i FROM tk)),
         pr AS (SELECT least(arr[i], arr[i + j]) AS t_a,
             greatest(arr[i], arr[i + j]) AS t_b
           FROM (SELECT arr, i, unnest(generate_series(1, 3)) AS j FROM pos)
           WHERE i + j <= len(arr)),
         cnt AS (SELECT t_a, t_b, count(*) AS n_ab FROM pr GROUP BY 1, 2),
         uni AS (SELECT t, count(*) AS n FROM
           (SELECT unnest(arr) AS t FROM tk) GROUP BY 1),
         tot AS (SELECT
           (SELECT CAST(sum(n_ab) AS BIGINT) FROM cnt) AS w,
           (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS u)
         SELECT t_a, t_b, n_ab,
           round((CAST(n_ab AS DOUBLE) / w) /
             ((CAST(na.n AS DOUBLE) / u) * (CAST(nb.n AS DOUBLE) / u)), 6)
             AS lift
         FROM cnt JOIN uni na ON na.t = t_a JOIN uni nb ON nb.t = t_b, tot
         ORDER BY n_ab DESC, t_a, t_b LIMIT 20""",

    "q208_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS n
         FROM customer GROUP BY 1, 2 HAVING count(*) < 30
         ORDER BY c_nationkey, c_mktsegment""",

    // same sparse pattern, same grid, the same neighbor windows (IGNORE
    // NULLS running last / reversed first) and one fixed interp tree
    "q210_interpolate_gaps" ->
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
         FROM w ORDER BY event_type, d""",

    // q30's session CTE builds the composite key; then the q189 chain
    // partitioned by it, with session counts in the tall summary
    "q218_session_funnel" ->
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
         ORDER BY stage_idx""",

    "q217_percentile_rank" ->
      """SELECT doc_id, lang, n_chars,
           round(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars), 6)
             AS pct_rank
         FROM documents WHERE n_chars IS NOT NULL ORDER BY doc_id""",

    "q219_domain_cap" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         r AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
               AS BIGINT) AS pick FROM h)
         SELECT doc_id, source, n_chars, pick FROM r
         WHERE pick <= 10 ORDER BY source, pick""",

    "q220_ewma_smooth" -> ewmaOracle,

    // q220's recursion replayed verbatim: streamed daily totals are
    // additive, so Complete mode == batch under any cut (the q204/q209
    // single-oracle convention)
    "q225_stream_ewma" -> ewmaOracle,

    // count-scaled weekday residual: n_wd*x - sum_wd stays exact decimal
    // (no mean division), epoch day 0 is a Thursday hence the +4 shift
    "q221_weekday_residuals" ->
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
         FROM p JOIN b USING (event_type, wd) ORDER BY event_type, day""",

    "q222_host_pagerank" -> pageRankOracle(5),

    // two-class Gini replay: the SAME 1 - p1^2 - p0^2 double tree, terms
    // rounded then decimal-summed; one CTE block per feature, UNION ALL
    "q234_gini_features" ->
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
         ORDER BY feature""",

    // md5 digest chain: per-doc md5(id:text), shard digest over id-ordered
    // concat, root (-1) over shard-ordered concat — string_agg replays the
    // engine's sorted collect exactly
    "q235_corpus_manifest" ->
      """WITH dg AS (SELECT doc_id % 16 AS shard, doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')) AS h,
             coalesce(octet_length(encode(text)), 0) AS b
           FROM documents),
         ps AS (SELECT shard, count(*) AS n_docs,
             CAST(sum(b) AS BIGINT) AS n_bytes,
             md5(string_agg(h, '' ORDER BY doc_id)) AS digest
           FROM dg GROUP BY 1)
         SELECT shard, n_docs, n_bytes, digest FROM ps
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(sum(n_docs) AS BIGINT),
           CAST(sum(n_bytes) AS BIGINT),
           md5(string_agg(digest, '' ORDER BY shard)) FROM ps
         ORDER BY shard""",

    // q24's cosine replay restricted to the eval slice; the flag compares
    // the ROUNDED cosine (both engines round before the cut)
    "q228_semantic_decontaminate" -> semanticScreenOracle,

    // the batch screen's replay verbatim: the streamed screen is
    // stateless row-local, so Append mode == batch under any cut
    "q232_stream_semantic_decon" -> semanticScreenOracle,

    // CUPED replay: exact decimal per-user sums and pooled moments, one
    // double tree for theta/xbar, rounded per-user adjustments summed as
    // decimals, two-row pivot by variant order
    "q233_ab_cuped" ->
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
         FROM o""",

    // q70's component CTEs + keep-min-id token accounting rolled up by
    // cluster size; count sums CAST back to BIGINT (the q175 class)
    "q229_dedup_savings" -> dedupSavingsOracle(bpe = false),

    // the same cluster replay with the lab token currency swapped to the
    // recursive BPE encode (bpeEncCte reused — ONE encode definition)
    "q273_dedup_savings_bpe" -> dedupSavingsOracle(bpe = true),

    // replay shingle->md5 hash->doc-level df->rarest-first prefix slice
    // (floor((1-tau)*|set|)+2, the engine's double arithmetic verbatim)
    // and the df > maxDf cut — the audit is fully SQL-rebuildable
    "q274_containment_cap_audit" ->
      raw"""WITH uni AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), 1, 40), ' ')
           FROM documents WHERE doc_id % 5 = 0),
         tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM uni WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         dfq AS (SELECT token, count(*) AS dfv FROM tok GROUP BY 1),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         ord AS (SELECT t.doc_id, t.token, d.dfv,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY d.dfv, t.token) AS rn,
             z.s
           FROM tok t JOIN dfq d USING (token) JOIN sz z USING (doc_id)),
         -- DOUBLE subtraction on purpose: DuckDB parses 1.0 - 0.8 as
         -- exact DECIMAL 0.2, but the engine's prefix bound is the IEEE
         -- double 0.19999...96 whose floor drops one at s % 5 == 0 —
         -- the +2 slack the engine documents; replay the same arithmetic
         pref AS (SELECT doc_id, token, dfv FROM ord
           WHERE rn <= CAST(floor(
             (CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE)) * s) + 2 AS INT))
         SELECT token, CAST(dfv AS BIGINT) AS df,
           count(*) AS n_prefix_docs
         FROM pref WHERE dfv > 1 GROUP BY 1, 2 ORDER BY token""",

    // per-doc probe results are row-local given the frozen state, so
    // the streamed twin equals batch under any cut — ONE naive oracle
    // gates both (the q270/q271 convention)
    "q279_stream_resemblance_probe" -> resemblanceProbeOracle,
    // ...and their persisted-state twins: state provenance (fresh build
    // vs disk load) cannot change per-doc results, so the ONE naive
    // oracle gates all four probe faces
    "q284_resemblance_probe_persisted" -> resemblanceProbeOracle,
    "q285_stream_resemblance_persisted" -> resemblanceProbeOracle,

    // full replay of the advisor's cost model: shingle sets, df, the
    // q274 prefix construction (same double-subtraction floor bound),
    // then per-token mass (prefix occurrences x df), totals and the
    // deterministic hottest token (mass desc, token desc) against two
    // bounds — candidate mass is sum over prefix rows of df, the upper
    // bound of what the open join would materialize
    "q283_containment_advisor" ->
      raw"""WITH tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         dfq AS (SELECT token, count(*) AS dfv FROM tok GROUP BY 1),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         ord AS (SELECT t.doc_id, t.token, d.dfv,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY d.dfv, t.token) AS rn,
             z.s
           FROM tok t JOIN dfq d USING (token) JOIN sz z USING (doc_id)),
         pref AS (SELECT doc_id, token, dfv FROM ord
           WHERE rn <= CAST(floor(
             (CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE)) * s) + 2 AS INT)),
         pt AS (SELECT token, count(*) AS np, min(dfv) AS dfv,
             count(*) * min(dfv) AS mass
           FROM pref GROUP BY token),
         tot AS (SELECT CAST(coalesce(sum(np), 0) AS BIGINT) AS prefix_rows,
             CAST(coalesce(sum(mass), 0) AS BIGINT) AS candidates_est,
             count(*) AS n_prefix_tokens FROM pt),
         hot AS (SELECT token AS hot_token, CAST(dfv AS BIGINT) AS hot_df,
             CAST(mass AS BIGINT) AS hot_mass
           FROM pt ORDER BY mass DESC, token DESC LIMIT 1),
         b AS (SELECT * FROM (VALUES (1000, 'tight'), (1000000, 'loose'))
           AS v(bnd, bound))
         SELECT prefix_rows, candidates_est, n_prefix_tokens, hot_token,
           hot_df, hot_mass, candidates_est > bnd AS advise_cap, bound
         FROM tot, hot, b ORDER BY bound""",

    // full replay of script-aware routing: the derived mixed corpus,
    // the unspaced-share detector, BOTH gram paths (code-point 5-grams
    // of ws-stripped text vs word 3-shingles), the portable md5-prefix
    // hashing, and the naive pair join + exact Jaccard at 0.8. The
    // detector regex only needs the base Han block: the derivation
    // introduces exactly [[hanAlphabet]]
    "q281_cjk_dedup" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         rt AS (SELECT doc_id, text,
             length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_un,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
           FROM corpus),
         g AS (
           SELECT doc_id, CASE WHEN length(norm) <= 5 THEN norm
               ELSE substring(norm, i, 5) END AS gram
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
                 FROM (SELECT doc_id,
                         regexp_replace(lower(text), '\s+', '', 'g') AS norm
                       FROM rt
                       WHERE n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3))
           UNION ALL
           SELECT doc_id, g AS gram FROM (
             SELECT doc_id, unnest(CASE WHEN len(arr) < 3
                 THEN [array_to_string(arr, ' ')]
                 ELSE list_transform(generate_series(1, len(arr) - 2),
                   i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END) AS g
             FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> x <> '') AS arr
                   FROM rt
                   WHERE NOT (n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3)))),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(gram), 1, 15)) AS BIGINT) AS token
           FROM g),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
           FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
           FROM inter JOIN sz sa ON sa.doc_id = id_l
                      JOIN sz sb ON sb.doc_id = id_r)
         SELECT id_l, id_r, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.8
         ORDER BY id_l, id_r""",

    // exact routed-gram Jaccard keep-first: q281's routed gram CTEs,
    // naive pair join at >= 0.7, drop every doc with an earlier-id
    // verified near-dup (canonical-min-id), survivors ordered. Gates
    // the LSH screen end to end: banding recall, routed verify, drop
    "q288_cjk_dedup_minhash" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         rt AS (SELECT doc_id, text,
             length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_un,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
           FROM corpus),
         g AS (
           SELECT doc_id, CASE WHEN length(norm) <= 5 THEN norm
               ELSE substring(norm, i, 5) END AS gram
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
                 FROM (SELECT doc_id,
                         regexp_replace(lower(text), '\s+', '', 'g') AS norm
                       FROM rt
                       WHERE n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3))
           UNION ALL
           SELECT doc_id, gg AS gram FROM (
             SELECT doc_id, unnest(CASE WHEN len(arr) = 0 THEN []
                 WHEN len(arr) < 3 THEN [array_to_string(arr, ' ')]
                 ELSE list_transform(generate_series(1, len(arr) - 2),
                   i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END) AS gg
             FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS arr
                   FROM rt
                   WHERE NOT (n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3)))),
         tok AS (SELECT DISTINCT doc_id, gram FROM g),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
           FROM tok a JOIN tok b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         dup AS (SELECT DISTINCT id_r FROM inter
           JOIN sz sa ON sa.doc_id = id_l JOIN sz sb ON sb.doc_id = id_r
           WHERE CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) >= 0.7)
         SELECT doc_id FROM corpus
         WHERE doc_id NOT IN (SELECT id_r FROM dup)
         ORDER BY doc_id""",

    // full replay of routed exact-substring pairs: the q281 corpus +
    // detector CTEs, then per branch the window build — routed docs as
    // 12-code-point substrings of their ws-stripped lowered text, word
    // docs as the q107 12-token windows — one distinct window table,
    // the <= 1000 size guard, and the pair join with shared-window counts
    "q289_cjk_substring" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         rt AS (SELECT doc_id, text,
             length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_un,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
           FROM corpus),
         w AS (
           SELECT DISTINCT doc_id, substring(norm, i, 12) AS win
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, length(norm) - 11)) AS i
                 FROM (SELECT doc_id,
                         regexp_replace(lower(text), '\s+', '', 'g') AS norm
                       FROM rt
                       WHERE n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3))
           UNION ALL
           SELECT DISTINCT doc_id, array_to_string(t[i:i+11], ' ') AS win
           FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 11)) AS i
                 FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
                           x -> x <> '') AS t
                       FROM rt
                       WHERE NOT (n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3)))),
         sized AS (SELECT doc_id, win FROM
             (SELECT doc_id, win, count(*) OVER (PARTITION BY win) AS c FROM w)
           WHERE c <= 1000)
         SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_windows
         FROM sized a JOIN sized b ON a.win = b.win AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2""",

    // the routed APPLY replay: unified (doc, pos, unit, routed) token
    // table (words vs code points), keep-first window claims over the
    // union window table (min doc id), covered positions removed from
    // higher ids, and the rebuild per branch — words rejoin with ' ',
    // code points with '' — hashed; n_total/n_kept in each doc's own
    // token currency
    "q290_cjk_substring_apply" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         rt AS (SELECT doc_id, text,
             CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0
               THEN FALSE
               ELSE CAST(length(regexp_replace(text,
                      '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS DOUBLE)
                    / length(regexp_replace(text, '\s', '', 'g')) > 0.3
             END AS routed
           FROM corpus),
         tokw AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM rt WHERE NOT routed),
         tokc AS (SELECT doc_id,
             regexp_replace(lower(text), '\s+', '', 'g') AS norm
           FROM rt WHERE routed),
         pos AS (
           SELECT doc_id, p, t[p] AS tok, FALSE AS routed
           FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t))) AS p FROM tokw)
           UNION ALL
           SELECT doc_id, p, substring(norm, p, 1) AS tok, TRUE AS routed
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, length(norm))) AS p FROM tokc)),
         w AS (
           SELECT doc_id, i, array_to_string(t[i:i+11], ' ') AS win
           FROM (SELECT doc_id, t,
                   unnest(generate_series(1, len(t) - 11)) AS i FROM tokw)
           UNION ALL
           SELECT doc_id, i, substring(norm, i, 12) AS win
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, length(norm) - 11)) AS i FROM tokc)),
         keeper AS (SELECT win, min(doc_id) AS k FROM w GROUP BY 1),
         dup AS (SELECT w.doc_id, w.i FROM w
                 JOIN keeper ON w.win = keeper.win WHERE w.doc_id > keeper.k),
         cov AS (SELECT DISTINCT doc_id,
                   unnest(generate_series(i, i + 11)) AS p FROM dup),
         kept AS (SELECT pos.doc_id, pos.p, pos.tok, pos.routed
                  FROM pos LEFT JOIN cov
                    ON pos.doc_id = cov.doc_id AND pos.p = cov.p
                  WHERE cov.p IS NULL),
         agg AS (
           SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text,
                  count(*) AS nk
           FROM kept WHERE NOT routed GROUP BY doc_id
           UNION ALL
           SELECT doc_id, string_agg(tok, '' ORDER BY p) AS clean_text,
                  count(*) AS nk
           FROM kept WHERE routed GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS nt FROM pos GROUP BY doc_id)
         SELECT rt.doc_id, md5(coalesce(agg.clean_text, '')) AS h,
           CAST(coalesce(tot.nt, 0) AS BIGINT) AS n_total,
           CAST(coalesce(agg.nk, 0) AS BIGINT) AS n_kept
         FROM rt LEFT JOIN tot ON rt.doc_id = tot.doc_id
                  LEFT JOIN agg ON rt.doc_id = agg.doc_id
         ORDER BY rt.doc_id""",

    // routing replay + per-branch ID: routed docs are 'zh' here because
    // Han is the ONLY unspaced script the corpus derivation introduces
    // (the detector itself is hash-gated by q282; a Spark-side script
    // misclassification would mismatch); spaced docs replay the q28
    // stopword argmax verbatim
    "q287_langid_aware" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         r AS (SELECT doc_id, text,
             CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0
                  THEN FALSE
                  ELSE CAST(length(regexp_replace(text,
                         '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS DOUBLE)
                       / length(regexp_replace(text, '\s', '', 'g')) > 0.3
             END AS routed
           FROM corpus),
         toks AS (SELECT doc_id,
             list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS tk
           FROM r WHERE NOT routed),
         s AS (SELECT doc_id, l, len(list_intersect(tk, sw)) AS score
               FROM toks CROSS JOIN (VALUES
                 ('de', ${swList("de")}),
                 ('en', ${swList("en")}),
                 ('es', ${swList("es")}),
                 ('fr', ${swList("fr")}),
                 ('it', ${swList("it")})
                 ) AS v(l, sw)),
         best AS (SELECT doc_id, l, score,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score DESC, l DESC) AS rn FROM s)
         SELECT doc_id, 'zh' AS lang_pred FROM r WHERE routed
         UNION ALL
         SELECT doc_id, CASE WHEN score <= 0 THEN 'und' ELSE l END AS lang_pred
         FROM best WHERE rn = 1
         ORDER BY doc_id""",

    // q281's capped twin: the routed gram build (both paths, q281's
    // CTEs), then the q280 capped-AllPairs replay over it — distinct-set
    // collapse, set-level df, capped rarest-first prefixes at the
    // engine's floor((1-t)sz)+2 double arithmetic, symmetric length
    // prune, exact verify, member expansion + within-cluster 1.0 pairs
    "q286_cjk_dedup_capped" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         rt0 AS (SELECT doc_id, text,
             length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS n_un,
             length(regexp_replace(text, '\s', '', 'g')) AS n_nonws
           FROM corpus),
         g AS (
           SELECT doc_id, CASE WHEN length(norm) <= 5 THEN norm
               ELSE substring(norm, i, 5) END AS gram
           FROM (SELECT doc_id, norm,
                   unnest(generate_series(1, greatest(length(norm) - 4, 1))) AS i
                 FROM (SELECT doc_id,
                         regexp_replace(lower(text), '\s+', '', 'g') AS norm
                       FROM rt0
                       WHERE n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3))
           UNION ALL
           SELECT doc_id, gg AS gram FROM (
             SELECT doc_id, unnest(CASE WHEN len(arr) < 3
                 THEN [array_to_string(arr, ' ')]
                 ELSE list_transform(generate_series(1, len(arr) - 2),
                   i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END) AS gg
             FROM (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
                       x -> x <> '') AS arr
                   FROM rt0
                   WHERE NOT (n_nonws > 0 AND CAST(n_un AS DOUBLE) / n_nonws > 0.3)))),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(gram), 1, 15)) AS BIGINT) AS token
           FROM g),
         sets AS (SELECT doc_id, list(token ORDER BY token) AS arr
           FROM tok GROUP BY 1),
         cl AS (SELECT arr, min(doc_id) AS rep, len(arr) AS sz,
             CAST(floor((CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE))
               * len(arr)) + 2 AS INT) AS pl
           FROM sets GROUP BY arr),
         mem AS (SELECT cl.rep, s.doc_id FROM cl JOIN sets s ON s.arr = cl.arr),
         rt AS (SELECT rep, sz, pl, unnest(arr) AS token FROM cl),
         dfq AS (SELECT token, count(*) AS dfv FROM rt GROUP BY 1),
         ordd AS (SELECT r.rep, r.sz, r.pl, r.token, d.dfv,
             row_number() OVER (PARTITION BY r.rep
               ORDER BY d.dfv, r.token) AS rn
           FROM rt r JOIN dfq d USING (token)),
         pref AS (SELECT rep, sz, token FROM ordd
           WHERE rn <= pl AND dfv <= 25),
         cand AS (SELECT DISTINCT a.rep AS rl, b.rep AS rr
           FROM pref a JOIN pref b ON a.token = b.token AND a.rep < b.rep
           WHERE 0.8 * a.sz <= b.sz AND 0.8 * b.sz <= a.sz),
         ver AS (SELECT rl, rr,
             len(list_intersect(ca.arr, cb.arr)) AS ic, ca.sz AS sa, cb.sz AS sb
           FROM (SELECT c.rl, c.rr, cl.arr, cl.sz
                 FROM cand c JOIN cl ON cl.rep = c.rl) ca
           JOIN (SELECT c2.rl AS rl2, c2.rr AS rr2, cl.arr, cl.sz
                 FROM cand c2 JOIN cl ON cl.rep = c2.rr) cb
             ON ca.rl = cb.rl2 AND ca.rr = cb.rr2),
         cross_p AS (SELECT ma.doc_id AS a, mb.doc_id AS b,
             CAST(ic AS DOUBLE) / (sa + sb - ic) AS jac
           FROM ver JOIN mem ma ON ma.rep = ver.rl
                    JOIN mem mb ON mb.rep = ver.rr
           WHERE CAST(ic AS DOUBLE) / (sa + sb - ic) >= 0.8),
         within_p AS (SELECT m1.doc_id AS a, m2.doc_id AS b, 1.0 AS jac
           FROM mem m1 JOIN mem m2
             ON m1.rep = m2.rep AND m1.doc_id < m2.doc_id)
         SELECT least(a, b) AS id_l, greatest(a, b) AS id_r,
           round(jac, 6) AS jaccard
         FROM (SELECT a, b, jac FROM cross_p
               UNION ALL SELECT a, b, jac FROM within_p)
         ORDER BY id_l, id_r""",

    // the detector and the segmentation-aware count replayed per doc:
    // unspaced share over non-ws chars, and seg tokens via the
    // surround-each-ideograph-with-spaces trick (each unspaced code
    // point its own token, other non-ws runs one each)
    "q282_cjk_token_budget" ->
      raw"""WITH corpus AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0
             THEN translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             ELSE text END AS text
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id,
           CASE WHEN length(regexp_replace(text, '\s', '', 'g')) = 0 THEN FALSE
                ELSE CAST(length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
                       AS DOUBLE)
                     / length(regexp_replace(text, '\s', '', 'g')) > 0.3 END AS routed,
           CAST(length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
             AS BIGINT) AS n_unspaced,
           CAST(len(list_filter(regexp_split_to_array(
               regexp_replace(text, '([\x{4E00}-\x{9FFF}])', ' \1 ', 'g'), '\s+'),
               x -> x <> '')) AS BIGINT) AS n_seg_tokens
         FROM corpus ORDER BY doc_id""",

    // full replay of the CAPPED AllPairs contract: cluster collapse,
    // per-set rarest-first prefixes cut at df <= 2, the symmetric
    // length prune (decimal 0.6 here equals the engine's double prune
    // exactly — integers are representable, so the boundary cases
    // round identically), exact verify, then member expansion +
    // within-cluster 1.0 pairs
    "q280_allpairs_capped" ->
      raw"""WITH tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         sets AS (SELECT doc_id, list(token ORDER BY token) AS arr
           FROM tok GROUP BY 1),
         cl AS (SELECT arr, min(doc_id) AS rep, len(arr) AS sz,
             CAST(floor((CAST(1.0 AS DOUBLE) - CAST(0.6 AS DOUBLE))
               * len(arr)) + 2 AS INT) AS pl
           FROM sets GROUP BY arr),
         mem AS (SELECT cl.rep, s.doc_id FROM cl
           JOIN sets s ON s.arr = cl.arr),
         rt AS (SELECT rep, sz, pl, unnest(arr) AS token FROM cl),
         dfq AS (SELECT token, count(*) AS dfv FROM rt GROUP BY 1),
         ord AS (SELECT r.rep, r.sz, r.pl, r.token, d.dfv,
             row_number() OVER (PARTITION BY r.rep
               ORDER BY d.dfv, r.token) AS rn
           FROM rt r JOIN dfq d USING (token)),
         pref AS (SELECT rep, sz, token FROM ord
           WHERE rn <= pl AND dfv <= 2),
         cand AS (SELECT DISTINCT a.rep AS rl, b.rep AS rr
           FROM pref a JOIN pref b ON a.token = b.token AND a.rep < b.rep
             AND 0.6 * a.sz <= b.sz AND 0.6 * b.sz <= a.sz),
         ric AS (SELECT c.rl, c.rr, count(*) AS ic
           FROM cand c
           JOIN rt a ON a.rep = c.rl
           JOIN rt b ON b.rep = c.rr AND a.token = b.token
           GROUP BY 1, 2),
         rjac AS (SELECT rl, rr,
             CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) AS jac
           FROM ric JOIN cl sa ON sa.rep = rl JOIN cl sb ON sb.rep = rr),
         crossp AS (SELECT least(ma.doc_id, mb.doc_id) AS id_l,
             greatest(ma.doc_id, mb.doc_id) AS id_r, jac
           FROM rjac JOIN mem ma ON ma.rep = rl JOIN mem mb ON mb.rep = rr
           WHERE jac >= 0.6),
         within AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, 1.0 AS jac
           FROM mem a JOIN mem b ON a.rep = b.rep AND a.doc_id < b.doc_id)
         SELECT id_l, id_r, round(jac, 6) AS jaccard FROM crossp
         UNION ALL
         SELECT id_l, id_r, round(jac, 6) FROM within
         ORDER BY id_l, id_r""",

    // the naive incoming x standing Jaccard enumeration the prefix-
    // filtered probe must reproduce (the q270 oracle convention)
    "q278_resemblance_probe" -> resemblanceProbeOracle,

    // exact decimal moments (one widened operand -> hugeint products,
    // the q150 trick), the identical double tree, 6-dp round + signed-
    // zero normalize; listwise-complete WHERE mirrors the engine
    "q277_feature_moments" ->
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
         FROM p ORDER BY l_returnflag, col_x, col_y""",

    // the capped join itself: candidates come ONLY from prefix tokens at
    // df <= 3 (the q274 prefix replay + the cap cut), then the exact
    // intersect verify — the engine's capped contract end to end
    "q276_containment_capped" ->
      raw"""WITH uni AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), 1, 40), ' ')
           FROM documents WHERE doc_id % 5 = 0),
         tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM uni WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         dfq AS (SELECT token, count(*) AS dfv FROM tok GROUP BY 1),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         ord AS (SELECT t.doc_id, t.token, d.dfv,
             row_number() OVER (PARTITION BY t.doc_id
               ORDER BY d.dfv, t.token) AS rn,
             z.s
           FROM tok t JOIN dfq d USING (token) JOIN sz z USING (doc_id)),
         pref AS (SELECT doc_id, token, dfv FROM ord
           WHERE rn <= CAST(floor(
             (CAST(1.0 AS DOUBLE) - CAST(0.8 AS DOUBLE)) * s) + 2 AS INT)),
         cand AS (SELECT DISTINCT p.doc_id AS id_part, q.doc_id AS id_whole
           FROM pref p JOIN tok q ON p.token = q.token
             AND p.doc_id <> q.doc_id
           WHERE p.dfv <= 3),
         inter AS (SELECT a.doc_id AS id_part, b.doc_id AS id_whole,
             count(*) AS ic
           FROM tok a JOIN tok b ON a.token = b.token
             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2),
         c AS (SELECT n.id_part, n.id_whole, sa.s AS szp, sb.s AS szw, i.ic,
             CAST(i.ic AS DOUBLE) / sa.s AS cont,
             CAST(i.ic AS DOUBLE) / (sa.s + sb.s - i.ic) AS jac
           FROM cand n
           JOIN inter i ON i.id_part = n.id_part AND i.id_whole = n.id_whole
           JOIN sz sa ON sa.doc_id = n.id_part
           JOIN sz sb ON sb.doc_id = n.id_whole)
         SELECT id_part, id_whole, CAST(szp AS BIGINT) AS sz_part,
           CAST(szw AS BIGINT) AS sz_whole, CAST(ic AS BIGINT) AS overlap,
           round(cont, 6) AS containment, round(jac, 6) AS jaccard
         FROM c WHERE cont >= 0.8 ORDER BY id_part, id_whole""",

    // same cut over SET-level df: identical token sets collapse to one
    // rep (min doc id) before the df build and the |X|-ceil(t|X|)+1
    // prefix slice — the engine's cluster-collapse replayed in SQL
    "q275_allpairs_cap_audit" ->
      raw"""WITH uni AS (SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000,
             array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> ''), 1, 40), ' ')
           FROM documents WHERE doc_id % 5 = 0),
         tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM uni WHERE text IS NOT NULL),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         sets AS (SELECT doc_id, list(token ORDER BY token) AS arr
           FROM tok GROUP BY 1),
         cl AS (SELECT arr, min(doc_id) AS rep, len(arr) AS sz,
             CAST(floor((CAST(1.0 AS DOUBLE) - CAST(0.6 AS DOUBLE))
               * len(arr)) + 2 AS INT) AS pl
           FROM sets GROUP BY arr),
         rt AS (SELECT rep, pl, unnest(arr) AS token FROM cl),
         dfq AS (SELECT token, count(*) AS dfv FROM rt GROUP BY 1),
         ord AS (SELECT r.rep, r.token, d.dfv,
             row_number() OVER (PARTITION BY r.rep
               ORDER BY d.dfv, r.token) AS rn,
             r.pl
           FROM rt r JOIN dfq d USING (token)),
         pref AS (SELECT rep, token, dfv FROM ord WHERE rn <= pl)
         SELECT token, CAST(dfv AS BIGINT) AS df,
           count(*) AS n_prefix_sets
         FROM pref WHERE dfv > 1 GROUP BY 1, 2 ORDER BY token""",

    // the fit's oracle surface: per-bucket occurrence counts (the md5
    // bucket map of q128's scorer) + the two class-size marker rows;
    // the sigmoid rounds the counts feed are spec-asserted, not oracled
    "q248_classifier_stats" ->
      raw"""WITH base AS (SELECT
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents WHERE text IS NOT NULL),
         occ AS (SELECT
             CAST(CAST(concat('0x', substring(md5(tok), 1, 8)) AS BIGINT)
               % 4096 AS INTEGER) AS bucket,
             count(*) AS n_occ, CAST(sum(y) AS BIGINT) AS n_pos_occ
           FROM (SELECT unnest(tk) AS tok, y FROM base) GROUP BY 1),
         dc AS (SELECT CAST(-y - 1 AS INTEGER) AS bucket,
             count(*) AS n_occ, CAST(sum(y) AS BIGINT) AS n_pos_occ
           FROM base GROUP BY 1)
         SELECT bucket, n_occ, n_pos_occ FROM occ
         UNION ALL SELECT bucket, n_occ, n_pos_occ FROM dc
         ORDER BY bucket""",

    // trained NB replayed end to end: per-bucket floor-ln weights, the
    // same-quantized prior, integer score sums — the q134 floor argument
    // makes every number engine-exact
    "q251_nb_classifier" -> nbClassifierOracle,

    // suff-stats are additive, so the merged-increments model IS the
    // one-shot model — the same oracle gates the incremental path
    "q254_nb_incremental" -> nbClassifierOracle,

    // additive (source, score) counts: Complete-mode streaming equals
    // the batch frame under any cut — one oracle gates both paths
    "q256_stream_classifier_auc" -> aucBucketedOracle,

    // the same scored frame under the PR lens: tie-robust threshold AP
    "q257_classifier_ap" -> apOracle,

    // NB score chain + per-source doubled rank sums: ties carry the
    // doubled average rank (an integer), so u2 and the 6-dp auc are
    // engine-exact
    "q255_classifier_auc" -> aucOracle,

    // the q34 contract on the lossy codec: uniform-gray JPEG round-trips
    // the DC coefficient exactly, so dims AND mean-gray stay predictable
    // from the source byte length alone
    "q250_jpeg_roundtrip" ->
      """SELECT doc_id AS media_id,
         CASE WHEN text IS NULL THEN NULL ELSE 'image/jpeg' END AS format,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
         CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height,
         CAST(octet_length(encode(text)) % 256 AS BIGINT) AS mean_gray
         FROM documents ORDER BY media_id""",

    // the composed CTE chain of the q238/q219/q228/q174/q245/q229
    // oracles — every stage fragment individually proven by its own query
    "q249_curation_close" -> curationCloseOracle(bpe = false),

    // the same chained close-out replay with the `lab` token currency
    // swapped to the recursive BPE encode CTE (the q156 convention) —
    // split totals and savings in training-run tokens
    "q267_curation_close_bpe" -> curationCloseOracle(bpe = true),

    // the close-out with the q266 containment screen folded in as a drop
    // stage: the naive zero-false-negative enumeration the engine's
    // prefix-filtered containmentDedup must reproduce inside the chain
    "q269_curation_close_contained" ->
      curationCloseOracle(bpe = false, containment = true),

    // dims predicted from the source byte length (the q34 contract:
    // w = n%64+16, h = n%48+16) — a correct decode is implied by the
    // report matching without the oracle ever parsing a PNG
    "q226_image_shapes" ->
      """WITH dims AS (SELECT doc_id,
             CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS w,
             CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS h
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT CASE WHEN w > h THEN 'wide' WHEN w < h THEN 'tall'
               ELSE 'square' END AS orientation, w, h,
             CAST((10000 * w) // h AS BIGINT) AS ap FROM dims)
         SELECT orientation, count(*) AS n_images,
           CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS total_pixels,
           min(w) AS min_w, max(w) AS max_w,
           min(h) AS min_h, max(h) AS max_h,
           CAST(sum(ap) AS BIGINT) AS aspect_sum,
           round(CAST(sum(ap) AS DOUBLE) / count(*), 6) AS mean_aspect
         FROM c GROUP BY 1 ORDER BY 1""",

    // the batching replay: 64-wide buckets, longest-first batches of 8,
    // each padded to its own max; all sums CAST back to BIGINT
    "q227_padding_report" ->
      raw"""WITH toks AS (SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
               x -> x <> '')) AS BIGINT) AS n_tok
           FROM documents WHERE text IS NOT NULL),
         b AS (SELECT doc_id, n_tok, n_tok // 64 AS bucket,
             (row_number() OVER (PARTITION BY n_tok // 64
               ORDER BY n_tok DESC, doc_id) - 1) // 8 AS batch
           FROM toks),
         pb AS (SELECT bucket, batch, count(*) AS n, max(n_tok) AS mx,
             CAST(sum(n_tok) AS BIGINT) AS tot
           FROM b GROUP BY 1, 2)
         SELECT bucket, CAST(sum(n) AS BIGINT) AS n_seqs,
           count(*) AS n_batches,
           CAST(sum(tot) AS BIGINT) AS total_tokens,
           CAST(sum(n * mx) AS BIGINT) AS padded_tokens,
           CAST(sum(n * mx) - sum(tot) AS BIGINT) AS waste_tokens,
           round(CAST(sum(tot) AS DOUBLE) / sum(n * mx), 6) AS efficiency
         FROM pb GROUP BY 1 ORDER BY 1""",

    "q223_topic_clusters" -> kmeansOracle(4, 2),

    "q231_cluster_cards" -> clusterCardsOracle(4, 2, 3),

    // three deterministic gates; FILTER counts skip null signals exactly
    // like the engine's count(when(...)); agreement denominators use the
    // four counters, not count(*)
    "q246_filter_agreement" ->
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
         ORDER BY signal_a, signal_b"""),

    // q28's score table + a second-place subtraction; 'und' rule and the
    // (score DESC, l DESC) tie verbatim
    "q247_langid_margin" ->
      raw"""WITH toks AS (SELECT doc_id,
             list_distinct(list_filter(regexp_split_to_array(lower(text),
               '[^\p{L}\p{N}_]+'), x -> x <> '')) AS tk
           FROM documents),
         s AS (SELECT doc_id, l, len(list_intersect(tk, sw)) AS score
               FROM toks CROSS JOIN (VALUES
                 ('de', ['der','die','das','und','ist','von','mit','nicht','ein','eine','als','auch','auf','dem','des','im','zu','den']),
                 ('en', ['the','and','of','to','in','is','that','it','was','for','with','are','this','not','have','from','they','which']),
                 ('es', ['el','los','las','una','por','con','para','como','mas','pero','sus','este','esta','entre','cuando','muy','sin','sobre']),
                 ('fr', ['le','la','les','des','est','dans','pour','que','qui','une','sur','pas','avec','par','sont','mais','nous','aux']),
                 ('it', ['il','di','che','non','per','con','sono','della','nel','alla','anche','come','questo','gli','dei','delle','essere','più'])
                 ) AS v(l, sw)),
         r AS (SELECT doc_id, l, score, row_number() OVER
                 (PARTITION BY doc_id ORDER BY score DESC, l DESC) AS rn
               FROM s),
         top AS (SELECT doc_id,
             max(CASE WHEN rn = 1 THEN
               CASE WHEN score <= 0 THEN 'und' ELSE l END END) AS lang_pred,
             max(CASE WHEN rn = 1 THEN score END) -
               max(CASE WHEN rn = 2 THEN score END) AS margin
           FROM r GROUP BY 1)
         SELECT lang_pred, count(*) AS n_docs,
           count(*) FILTER (WHERE margin <= 1) AS n_ambiguous,
           CAST(min(margin) AS INTEGER) AS min_margin,
           CAST(max(margin) AS INTEGER) AS max_margin,
           round(CAST(count(*) FILTER (WHERE margin <= 1) AS DOUBLE)
             / count(*), 6) AS ambiguous_share
         FROM top GROUP BY 1 ORDER BY 1""",

    "q243_token_dispersion" ->
      raw"""WITH tok AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text),
               '[^\p{L}\p{N}_]+'), x -> x <> '')) AS token
           FROM documents),
         c AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
         sc AS (SELECT count(DISTINCT source) AS s FROM documents
                WHERE source IS NOT NULL),
         a AS (SELECT token, CAST(sum(n) AS BIGINT) AS total,
             count(*) AS n_groups, CAST(sum(n * n) AS BIGINT) AS c2
           FROM c GROUP BY 1)
         SELECT token, total, n_groups,
           round(CAST(c2 AS DOUBLE) / total - CAST(total AS DOUBLE) / s, 6)
             + 0 AS fano
         FROM a CROSS JOIN sc WHERE total >= 50 ORDER BY token""",

    "q244_calibration" ->
      """WITH b AS (SELECT n_chars, lang,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS bin
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT bin, count(*) AS n,
           count(*) FILTER (WHERE lang = 'en') AS n_pos,
           min(n_chars) AS score_lo, max(n_chars) AS score_hi,
           round(CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
             / count(*), 6) AS pos_rate
         FROM b GROUP BY bin ORDER BY bin""",

    // q70's verified pairs under BOTH split rules: the md5-threshold
    // constants are q56's (80/10/10 over 2^32), the cluster key is
    // q174's stringified component
    "q245_split_leakage" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         p AS (SELECT id_l, id_r FROM j WHERE jac >= 0.6),
         e AS (SELECT id_l AS a, id_r AS b FROM p
               UNION SELECT id_r, id_l FROM p),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         nsp AS (SELECT doc_id, CASE
             WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
             WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
             ELSE 'test' END AS split FROM documents),
         csp AS (SELECT doc_id, CASE
             WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
             WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
             ELSE 'test' END AS split FROM lab),
         n1 AS (SELECT 'content_hash' AS method,
             least(x.split, y.split) AS split_l,
             greatest(x.split, y.split) AS split_r, count(*) AS n_pairs
           FROM p JOIN nsp x ON x.doc_id = p.id_l
                  JOIN nsp y ON y.doc_id = p.id_r GROUP BY 1, 2, 3),
         n2 AS (SELECT 'cluster_hash', least(x.split, y.split),
             greatest(x.split, y.split), count(*)
           FROM p JOIN csp x ON x.doc_id = p.id_l
                  JOIN csp y ON y.doc_id = p.id_r GROUP BY 1, 2, 3)
         SELECT * FROM n1 UNION ALL SELECT * FROM n2
         ORDER BY method, split_l, split_r""",

    "q241_l_diversity" ->
      """WITH p AS (SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS INTEGER) AS bal_band,
             count(*) AS n
           FROM customer GROUP BY 1, 2, 3)
         SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS n,
           count(*) AS n_sensitive
         FROM p GROUP BY 1, 2 HAVING count(*) < 5
         ORDER BY c_nationkey, c_mktsegment""",

    "q242_fd_violations" ->
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
         FROM v JOIN m USING (o_custkey) ORDER BY v.o_custkey""",

    "q238_percentile_gate" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
             percent_rank() OVER (PARTITION BY source ORDER BY n_chars) AS pr
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT source, count(*) AS n_kept, min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
         FROM r WHERE round(pr, 6) >= 0.2
         GROUP BY source ORDER BY source""",

    // the digest chain replayed on both corpus versions; the diff is a
    // 17-row full outer join of the two manifests
    "q239_manifest_diff" ->
      """WITH dga AS (SELECT doc_id % 16 AS shard, doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')) AS h
           FROM documents),
         pa AS (SELECT shard, count(*) AS n_docs,
             md5(string_agg(h, '' ORDER BY doc_id)) AS dg
           FROM dga GROUP BY 1),
         ma AS (SELECT shard, n_docs, dg FROM pa
           UNION ALL SELECT CAST(-1 AS BIGINT), CAST(sum(n_docs) AS BIGINT),
             md5(string_agg(dg, '' ORDER BY shard)) FROM pa),
         nxt AS (SELECT doc_id,
             CASE WHEN doc_id % 16 = 10 AND (doc_id - 10) % 160 = 0
                  THEN 'EDITED: ' || coalesce(text, '') ELSE text END AS text
           FROM documents WHERE doc_id % 16 <> 5),
         dgb AS (SELECT doc_id % 16 AS shard, doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':' || coalesce(text, '')) AS h
           FROM nxt),
         pb AS (SELECT shard, count(*) AS n_docs,
             md5(string_agg(h, '' ORDER BY doc_id)) AS dg
           FROM dgb GROUP BY 1),
         mb AS (SELECT shard, n_docs, dg FROM pb
           UNION ALL SELECT CAST(-1 AS BIGINT), CAST(sum(n_docs) AS BIGINT),
             md5(string_agg(dg, '' ORDER BY shard)) FROM pb)
         SELECT coalesce(ma.shard, mb.shard) AS shard,
           coalesce(ma.n_docs, 0) AS n_docs_old,
           coalesce(mb.n_docs, 0) AS n_docs_new,
           CASE WHEN ma.dg IS NULL THEN 'added'
                WHEN mb.dg IS NULL THEN 'removed'
                WHEN ma.dg = mb.dg THEN 'same' ELSE 'changed' END AS status
         FROM ma FULL OUTER JOIN mb ON ma.shard = mb.shard
         ORDER BY shard""",

    "q240_join_skew" ->
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
         FROM t CROSS JOIN s ORDER BY rnk""",

    // template-prefix replay: LCP(min, max) identity, position scan over
    // the two extremes, binary string order in both engines
    "q236_boilerplate_prefix" ->
      """WITH ext AS (SELECT source, count(*) AS n_docs,
             min(text) AS a, max(text) AS b
           FROM documents WHERE text IS NOT NULL GROUP BY 1),
         e2 AS (SELECT source, n_docs, a, b,
             least(length(a), length(b)) AS ml FROM ext),
         pos AS (SELECT source, a, b,
             unnest(generate_series(1, ml)) AS k FROM e2 WHERE ml >= 1),
         fd AS (SELECT source, min(k) AS fd FROM pos
           WHERE substr(a, k, 1) <> substr(b, k, 1) GROUP BY 1)
         SELECT e2.source, n_docs,
           CAST(coalesce(fd - 1, ml) AS BIGINT) AS lcp_len,
           substr(a, 1, least(coalesce(fd - 1, ml), 40)) AS prefix
         FROM e2 LEFT JOIN fd USING (source) ORDER BY e2.source""",

    // q230's replay verbatim: streamed side counts are additive, so
    // Complete mode == batch under any cut
    "q237_stream_ks_drift" -> ksOracle,

    // window sums of BIGINT promote to HUGEINT in DuckDB — every
    // emitted integer CASTs back (the q175 class)
    "q230_ks_drift" -> ksOracle,

    // sums over BIGINT counts CAST back to BIGINT (DuckDB promotes to
    // HUGEINT — the q175 class the strict gate now catches)
    "q224_lexical_diversity" ->
      raw"""WITH tok AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text),
               '[^\p{L}\p{N}_]+'), x -> x <> '')) AS token
           FROM documents),
         tc AS (SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
         agg AS (SELECT source, count(*) AS types,
             CAST(sum(n) AS BIGINT) AS tokens,
             CAST(sum(n * (n - 1)) AS BIGINT) AS rep_pairs
           FROM tc GROUP BY 1)
         SELECT source, types, tokens,
           (1000000 * types) // tokens AS ttr_scaled, rep_pairs,
           tokens * (tokens - 1) AS tot_pairs,
           CASE WHEN tokens <= 1 THEN NULL
                ELSE round(CAST(rep_pairs AS DOUBLE) /
                  (tokens * (tokens - 1)), 6) END AS simpson
         FROM agg ORDER BY source""",

    // the q199 naive pair replay, then the a<b<c triangle join (edges
    // normalized ascending, so the ordered triple join counts each
    // triangle once — the oracle needs no degree orientation)
    "q216_dup_triangles" ->
      raw"""WITH tk AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS arr
           FROM documents WHERE text IS NOT NULL AND lang = 'en'),
         shl AS (SELECT doc_id, CASE WHEN len(arr) < 3
             THEN [array_to_string(arr, ' ')]
             ELSE list_transform(generate_series(1, len(arr) - 2),
               i -> arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2]) END AS sh
           FROM tk),
         tok AS (SELECT DISTINCT doc_id,
             CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) AS token
           FROM (SELECT doc_id, unnest(sh) AS g FROM shl)),
         sz AS (SELECT doc_id, count(*) AS s FROM tok GROUP BY 1),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
           FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         j AS (SELECT id_l, id_r,
             CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
           FROM inter JOIN sz sa ON sa.doc_id = id_l
                      JOIN sz sb ON sb.doc_id = id_r)
         , e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.9),
         deg AS (SELECT v, count(*) AS d FROM
           (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY 1),
         tri AS (SELECT count(*) AS t FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         st AS (SELECT
           (SELECT count(*) FROM deg) AS n_nodes,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT CAST(sum(d * (d - 1)) // 2 AS BIGINT) FROM deg) AS n_wedges,
           (SELECT t FROM tri) AS n_triangles)
         SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges = 0 THEN NULL
             ELSE round(3.0 * n_triangles / n_wedges, 6) END AS clustering
         FROM st""",

    "q215_top_paths" ->
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
         SELECT path, n FROM c ORDER BY n DESC, path LIMIT 10""",

    // per-user conversion flags, per-variant counts, the identical pooled
    // two-proportion z tree over the exact integers
    "q214_ab_test" ->
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
         FROM t""",

    // q30's session CTE aggregated to (session, n, start day), then the
    // exact daily bounce ratio
    "q213_bounce_rate" ->
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
         FROM agg ORDER BY day""",

    // the q189 chain, then per-transition duration branches with the
    // decimal mean and quantile_cont median (the q37 convention)
    "q211_funnel_latency" ->
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
         FROM d GROUP BY 1, 2 ORDER BY from_stage, to_stage""",

    "q212_rate_anomalies" ->
      """WITH m AS (SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 60 AS minute, count(*) AS n
           FROM events GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY n DESC, minute) AS rn FROM m)
         SELECT user_id, minute AS peak_minute, n AS n_peak
         FROM r WHERE rn = 1 AND n > 1 ORDER BY user_id""",

    // the q30 session CTE -> distinct (session, type) -> pair join; lift
    // as the same exact integer ratio, rounded once
    "q205_session_lift" ->
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
         ORDER BY type_a, type_b""",

    // decimal daily sums + decimal running cumulative; S from the exact
    // pieces in one double expression; argmax replayed with the same
    // (|S| desc, day) ordering
    "q204_cusum_changepoint" -> cusumOracle,

    "q209_stream_cusum" -> cusumOracle,

    // q188's decimal-exact per-dim means assembled into a centroid list,
    // q24's list_cosine_similarity parity, deterministic asc-cosine ranks
    "q203_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
         ex AS (SELECT vec_id, label, i AS dim,
             CAST(v[i] AS DECIMAL(28,6)) AS c
           FROM e, unnest(generate_series(1, 64)) AS t(i)),
         cm AS (SELECT label, dim, CAST(sum(c) AS DOUBLE) / count(*) AS m
           FROM ex GROUP BY 1, 2),
         cent AS (SELECT label, list(m ORDER BY dim) AS centroid
           FROM cm GROUP BY 1),
         sc AS (SELECT e.vec_id, e.label,
             list_cosine_similarity(e.v, c.centroid) AS cos_raw
           FROM e JOIN cent c USING (label)),
         r AS (SELECT label, vec_id, cos_raw,
             CAST(row_number() OVER (PARTITION BY label
               ORDER BY cos_raw, vec_id) AS INT) AS rnk FROM sc)
         SELECT label, rnk, vec_id, round(cos_raw, 6) + 0 AS cosine
         FROM r WHERE rnk <= 5 ORDER BY label, rnk""",

    // full KMV replay: per-side bottom-64 of the md5 32-bit prefix,
    // union sketch re-ranked, the q130 (k-1)*2^32 div kth estimator,
    // jaccard = shared fraction of the union sketch (rounded BEFORE the
    // intersection product, as the engine computes it)
    "q200_kmv_overlap" ->
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
         FROM st""",

    "q206_stream_rolling_active" -> rollingActiveOracle,

    "q201_rolling_active" -> rollingActiveOracle,

    "q202_quantile_bins" ->
      """WITH b AS (SELECT lang, n_chars,
             CAST(ntile(10) OVER (PARTITION BY lang
               ORDER BY n_chars, doc_id) AS INT) AS bin
           FROM documents WHERE n_chars IS NOT NULL)
         SELECT lang, bin, count(*) AS n, min(n_chars) AS lo,
           max(n_chars) AS hi
         FROM b GROUP BY 1, 2 ORDER BY 1, 2""",

    // per-type 480-min-gap activity sessions (the q30 session CTE shape),
    // then the inclusive-overlap join per user
    "q197_interval_overlap" ->
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
         ORDER BY 1, 2, 3""",

    // three-pass replay: quantile_cont median, MAD over absolute
    // deviations, then the 3-sigma-equivalent robust cut — percentile and
    // quantile_cont share the interpolated convention (the q37 precedent)
    "q196_mad_outliers" ->
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
         FROM sc GROUP BY event_type ORDER BY event_type""",

    // full winnowing replay: positional 7-grams, 60-bit md5 prefix hash,
    // min over ROWS CURRENT..4 FOLLOWING, window count = greatest(ng-4,1),
    // distinct fps, <=20-posting ubiquity cut, >=8-shared pair filter
    "q193_winnow_pairs" ->
      raw"""WITH n AS (SELECT doc_id,
             regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
           FROM documents WHERE text IS NOT NULL),
         b AS (SELECT doc_id, norm, greatest(length(norm) - 6, 1) AS ng FROM n),
         p AS (SELECT doc_id, ng, i,
             CAST(concat('0x', substring(md5(substring(norm, i, 7)), 1, 15))
               AS BIGINT) AS h
           FROM (SELECT doc_id, norm, ng,
                   unnest(generate_series(1, ng)) AS i FROM b)),
         wm AS (SELECT doc_id, ng, i, min(h) OVER (PARTITION BY doc_id
             ORDER BY i ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp FROM p),
         sel AS (SELECT DISTINCT doc_id, fp FROM wm
           WHERE i <= greatest(ng - 4, 1)),
         keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 20),
         pr AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS shared
           FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           WHERE a.fp IN (SELECT fp FROM keep)
           GROUP BY 1, 2)
         SELECT id_l, id_r, shared FROM pr WHERE shared >= 8
         ORDER BY id_l, id_r""",

    // postings replay: tf, df <= 100 cut, integer dot over kept terms,
    // full-term norms, one double tree, rounded-score + id top-10
    "q194_sparse_cosine" ->
      raw"""WITH tok AS (SELECT doc_id AS doc,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS term
           FROM documents WHERE text IS NOT NULL),
         tf AS (SELECT doc, term, count(*) AS tf FROM tok GROUP BY 1, 2),
         keep AS (SELECT term FROM tf GROUP BY term
           HAVING count(*) <= 100 AND count(*) >= 2),
         bounded AS (SELECT * FROM tf WHERE term IN (SELECT term FROM keep)),
         norms AS (SELECT doc, CAST(sum(tf * tf) AS BIGINT) AS n2
           FROM tf GROUP BY doc),
         dots AS (SELECT a.doc AS id_l, b.doc AS id_r,
             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
           FROM bounded a JOIN bounded b
             ON a.term = b.term AND a.doc < b.doc GROUP BY 1, 2),
         c AS (SELECT id_l, id_r, dot,
             round(CAST(dot AS DOUBLE) /
               sqrt(CAST(nl.n2 AS DOUBLE) * CAST(nr.n2 AS DOUBLE)), 6) AS cosine
           FROM dots JOIN norms nl ON nl.doc = id_l
                     JOIN norms nr ON nr.doc = id_r)
         SELECT id_l, id_r, dot, cosine FROM c
         ORDER BY cosine DESC, id_l, id_r LIMIT 10""",

    // exact decimal sums -> double closed form, the identical expression
    // tree on both engines (see Profile.trendOls exactness contract)
    "q192_trend_ols" ->
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
         FROM f ORDER BY event_type""",

    "q187_stream_drift" -> tokenDriftOracle,

    // decimal-routed per-dim sums (float cast rounds the same exact binary
    // value in both engines), double means in identical evaluation order;
    // posexplode dim is 0-based -> i - 1
    "q188_embedding_drift" ->
      """WITH ex AS (SELECT vec_id, i - 1 AS dim,
             CAST(embedding[i] AS DECIMAL(20,8)) AS v
           FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
           WHERE embedding IS NOT NULL AND len(embedding) = 64),
         a AS (SELECT dim, sum(v) AS sa, count(*) AS na
           FROM ex WHERE vec_id % 2 = 0 GROUP BY 1),
         b AS (SELECT dim, sum(v) AS sb, count(*) AS nb
           FROM ex WHERE vec_id % 2 = 1 GROUP BY 1),
         m AS (SELECT dim, CAST(sa AS DOUBLE) / na AS ma,
             CAST(sb AS DOUBLE) / nb AS mb
           FROM a JOIN b USING (dim))
         SELECT CAST(dim AS INT) AS dim, round(ma, 6) + 0 AS mean_a,
           round(mb, 6) + 0 AS mean_b, round((ma - mb) * (ma - mb), 6) AS d2
         FROM m ORDER BY dim""",

    // unigram + bigram branches unioned, two-level count replay, double
    // ratio — the q75 gram build convention with a ' ' joiner
    "q186_distinct_ngrams" ->
      raw"""WITH tk AS (SELECT source,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM documents WHERE text IS NOT NULL),
        u AS (SELECT source, 1 AS n, unnest(arr) AS g FROM tk WHERE len(arr) >= 1),
        b AS (SELECT source, 2 AS n, arr[i] || ' ' || arr[i + 1] AS g
          FROM (SELECT source, arr,
              unnest(generate_series(1, len(arr) - 1)) AS i
            FROM tk WHERE len(arr) >= 2)),
        al AS (SELECT * FROM u UNION ALL SELECT * FROM b),
        c AS (SELECT source, n, g, count(*) AS c FROM al GROUP BY 1, 2, 3),
        f AS (SELECT source, n, CAST(sum(c) AS BIGINT) AS n_total,
            count(*) AS n_distinct
          FROM c GROUP BY 1, 2)
        SELECT source, n, n_total, n_distinct,
          round(n_distinct / n_total, 6) AS distinct_ratio
        FROM f ORDER BY source, n""",

    "q185_token_drift" -> tokenDriftOracle,

    "q183_novelty" -> noveltyOracle,

    // BM25 replay: same tokenization as q162, rational idf (N+1)/(df+0.5),
    // per-term double math in the IDENTICAL evaluation order, 6-dp round,
    // decimal total — scores and ranks both exact
    "q182_bm25_search" ->
      raw"""WITH d0 AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM documents WHERE text IS NOT NULL),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(len(arr)) AS DOUBLE) AS dls FROM d0),
        tok AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS dl,
            unnest(arr) AS token FROM d0),
        tf AS (SELECT doc_id, token, dl, count(*) AS tf
          FROM tok GROUP BY 1, 2, 3),
        qq AS (SELECT * FROM (VALUES $bm25QueriesLit) AS t(query_id, qtext)),
        qt AS (SELECT DISTINCT query_id,
            unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}_]+'),
              x -> x <> '')) AS token
          FROM qq),
        dfq AS (SELECT token, count(*) AS df FROM tf
          WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
        sc AS (SELECT qt.query_id, tf.doc_id,
            CAST(round((st.n + 1.0) / (dfq.df + 0.5) *
              (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 +
                0.75 * tf.dl * st.n / st.dls))), 6) AS DECIMAL(18,6)) AS ts
          FROM qt JOIN tf USING (token) JOIN dfq USING (token) CROSS JOIN st),
        tot AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
          FROM sc GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rnk
          FROM tot)
        SELECT CAST(query_id AS BIGINT) AS query_id, rnk, doc_id, score
        FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""",

    // the Duffield-Lund-Thorup scheme replayed verbatim: integer priority
    // (w * 2^32) // u, rank by (priority DESC, id), tau = rank k+1,
    // est = max(w, tau) — all BIGINT, no float anywhere
    "q181_priority_sample" ->
      raw"""WITH d0 AS (SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
             AS BIGINT) AS n_tok
         FROM documents WHERE text IS NOT NULL),
        p AS (SELECT doc_id, source, n_tok,
            CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) + 1 AS u
          FROM d0 WHERE n_tok > 0),
        q AS (SELECT doc_id, source, n_tok, (n_tok * 4294967296) // u AS pr FROM p),
        r AS (SELECT doc_id, source, n_tok, pr,
            row_number() OVER (ORDER BY pr DESC, doc_id) AS rn FROM q),
        tau AS (SELECT max(CASE WHEN rn = 101 THEN pr END) AS t FROM r)
        SELECT r.doc_id, r.source, r.n_tok,
          CASE WHEN tau.t IS NULL THEN r.n_tok ELSE greatest(r.n_tok, tau.t) END
            AS est_weight
        FROM r, tau WHERE rn <= 100 ORDER BY doc_id""",

    // stride scheduling replayed verbatim: per-source rank -> scaled
    // virtual time (2*rn-1)*(lcm/w) in exact BIGINT -> global order
    "q180_mixture_interleave" ->
      s"""WITH w AS (SELECT * FROM (VALUES $interleaveWeightsLit) AS t(source, wt)),
         r AS (SELECT d.doc_id, d.source, w.wt,
             row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
           FROM documents d JOIN w USING (source)),
         o AS (SELECT doc_id, source, (2*rn - 1) * (12 // wt) AS ord FROM r)
         SELECT doc_id, source,
           row_number() OVER (ORDER BY ord, source, doc_id) AS pos
         FROM o ORDER BY pos""",

    "q177_phrase_blocklist" ->
      s"""SELECT doc_id,
           CAST(len(list_filter($blockPhrasesLit,
             p -> contains(text, p))) AS BIGINT) AS n_hits
         FROM documents WHERE text IS NOT NULL
         ORDER BY doc_id""",

    // the next-fit fill recurrence (reset on overflow — not a cumsum)
    // replayed row-at-a-time: rank docs per source, recurse rn -> rn+1
    // carrying (fill, bin); an oversize doc overflows into its own bin
    // by the same CASE with no special-casing
    "q176_nextfit_pack" ->
      raw"""WITH RECURSIVE d0 AS (SELECT source, doc_id,
           len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         FROM documents WHERE text IS NOT NULL),
        walk(source, rn, doc_id, n_tok, fill, bin) AS (
          SELECT source, rn, doc_id, n_tok, n_tok, CAST(0 AS BIGINT)
          FROM d0 WHERE rn = 1
          UNION ALL
          SELECT d.source, d.rn, d.doc_id, d.n_tok,
            CASE WHEN w.fill + d.n_tok > 90 THEN d.n_tok ELSE w.fill + d.n_tok END,
            CASE WHEN w.fill + d.n_tok > 90 THEN w.bin + 1 ELSE w.bin END
          FROM walk w JOIN d0 d ON d.source = w.source AND d.rn = w.rn + 1)
        SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tok, bin AS bin_id
        FROM walk ORDER BY doc_id""",

    // the waterfill walk as window cumsums: a source saturates iff
    // cap*wrem <= brem*mass under the cap/mass-ascending order; the
    // prefix-AND freezes the frontier row, whose (brem, wrem) is the
    // water level every later source drinks from (integer // floor)
    "q175_waterfill_alloc" ->
      raw"""WITH m AS (SELECT source,
           CAST(sum(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))) AS BIGINT) AS mass
         FROM documents WHERE text IS NOT NULL GROUP BY source),
        pc AS (SELECT source, mass,
           (1 + CAST(substr(source, 4, 10) AS INT) % 3) * mass AS cap FROM m),
        ord AS (SELECT source, mass, cap,
           coalesce(sum(cap) OVER (ORDER BY cap * 1.0 / mass, source
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cprev,
           sum(mass) OVER (ORDER BY cap * 1.0 / mass, source
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS wrem
         FROM pc),
        f AS (SELECT source, mass, cap, cprev, wrem,
           CASE WHEN cap * wrem <= (50000 - cprev) * mass THEN 1 ELSE 0 END AS sat
         FROM ord),
        g AS (SELECT *, min(sat) OVER (ORDER BY cap * 1.0 / mass, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS satpfx FROM f)
        SELECT source, mass, cap,
          CAST(CASE WHEN satpfx = 1 THEN cap
               ELSE least(cap, mass * coalesce((SELECT 50000 - cprev FROM g
                   WHERE satpfx = 0
                   ORDER BY cap * 1.0 / mass, source LIMIT 1), 0)
                 // coalesce((SELECT wrem FROM g WHERE satpfx = 0
                   ORDER BY cap * 1.0 / mass, source LIMIT 1), 1)) END
            AS BIGINT) AS alloc
        FROM g ORDER BY source""",

    // q70's component CTEs + the q56 md5-threshold split applied to the
    // COMPONENT id (stringified) — same exact 32-bit thresholds
    "q174_split_by_cluster" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS tk FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                 CASE WHEN len(tk) < 3 THEN array_to_string(tk, ' ')
                      ELSE array_to_string(tk[i:i+2], ' ') END AS shingle
               FROM (SELECT doc_id, tk,
                       unnest(generate_series(1, greatest(len(tk) - 2, 1))) AS i
                     FROM toks WHERE len(tk) > 0)),
         sz AS (SELECT doc_id, count(*) AS s FROM sh GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS ic
                   FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         j AS (SELECT id_l, id_r, CAST(ic AS DOUBLE) / (sa.s + sb.s - ic) AS jac
               FROM inter JOIN sz sa ON sa.doc_id = id_l
                          JOIN sz sb ON sb.doc_id = id_r),
         e AS (SELECT id_l AS a, id_r AS b FROM j WHERE jac >= 0.6
               UNION SELECT id_r, id_l FROM j WHERE jac >= 0.6),
         reach(a, b) AS (SELECT a, b FROM e
               UNION SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
         comp AS (SELECT a AS doc_id, least(a, min(b)) AS component
                  FROM reach GROUP BY a),
         lab AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id)
         SELECT doc_id, component, CASE
           WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
           WHEN CAST(concat('0x', substring(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
           ELSE 'test' END AS split
         FROM lab ORDER BY doc_id""",
    "q141_sampled_quantiles" ->
      raw"""WITH b AS (SELECT source,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) AS h
           FROM documents WHERE text IS NOT NULL)
         SELECT source,
           quantile_cont(n_tok, 0.5) AS p50_exact,
           quantile_cont(CASE WHEN h < 1073741824 THEN n_tok END, 0.5) AS p50_sampled,
           CAST(count(CASE WHEN h < 1073741824 THEN 1 END) AS BIGINT) AS n_sampled
         FROM b GROUP BY source ORDER BY source""",
    // the composed CTE chain of the q132/q133/q131/q128/q127 oracles —
    // every stage fragment is individually proven by its own query
    "q140_curation_pipeline" ->
      raw"""WITH d0 AS (SELECT doc_id, text, source,
             'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END)
             || source
             || (CASE WHEN doc_id % 2 = 0 THEN '.example.com' ELSE '.example.org' END)
             || '/p/' || CAST(doc_id % 100 AS VARCHAR)
             || '?utm_source=x&id=' || CAST(doc_id % 25 AS VARCHAR)
             || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents WHERE text IS NOT NULL),
         hb AS (SELECT *, regexp_replace(lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$$', '') AS host
           FROM d0),
         nb AS (SELECT * FROM hb WHERE NOT list_has_any(
             list_transform(range(1, len(string_split(host, '.')) + 1),
               i -> array_to_string(string_split(host, '.')[i:], '.')),
             ['src3.example.com', 'src7.example.org'])),
         lf AS (SELECT doc_id, source, url,
             array_to_string(list_filter(
               list_filter(regexp_split_to_array(text, '\. '), x -> x <> ''),
               x -> len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3),
               '. ') AS t1
           FROM nb),
         sg AS (SELECT doc_id, source, url,
             list_filter(regexp_split_to_array(t1, '\. '), x -> x <> '') AS segs
           FROM lf),
         idd AS (SELECT doc_id, source, url,
             array_to_string(list_filter(segs,
               (x, i) -> list_position(segs, x) = i), '. ') AS clean
           FROM sg),
         cls AS (SELECT doc_id, source, url, clean FROM (
             SELECT *, 32 + coalesce(list_sum(list_transform(
                 list_filter(regexp_split_to_array(lower(clean), '[^a-z0-9]+'),
                   x -> x <> ''),
                 t -> ((CAST(concat('0x', substring(md5(t), 1, 8)) AS BIGINT) % 4096)
                   * 2654435761) % 1024 - 512)), 0) AS score
             FROM idd)
           WHERE score >= 0),
         cu AS (SELECT doc_id, source, clean,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':443$$', '') AS auth0,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
           FROM cls),
         cc AS (SELECT doc_id, source, clean, scheme || '://'
             || regexp_replace(auth0, '^www\.', '')
             || regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$$', '')
             || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END) AS curl
           FROM (SELECT *, regexp_replace(regexp_replace(
               '&' || regexp_extract(rest, '^[^?]*\?(.*)$$', 1),
               '&(${text.urlTrackingParams})=[^&]*', '', 'g'), '^&', '') AS q2
             FROM cu)),
         ded AS (SELECT min(doc_id) AS doc_id FROM cc GROUP BY curl),
         kept AS (SELECT c.source, c.clean FROM cc c JOIN ded ON c.doc_id = ded.doc_id)
         SELECT source, count(*) AS n_docs,
           CAST(sum(len(list_filter(regexp_split_to_array(clean, '\s+'),
             x -> x <> ''))) AS BIGINT) AS sum_tokens
         FROM kept GROUP BY source ORDER BY source""",
    "q135_source_overlap" ->
      """WITH all0 AS (SELECT doc_id, text, source FROM documents
             WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id + 100000, text, source || '-m' FROM documents
             WHERE text IS NOT NULL AND doc_id % 7 = 0),
         h AS (SELECT DISTINCT md5(text) AS h, source FROM all0)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY source_a, source_b""",
    // quantized log-odds: floor(1000*ln((tc+1)/(sc+1))) — a 1-ulp ln
    // disagreement cannot flip floor (needs the product within ~1e-12 of
    // an integer), so the integer scores are engine-exact
    "q134_dsir_select" ->
      raw"""WITH d AS (SELECT doc_id, lang,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS tk
           FROM documents WHERE text IS NOT NULL AND doc_id < 1500),
         f AS (SELECT doc_id, lang,
             list_concat(tk,
               list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS ft
           FROM d),
         fx AS (SELECT doc_id, lang,
             CAST(concat('0x', substring(md5(unnest(ft)), 1, 8)) AS BIGINT) % 4096
               AS bucket
           FROM f),
         raw_c AS (SELECT bucket, count(*) AS n_raw FROM fx GROUP BY bucket),
         tgt_c AS (SELECT bucket, count(*) AS n_tgt FROM fx WHERE lang = 'en'
           GROUP BY bucket),
         model AS (SELECT r.bucket,
             CAST(floor(1000.0 * ln(CAST(coalesce(t.n_tgt, 0) + 1 AS DOUBLE)
               / CAST(r.n_raw + 1 AS DOUBLE))) AS BIGINT) AS qllr
           FROM raw_c r LEFT JOIN tgt_c t ON r.bucket = t.bucket),
         sc AS (SELECT fx.doc_id, CAST(sum(m.qllr) AS BIGINT) AS score
           FROM fx JOIN model m ON fx.bucket = m.bucket GROUP BY fx.doc_id),
         full_sc AS (SELECT d.doc_id, coalesce(sc.score, 0) AS score
           FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id),
         top AS (SELECT doc_id, score FROM full_sc
           ORDER BY score DESC, doc_id LIMIT 200)
         SELECT doc_id, CAST(score AS BIGINT) AS score FROM top
         ORDER BY doc_id""",
    // nested lambda replicates filterShortSegments' word-count rule
    "q133_line_filter" ->
      raw"""WITH s AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\. '), x -> x <> '') AS sg
           FROM documents WHERE text IS NOT NULL),
         k AS (SELECT doc_id, sg,
             list_filter(sg, x ->
               len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3) AS u
           FROM s)
         SELECT doc_id, array_to_string(u, '. ') AS clean_text,
           CAST(len(sg) AS BIGINT) AS n_total, CAST(len(u) AS BIGINT) AS n_kept
         FROM k ORDER BY doc_id""",
    // suffix expansion mirrors text.domainBlocked: every dot-suffix of the
    // host probed against the same blocklist literal
    "q132_domain_blocklist" ->
      """WITH u AS (SELECT doc_id,
             'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'cdn.' ELSE '' END)
             || source
             || (CASE WHEN doc_id % 2 = 0 THEN '.example.com' ELSE '.example.org' END)
             || '/p/' || CAST(doc_id % 100 AS VARCHAR) AS url
           FROM documents),
         h AS (SELECT doc_id,
             regexp_replace(lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), ':[0-9]+$', '') AS host
           FROM u),
         sfx AS (SELECT doc_id, host,
             list_transform(range(1, len(string_split(host, '.')) + 1),
               i -> array_to_string(string_split(host, '.')[i:], '.')) AS sufs
           FROM h)
         SELECT doc_id, host,
           CAST(CASE WHEN list_has_any(sufs,
             ['src3.example.com', 'src7.example.org', 'example.net'])
             THEN 1 ELSE 0 END AS BIGINT) AS blocked
         FROM sfx ORDER BY doc_id""",
    // first-occurrence filter via the index lambda (list_position(sg,x)=i);
    // Spark's array_distinct preserves first-occurrence order by contract
    "q131_intradoc_dedup" ->
      raw"""WITH d0 AS (SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || '. ' || text ELSE text END AS text
           FROM documents WHERE text IS NOT NULL),
         s AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\. '), x -> x <> '') AS sg
           FROM d0),
         dd AS (SELECT doc_id, sg,
             list_filter(sg, (x, i) -> list_position(sg, x) = i) AS u
           FROM s)
         SELECT doc_id, array_to_string(u, '. ') AS clean_text,
           CAST(len(sg) AS BIGINT) AS n_total, CAST(len(u) AS BIGINT) AS n_kept
         FROM dd ORDER BY doc_id""",
    // KMV replica: k-th smallest distinct md5-prefix hash per source;
    // (k-1)*2^32 // h_(k) in BIGINT floor division, exact-sketch fallback
    "q130_distinct_estimate" ->
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
         FROM st s JOIN ex e USING (source) ORDER BY source""",
    // weight formula mirrors the Scala table: w(b) = (b*2654435761) % 1024 - 512
    // over md5-prefix buckets mod 4096; empty token lists coalesce to 0
    "q128_quality_classifier" -> classifierScoreOracle,

    // the q86 sqrt convention extended to the whole quarter family:
    // n^(3/4) = sqrt(n)*sqrt(sqrt(n)) is correctly-rounded IEEE in both
    // engines; phase quarters hardcoded = the exact integer interpolation
    "q253_anneal_schedule" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         ph AS (SELECT 1 AS phase, 4 AS q
                UNION ALL SELECT 2, 3 UNION ALL SELECT 3, 2),
         t AS (SELECT phase, q, source, n,
             CASE q WHEN 4 THEN CAST(n AS DOUBLE)
                    WHEN 3 THEN sqrt(n) * sqrt(sqrt(n))
                    WHEN 2 THEN sqrt(n)
                    ELSE sqrt(sqrt(n)) END AS tv
           FROM ph CROSS JOIN c),
         z AS (SELECT phase, CAST(sum(CAST(tv AS DECIMAL(28,6))) AS DOUBLE) AS z
           FROM t GROUP BY 1)
         SELECT t.phase, t.q AS alpha_q, t.source, t.n,
           round(tv / z.z, 6) AS weight,
           CAST(round(10000 * tv / z.z) AS BIGINT) AS alloc
         FROM t JOIN z USING (phase)
         ORDER BY phase, source""",

    // q128's scorer streamed: row-local stateless fold, Append == batch
    // under any cut — the batch oracle gates the stream verbatim
    "q252_stream_classifier" -> classifierScoreOracle,
    // regex constants (tracking params) interpolated from text.canonicalizeUrl's
    // shared patterns; DuckDB regexp_replace needs the explicit 'g' flag where
    // Spark is global by default
    "q127_url_dedup" ->
      raw"""WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
                   WHEN doc_id % 3 = 1 THEN 'https' ELSE 'HtTpS' END)
             || '://'
             || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
             || upper(source) || '.Example.COM'
             || (CASE WHEN doc_id % 3 <> 0 AND doc_id % 5 = 0 THEN ':443'
                      WHEN doc_id % 3 = 0 AND doc_id % 5 = 0 THEN ':80'
                      WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
             || '/Path/' || CAST(doc_id % 40 AS VARCHAR)
             || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
             || '?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x&gclid=abc' ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#sec-2' ELSE '' END) AS url
           FROM documents),
         p AS (SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS auth0,
             regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest
           FROM u),
         q AS (SELECT doc_id, scheme,
             regexp_replace(
               CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$$', '')
                    WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$$', '')
                    ELSE auth0 END, '^www\.', '') AS host,
             regexp_replace(regexp_extract(rest, '^([^?]*)', 1), '/$$', '') AS path,
             regexp_replace(regexp_replace('&' || regexp_extract(rest, '^[^?]*\?(.*)$$', 1),
               '&(${text.urlTrackingParams})=[^&]*', '', 'g'), '^&', '') AS query
           FROM p),
         c AS (SELECT doc_id, scheme || '://' || host || path ||
             (CASE WHEN query = '' THEN '' ELSE '?' || query END) AS url
           FROM q)
         SELECT min(doc_id) AS doc_id, url, count(*) AS n_pages
         FROM c GROUP BY url ORDER BY doc_id""",
    // stopword inventories interpolated from text.stopwords so the oracle
    // can never drift from the engine's lists
    "q88_quality_filter" ->
      raw"""WITH base AS (SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks
           FROM documents),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM documents) GROUP BY doc_id, tok) GROUP BY doc_id),
         sig AS (SELECT b.doc_id, b.n_tok,
             CASE WHEN b.n_tok = 0 THEN 0.0
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
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id),
         rs AS (SELECT doc_id, n_tok, stop_hits,
             CAST(CASE WHEN n_tok < 20 OR n_tok > 100000 THEN 1 ELSE 0 END
               + CASE WHEN avg_len < 3.0 OR avg_len > 10.0 THEN 2 ELSE 0 END
               + CASE WHEN dig_r > 0.2 THEN 4 ELSE 0 END
               + CASE WHEN stop_hits < 1 THEN 8 ELSE 0 END
               + CASE WHEN max_share > 0.2 THEN 16 ELSE 0 END AS BIGINT) AS reasons
           FROM sig)
         SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(stop_hits AS BIGINT) AS stop_hits, reasons, reasons = 0 AS keep
         FROM rs ORDER BY doc_id""",
    "q89_mixture_apply" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z FROM c),
         a AS (SELECT source, CAST(round(300 * sqrt(n) / z) AS BIGINT) AS alloc FROM c, z),
         r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
         SELECT r.source, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM r JOIN a USING (source) WHERE rn <= alloc ORDER BY source, rnk""",
    "q117_mixture_upsample" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z FROM c),
         a AS (SELECT source, n, CAST(round(1200 * sqrt(n) / z) AS BIGINT) AS alloc FROM c, z),
         r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents),
         e AS (SELECT r.source, r.doc_id, CAST(rn AS BIGINT) AS rnk,
                 (alloc // n) + CASE WHEN rn <= alloc % n THEN 1 ELSE 0 END AS eps
               FROM r JOIN a USING (source)),
         x AS (SELECT source, rnk, doc_id,
                 unnest(generate_series(0, eps - 1)) AS epoch
               FROM e WHERE eps > 0)
         SELECT source, rnk, CAST(epoch AS BIGINT) AS epoch, doc_id
         FROM x ORDER BY source, rnk, epoch""",
    // the q63 normalize, q88 filter, q20 dedup and q56 split CTEs chained
    // on the cleaned text — the whole-pipeline differential test
    "q90_corpus_pipeline" ->
      raw"""WITH clean AS (SELECT doc_id,
             nfc_normalize(regexp_replace(text,
               '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS text
           FROM documents),
         base AS (SELECT doc_id, text,
             len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n_tok,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
             list_distinct(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS toks
           FROM clean),
         mult AS (SELECT doc_id, max(cnt) AS m, sum(cnt) AS n FROM (
             SELECT doc_id, tok, count(*) AS cnt FROM (
               SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
               FROM clean) GROUP BY doc_id, tok) GROUP BY doc_id),
         sig AS (SELECT b.doc_id, b.text, b.n_tok,
             CASE WHEN b.n_tok = 0 THEN 0.0
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
           FROM base b LEFT JOIN mult ON b.doc_id = mult.doc_id),
         kept AS (SELECT doc_id, text, n_tok FROM sig
           WHERE NOT (n_tok < 20 OR n_tok > 100000)
             AND NOT (avg_len < 3.0 OR avg_len > 10.0)
             AND NOT (dig_r > 0.2) AND NOT (stop_hits < 1)
             AND NOT (max_share > 0.2)),
         ded AS (SELECT text, min(n_tok) AS n_tok FROM kept GROUP BY text),
         spl AS (SELECT n_tok, CASE
             WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
             WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
             ELSE 'test' END AS split
           FROM ded)
         SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens
         FROM spl GROUP BY split ORDER BY split""",
    "q91_cdc_merge" ->
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice
             FROM orders WHERE o_orderkey % 7 <> 0),
         ch AS (
           SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_totalprice
             FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, 1, 'U', o_custkey, o_totalprice + 1000.0
             FROM snap WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT o_orderkey, 2, 'U', o_custkey, o_totalprice + 2000.0
             FROM snap WHERE o_orderkey % 20 = 3
           UNION ALL
           SELECT o_orderkey, 1, 'D', NULL, NULL
             FROM snap WHERE o_orderkey % 10 = 7),
         w AS (SELECT *, row_number() OVER
             (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn FROM ch)
         SELECT o_orderkey, o_custkey, o_totalprice FROM snap
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice FROM w
         WHERE rn = 1 AND op <> 'D'
         ORDER BY o_orderkey""",
    "q92_posting_lists" ->
      """WITH pairs AS (SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents),
         agg AS (SELECT token, count(*) AS df_docs,
             array_to_string(list_transform(list_sort(list(doc_id))[1:20],
               x -> x::VARCHAR), ',') AS postings
           FROM pairs GROUP BY token)
         SELECT token, df_docs, postings FROM agg
         WHERE df_docs >= 5 ORDER BY token""",
    "q93_bloom_join" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0)
         ORDER BY l_orderkey, l_linenumber""",
    "q94_stream_correlate" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
         CAST(floor(epoch(b.ts)) AS BIGINT) - CAST(floor(epoch(a.ts)) AS BIGINT) AS lag_sec
         FROM events a JOIN events b ON a.user_id = b.user_id
         WHERE a.event_type = 'click' AND b.event_type = 'purchase'
           AND a.user_id % 8 = 0 AND b.user_id % 8 = 0
           AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
         ORDER BY 1, 2, 3""",
    "q95_zorder" -> {
      val z = graft.ops.ZOrder.zValue16Sql(
        "o_custkey % 65536", "CAST(floor(o_totalprice / 10.0) AS BIGINT) % 65536")
      s"""SELECT o_orderkey, zval, (zval >> 24) AS zbucket
          FROM (SELECT o_orderkey, $z AS zval FROM orders)
          ORDER BY o_orderkey"""
    },
    "q96_csv_roundtrip" ->
      """SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id""",
    // planes interpolated from Similarity.portablePlanes — the SAME ±1
    // matrix the Spark plan uses, so buckets/candidates/top-k cannot drift
    "q98_knn_lsh_portable" -> {
      val tables = 4; val bits = 8
      val planes = graft.ext.Similarity.portablePlanes(tables, bits, 64)
      def planeList(t: Int, b: Int): String =
        planes(t)(b).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
      def bucketExpr(t: Int): String =
        (0 until bits).map(b =>
          s"(CASE WHEN list_dot_product(v, ${planeList(t, b)}) >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
      val perTable = (0 until tables).map(t =>
        s"SELECT vec_id, v, $t AS tbl, ${bucketExpr(t)} AS bh FROM e")
        .mkString("\n UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS ($perTable),
         q AS (SELECT vec_id AS query_id, tbl, bh FROM b WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, tbl, bh FROM b),
         cand AS (SELECT DISTINCT query_id, neighbor_id
           FROM q JOIN c ON q.tbl = c.tbl AND q.bh = c.bh
           WHERE neighbor_id <> query_id),
         s AS (SELECT query_id, neighbor_id,
             list_cosine_similarity(eq.v, ec.v) AS cos_raw
           FROM cand
           JOIN e eq ON eq.vec_id = query_id
           JOIN e ec ON ec.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM s)
         SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""
    },
    // the q98 16-table plane replay swept over the dial ladder: dial t
    // buckets with tables tbl < t (the plane set nests), truth = the
    // brute-force top-5, recall/chosen as in the q295 IVF sweep
    "q296_lsh_autotune" -> {
      val tables = 16; val bits = 8
      val planes = graft.ext.Similarity.portablePlanes(tables, bits, 64)
      def planeList(t: Int, b: Int): String =
        planes(t)(b).map(v => if (v > 0) "1.0" else "-1.0")
          .mkString("[", ",", "]")
      def bucketExpr(t: Int): String =
        (0 until bits).map(b =>
          s"(CASE WHEN list_dot_product(v, ${planeList(t, b)}) >= 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
      val perTable = (0 until tables).map(t =>
        s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bh FROM e")
        .mkString("\n UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS ($perTable),
         q AS (SELECT vec_id AS query_id, tbl, bh FROM b WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, tbl, bh FROM b),
         dials AS (SELECT unnest([2,4,8,16]) AS n_tables),
         cand AS (SELECT DISTINCT d.n_tables, q.query_id, c.neighbor_id
           FROM dials d
           JOIN q ON q.tbl < d.n_tables
           JOIN c ON c.tbl = q.tbl AND c.bh = q.bh
           WHERE c.neighbor_id <> q.query_id),
         approx AS (SELECT n_tables, query_id, neighbor_id FROM (
             SELECT cd.n_tables, cd.query_id, cd.neighbor_id,
               row_number() OVER (PARTITION BY cd.n_tables, cd.query_id
                 ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, cd.neighbor_id) AS rk
             FROM cand cd JOIN e eq ON eq.vec_id = cd.query_id
               JOIN e ec ON ec.vec_id = cd.neighbor_id)
           WHERE rk <= 5),
         truth AS (SELECT query_id, neighbor_id FROM (
             SELECT tq.vec_id AS query_id, tcp.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY tq.vec_id
                 ORDER BY list_cosine_similarity(tq.v, tcp.v) DESC, tcp.vec_id) AS rk
             FROM e tq JOIN e tcp ON tcp.vec_id <> tq.vec_id
             WHERE tq.vec_id < 10)
           WHERE rk <= 5),
         tc AS (SELECT count(*) AS n_truth FROM truth),
         hits AS (SELECT d.n_tables, count(t.query_id) AS n_hit
           FROM dials d
           LEFT JOIN approx a ON a.n_tables = d.n_tables
           LEFT JOIN truth t ON t.query_id = a.query_id
             AND t.neighbor_id = a.neighbor_id
           GROUP BY d.n_tables),
         rec AS (SELECT h.n_tables, tc.n_truth, h.n_hit,
             round(CAST(h.n_hit AS DOUBLE) / tc.n_truth, 6) AS recall
           FROM hits h CROSS JOIN tc),
         ch AS (SELECT min(n_tables) AS cd FROM rec WHERE recall >= 0.9)
         SELECT CAST(r.n_tables AS INTEGER) AS n_tables, r.n_truth, r.n_hit,
           r.recall, coalesce(r.n_tables = ch.cd, FALSE) AS chosen
         FROM rec r CROSS JOIN ch
         ORDER BY n_tables"""
    },
    // the engine's cell assignment (cosine argmax, centroid-index ties) and
    // re-rank replicated in SQL over the md5-seeded portable quantizer;
    // list_cosine_similarity's bit-parity with vectors.cosine is already
    // proven by q98's rank-on-raw-cosine hash match
    // PQ replay: seed codebooks = sub-slices of the 16 smallest-md5
    // vectors; sub-distances as nested-order list comprehensions, codes
    // via per-(vector, subspace) argmin, ADC totals as
    // list_sum(list(... ORDER BY j)) — every sum in the same sequential
    // order the native kernel uses, so raw doubles match bit-exactly
    "q168_knn_pq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         seeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM seeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd)
           WHERE rn = 1),
         adc AS (SELECT s.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM codes n JOIN sd s ON s.j = n.j AND s.cell = n.code
           WHERE s.vec_id < 10 AND n.vec_id <> s.vec_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the q168 ADC chain cut at the 50-deep shortlist, then the q24
    // cosine convention re-ranks raw vectors of shortlist rows only
    "q292_knn_pq_rerank" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         seeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM seeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd)
           WHERE rn = 1),
         adc AS (SELECT s.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM codes n JOIN sd s ON s.j = n.j AND s.cell = n.code
           WHERE s.vec_id < 10 AND n.vec_id <> s.vec_id
           GROUP BY 1, 2),
         shortr AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rn
             FROM adc)
           WHERE rn <= 50),
         qv AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10),
         rs AS (SELECT s.query_id, s.neighbor_id,
             list_cosine_similarity(q.qvec, c.v) AS cos_raw
           FROM shortr s JOIN e c ON c.vec_id = s.neighbor_id
           JOIN qv q USING (query_id)),
         rr AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM rs)
         SELECT query_id, neighbor_id, cosine, rank FROM rr WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the q292 chain with the shortlist DERIVED in-oracle: S =
    // greatest(ceil(0.2 * count(*)), 10 * k) — the engine's sizing rule
    // recomputed from the corpus count, so a drifted derivation breaks
    // the hash
    "q297_pq_rerank_scaled" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sl AS (SELECT greatest(CAST(ceil(0.2 * count(*)) AS BIGINT), 50) AS s
           FROM e),
         seeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM seeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd)
           WHERE rn = 1),
         adc AS (SELECT s.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM codes n JOIN sd s ON s.j = n.j AND s.cell = n.code
           WHERE s.vec_id < 10 AND n.vec_id <> s.vec_id
           GROUP BY 1, 2),
         shortr AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rn
             FROM adc)
           WHERE rn <= (SELECT s FROM sl)),
         qv AS (SELECT vec_id AS query_id, v AS qvec FROM e WHERE vec_id < 10),
         rs AS (SELECT s.query_id, s.neighbor_id,
             list_cosine_similarity(q.qvec, c.v) AS cos_raw
           FROM shortr s JOIN e c ON c.vec_id = s.neighbor_id
           JOIN qv q USING (query_id)),
         rr AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM rs)
         SELECT query_id, neighbor_id, cosine, rank FROM rr WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the q168 chain + ONE replayed Lloyd step: assignment = argmin
    // seed sub-distance (ties to the lower cell), update = per
    // (subspace, cell, dim) mean of 6-dp coords as an exact decimal sum
    // divided in double and re-quantized to 6 dp; an empty cell keeps
    // its seed codeword via the LEFT JOIN coalesce — then the identical
    // ADC search under the refined codebooks
    "q291_knn_pq_trained" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         seeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         dss AS (SELECT unnest(generate_series(1, 8)) AS d),
         cw0 AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM seeds s CROSS JOIN js),
         sd0 AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw0 c),
         asg AS (SELECT vec_id, j, cell FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd0)
           WHERE rn = 1),
         mn AS (SELECT a.j, a.cell, dss.d,
             floor(CAST(sum(CAST(floor(e.v[a.j*8 + dss.d] * 1e6 + 0.5) / 1e6
               AS DECIMAL(28,6))) AS DOUBLE) / count(*) * 1e6 + 0.5) / 1e6 AS w
           FROM asg a JOIN e USING (vec_id) CROSS JOIN dss
           GROUP BY 1, 2, 3),
         cw1 AS (SELECT c0.j, c0.cell, coalesce(mw.wl, c0.w) AS w
           FROM cw0 c0 LEFT JOIN
             (SELECT j, cell, list(w ORDER BY d) AS wl FROM mn
              GROUP BY 1, 2) mw
           USING (j, cell)),
         sd1 AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw1 c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd1)
           WHERE rn = 1),
         adc AS (SELECT s.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM codes n JOIN sd1 s ON s.j = n.j AND s.cell = n.code
           WHERE s.vec_id < 10 AND n.vec_id <> s.vec_id
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the q118 probing CTEs + the q168 ADC CTEs, joined: candidates come
    // from the probed cells only, scores stay the fixed-order ADC sums
    "q169_knn_ivfpq" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 8),
         asg AS (SELECT vec_id, icell FROM (
             SELECT e.vec_id, s.icell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.icell) AS rn
             FROM e CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT e.vec_id, s.icell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.icell) AS rn
             FROM e CROSS JOIN ivfseeds s WHERE e.vec_id < 10)
           WHERE rn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell
           WHERE a.vec_id <> p.query_id),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the q169 IVFADC CTEs over the standing/incoming split: models and
    // index codes derive from the STANDING slice only, probes from the
    // incoming slice — the persisted state never appears (provenance
    // invariance, the q284 oracle convention). Shared with q307 (the
    // same probe with the increment ARRIVING as a stream: a query's
    // top-k is row-local given the frozen state, so the streamed sink
    // equals the batch probe under any cut).
    "q299_ann_index_probe" -> annIndexProbeOracle,
    "q307_stream_ann_probe" -> annIndexProbeOracle,

    // q299's probe CTEs at the DERIVED shortlist depth (the q297
    // convention: greatest(10k, ceil(0.02 N)) computed in SQL) and the
    // knee nProbe = 4, then the q304 mining tail: exact cosine rerank,
    // true-top-1 positive exclusion, 0.95 margin — the whole indexed
    // mining chain in one replay
    "q305_hard_negatives_indexed" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM st),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= (SELECT k FROM nc)),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 4),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         short AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM adc)
           WHERE rnk <= (SELECT s FROM sl)),
         p AS (SELECT query_id, neighbor_id AS pos_id FROM
             (SELECT i.vec_id AS query_id, s2.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY i.vec_id
                  ORDER BY list_cosine_similarity(i.v, s2.v) DESC, s2.vec_id) AS rn
              FROM inc i CROSS JOIN st s2)
           WHERE rn = 1),
         ex AS (SELECT sh.query_id, sh.neighbor_id,
             list_cosine_similarity(i.v, s2.v) AS cos_raw
           FROM short sh
           JOIN inc i ON i.vec_id = sh.query_id
           JOIN st s2 ON s2.vec_id = sh.neighbor_id
           LEFT JOIN p ON p.query_id = sh.query_id
                      AND p.pos_id = sh.neighbor_id
           WHERE p.pos_id IS NULL),
         rr AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM ex WHERE cos_raw < 0.95)
         SELECT query_id, neighbor_id, cosine, rank FROM rr WHERE rank <= 5
         ORDER BY query_id, rank""",

    // q305's chain with the SQ8 refine stage spliced between the ADC cut
    // and the exact rerank: ADC ranked 4x deeper, re-scored by the q264
    // exact-decimal dequantized dot under ranges fitted on the STANDING
    // slice (the refine tier's own corpus), cut back to the derived S by
    // (sq8 score DESC, neighbor ASC), then the identical exact tail
    "q312_hard_negatives_refined" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM st),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= (SELECT k FROM nc)),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 4),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         wide AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM adc)
           WHERE rnk <= 4 * (SELECT s FROM sl)),
         sx AS (SELECT vec_id, i,
             CAST(round(v[i], 6) AS DECIMAL(18,6)) AS xq
           FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
                 FROM st)),
         rg AS (SELECT i, min(xq) AS lo, max(xq) AS hi FROM sx GROUP BY i),
         dqc AS (SELECT vec_id, sx.i,
             CAST(lo * 255 + (CASE WHEN hi = lo THEN 0
                  ELSE LEAST(255, GREATEST(0,
                    CAST(floor(CAST((xq - lo) * 255 AS DOUBLE)
                      / CAST(hi - lo AS DOUBLE) + 0.5) AS INTEGER))) END)
               * (hi - lo) AS DECIMAL(18,6)) AS dd
           FROM sx JOIN rg USING (i)),
         qx AS (SELECT vec_id, i,
             CAST(round(v[i], 6) AS DECIMAL(18,6)) AS xq
           FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
                 FROM inc)),
         dqq AS (SELECT vec_id AS query_id, qx.i,
             CAST(lo * 255 + (CASE WHEN hi = lo THEN 0
                  ELSE LEAST(255, GREATEST(0,
                    CAST(floor(CAST((xq - lo) * 255 AS DOUBLE)
                      / CAST(hi - lo AS DOUBLE) + 0.5) AS INTEGER))) END)
               * (hi - lo) AS DECIMAL(18,6)) AS qd
           FROM qx JOIN rg USING (i)),
         sqs AS (SELECT w.query_id, w.neighbor_id,
             CAST(sum(q.qd * c.dd) AS DECIMAL(38,12)) AS sc
           FROM wide w
           JOIN dqq q ON q.query_id = w.query_id
           JOIN dqc c ON c.vec_id = w.neighbor_id AND c.i = q.i
           GROUP BY 1, 2),
         short AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY sc DESC, neighbor_id ASC) AS rnk2
              FROM sqs)
           WHERE rnk2 <= (SELECT s FROM sl)),
         p AS (SELECT query_id, neighbor_id AS pos_id FROM
             (SELECT i.vec_id AS query_id, s2.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY i.vec_id
                  ORDER BY list_cosine_similarity(i.v, s2.v) DESC, s2.vec_id) AS rn
              FROM inc i CROSS JOIN st s2)
           WHERE rn = 1),
         ex AS (SELECT sh.query_id, sh.neighbor_id,
             list_cosine_similarity(i.v, s2.v) AS cos_raw
           FROM short sh
           JOIN inc i ON i.vec_id = sh.query_id
           JOIN st s2 ON s2.vec_id = sh.neighbor_id
           LEFT JOIN p ON p.query_id = sh.query_id
                      AND p.pos_id = sh.neighbor_id
           WHERE p.pos_id IS NULL),
         rr AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM ex WHERE cos_raw < 0.95)
         SELECT query_id, neighbor_id, cosine, rank FROM rr WHERE rank <= 5
         ORDER BY query_id, rank""",

    // q312's refined-probe CTEs with the FULL incoming slice and no
    // mining tail: the ADC ranking 4x deeper than k=5, SQ8 re-score
    // against the persisted refine codes, cut back to 5 BY SQ8 SCORE —
    // gating the STREAMED q313 verbatim (batch-boundary invariance, the
    // q299/q307 argument: the refine reads only frozen persisted state)
    "q313_stream_refined_probe" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM st),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= (SELECT k FROM nc)),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 4),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         wide AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM adc)
           WHERE rnk <= 20),
         sx AS (SELECT vec_id, i,
             CAST(round(v[i], 6) AS DECIMAL(18,6)) AS xq
           FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
                 FROM st)),
         rg AS (SELECT i, min(xq) AS lo, max(xq) AS hi FROM sx GROUP BY i),
         dqc AS (SELECT vec_id, sx.i,
             CAST(lo * 255 + (CASE WHEN hi = lo THEN 0
                  ELSE LEAST(255, GREATEST(0,
                    CAST(floor(CAST((xq - lo) * 255 AS DOUBLE)
                      / CAST(hi - lo AS DOUBLE) + 0.5) AS INTEGER))) END)
               * (hi - lo) AS DECIMAL(18,6)) AS dd
           FROM sx JOIN rg USING (i)),
         qx AS (SELECT vec_id, i,
             CAST(round(v[i], 6) AS DECIMAL(18,6)) AS xq
           FROM (SELECT vec_id, v, unnest(generate_series(1, 64)) AS i
                 FROM inc)),
         dqq AS (SELECT vec_id AS query_id, qx.i,
             CAST(lo * 255 + (CASE WHEN hi = lo THEN 0
                  ELSE LEAST(255, GREATEST(0,
                    CAST(floor(CAST((xq - lo) * 255 AS DOUBLE)
                      / CAST(hi - lo AS DOUBLE) + 0.5) AS INTEGER))) END)
               * (hi - lo) AS DECIMAL(18,6)) AS qd
           FROM qx JOIN rg USING (i)),
         sqs AS (SELECT w.query_id, w.neighbor_id,
             CAST(sum(q.qd * c.dd) AS DECIMAL(38,12)) AS sc
           FROM wide w
           JOIN dqq q ON q.query_id = w.query_id
           JOIN dqc c ON c.vec_id = w.neighbor_id AND c.i = q.i
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id,
             CAST(round(sc, 6) AS DOUBLE) + 0 AS sq8_score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sc DESC, neighbor_id ASC) AS INTEGER) AS rank
           FROM sqs)
         SELECT query_id, neighbor_id, sq8_score, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // q182's BM25 CTEs verbatim, then the hybrid tail: PRF query vector
    // = per-dim DECIMAL sum of the bm25-top-3 embeddings (no division —
    // cosine is scale-invariant), dense rank by list_cosine_similarity,
    // RRF contributions rounded to 6dp and decimal-summed. No 1/(60+r)
    // lands on a rounding half-boundary: the only terminating value is
    // 1/64, exact at 6 places
    "q310_hybrid_rrf" ->
      raw"""WITH d0 AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM documents WHERE text IS NOT NULL),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(len(arr)) AS DOUBLE) AS dls FROM d0),
        tok AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS dl,
            unnest(arr) AS token FROM d0),
        tf AS (SELECT doc_id, token, dl, count(*) AS tf
          FROM tok GROUP BY 1, 2, 3),
        qq AS (SELECT * FROM (VALUES $bm25QueriesLit) AS t(query_id, qtext)),
        qt AS (SELECT DISTINCT query_id,
            unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}_]+'),
              x -> x <> '')) AS token
          FROM qq),
        dfq AS (SELECT token, count(*) AS df FROM tf
          WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
        sc AS (SELECT qt.query_id, tf.doc_id,
            CAST(round((st.n + 1.0) / (dfq.df + 0.5) *
              (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 +
                0.75 * tf.dl * st.n / st.dls))), 6) AS DECIMAL(18,6)) AS ts
          FROM qt JOIN tf USING (token) JOIN dfq USING (token) CROSS JOIN st),
        tot AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
          FROM sc GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rnk
          FROM tot),
        top3 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
        pd AS (SELECT t.query_id, dims.dim,
            CAST(sum(CAST(e.v[dims.dim] AS DECIMAL(18,8))) AS DOUBLE) AS sv
          FROM top3 t JOIN ev e ON e.vec_id = t.doc_id CROSS JOIN dims
          GROUP BY 1, 2),
        qv AS (SELECT query_id, list(sv ORDER BY dim) AS qvec
          FROM pd GROUP BY 1),
        dsc AS (SELECT q.query_id, e.vec_id AS doc_id,
            list_cosine_similarity(q.qvec, e.v) AS cs
          FROM qv q CROSS JOIN ev e),
        dr AS (SELECT query_id, doc_id, row_number() OVER
            (PARTITION BY query_id ORDER BY cs DESC, doc_id) AS drk
          FROM dsc),
        c AS (SELECT query_id, doc_id,
            CAST(round(1.0 / (60 + rnk), 6) AS DECIMAL(18,6)) AS c
          FROM r WHERE rnk <= 10
          UNION ALL
          SELECT query_id, doc_id,
            CAST(round(1.0 / (60 + drk), 6) AS DECIMAL(18,6)) AS c
          FROM dr WHERE drk <= 10),
        f AS (SELECT query_id, doc_id, CAST(sum(c) AS DOUBLE) AS rrf_score
          FROM c GROUP BY 1, 2),
        fr AS (SELECT query_id, doc_id, rrf_score, row_number() OVER
            (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
          FROM f)
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_score,
          CAST(rank AS INTEGER) AS rank
        FROM fr WHERE rank <= 10 ORDER BY query_id, rank""",

    // q310's BM25 + PRF CTEs restricted to the standing slice, then the
    // q299/q305 index chain (derived nCells + derived shortlist depth,
    // nProbe 4) probed BY THE PRF VECTOR, exact cosine rerank of the ADC
    // shortlist, and the same RRF tail
    "q311_hybrid_indexed" ->
      raw"""WITH d0 AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 2),
        st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(len(arr)) AS DOUBLE) AS dls FROM d0),
        tok AS (SELECT doc_id, CAST(len(arr) AS BIGINT) AS dl,
            unnest(arr) AS token FROM d0),
        tf AS (SELECT doc_id, token, dl, count(*) AS tf
          FROM tok GROUP BY 1, 2, 3),
        qq AS (SELECT * FROM (VALUES $bm25QueriesLit) AS t(query_id, qtext)),
        qt AS (SELECT DISTINCT query_id,
            unnest(list_filter(regexp_split_to_array(lower(qtext), '[^\p{L}\p{N}_]+'),
              x -> x <> '')) AS token
          FROM qq),
        dfq AS (SELECT token, count(*) AS df FROM tf
          WHERE token IN (SELECT DISTINCT token FROM qt) GROUP BY 1),
        sc AS (SELECT qt.query_id, tf.doc_id,
            CAST(round((st.n + 1.0) / (dfq.df + 0.5) *
              (tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * (1.0 - 0.75 +
                0.75 * tf.dl * st.n / st.dls))), 6) AS DECIMAL(18,6)) AS ts
          FROM qt JOIN tf USING (token) JOIN dfq USING (token) CROSS JOIN st),
        tot AS (SELECT query_id, doc_id, CAST(sum(ts) AS DOUBLE) AS score
          FROM sc GROUP BY 1, 2),
        r AS (SELECT query_id, doc_id, score,
            row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS rnk
          FROM tot),
        top3 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        se AS (SELECT * FROM ev WHERE vec_id % 5 <> 2),
        dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
        pd AS (SELECT t.query_id, dims.dim,
            CAST(sum(CAST(e.v[dims.dim] AS DECIMAL(18,8))) AS DOUBLE) AS sv
          FROM top3 t JOIN ev e ON e.vec_id = t.doc_id CROSS JOIN dims
          GROUP BY 1, 2),
        qv AS (SELECT query_id, list(sv ORDER BY dim) AS qvec
          FROM pd GROUP BY 1),
        nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
          FROM se),
        slsz AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 100) AS s
          FROM se),
        ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
            (SELECT v, row_number() OVER
               (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM se)
          WHERE rn <= (SELECT k FROM nc)),
        asg AS (SELECT vec_id, icell FROM (
            SELECT se.vec_id, s.icell,
              row_number() OVER (PARTITION BY se.vec_id
                ORDER BY list_cosine_similarity(se.v, s.c_vec) DESC, s.icell) AS rn
            FROM se CROSS JOIN ivfseeds s)
          WHERE rn = 1),
        probes AS (SELECT query_id, icell FROM (
            SELECT q.query_id, s.icell,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.qvec, s.c_vec) DESC, s.icell) AS rn
            FROM qv q CROSS JOIN ivfseeds s)
          WHERE rn <= 4),
        cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN asg a ON p.icell = a.icell),
        pqseeds AS (SELECT v AS sv2, rn - 1 AS cell FROM
            (SELECT v, row_number() OVER
               (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM se)
          WHERE rn <= 16),
        js AS (SELECT unnest(generate_series(0, 7)) AS j),
        cw AS (SELECT js.j, s.cell, s.sv2[js.j*8 + 1 : js.j*8 + 8] AS w
          FROM pqseeds s CROSS JOIN js),
        sdc AS (SELECT se.vec_id, c.j, c.cell,
            list_sum([ (se.v[c.j*8 + d] - c.w[d]) * (se.v[c.j*8 + d] - c.w[d])
                       for d in generate_series(1, 8) ]) AS sdist
          FROM se CROSS JOIN cw c),
        codes AS (SELECT vec_id, j, cell AS code FROM (
            SELECT vec_id, j, cell, row_number() OVER
              (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
            FROM sdc)
          WHERE rn = 1),
        sdq AS (SELECT q.query_id, c.j, c.cell,
            list_sum([ (q.qvec[c.j*8 + d] - c.w[d]) * (q.qvec[c.j*8 + d] - c.w[d])
                       for d in generate_series(1, 8) ]) AS sdist
          FROM qv q CROSS JOIN cw c),
        adc AS (SELECT c.query_id, c.neighbor_id,
            list_sum(list(s.sdist ORDER BY s.j)) AS dist
          FROM cand c
          JOIN codes n ON n.vec_id = c.neighbor_id
          JOIN sdq s ON s.query_id = c.query_id AND s.j = n.j
                    AND s.cell = n.code
          GROUP BY 1, 2),
        short AS (SELECT query_id, neighbor_id FROM
            (SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
             FROM adc)
          WHERE rnk <= (SELECT s FROM slsz)),
        dsc AS (SELECT sh.query_id, sh.neighbor_id AS doc_id,
            list_cosine_similarity(q.qvec, se.v) AS cs
          FROM short sh
          JOIN qv q ON q.query_id = sh.query_id
          JOIN se ON se.vec_id = sh.neighbor_id),
        dr AS (SELECT query_id, doc_id, row_number() OVER
            (PARTITION BY query_id ORDER BY cs DESC, doc_id) AS drk
          FROM dsc),
        c AS (SELECT query_id, doc_id,
            CAST(round(1.0 / (60 + rnk), 6) AS DECIMAL(18,6)) AS c
          FROM r WHERE rnk <= 10
          UNION ALL
          SELECT query_id, doc_id,
            CAST(round(1.0 / (60 + drk), 6) AS DECIMAL(18,6)) AS c
          FROM dr WHERE drk <= 10),
        f AS (SELECT query_id, doc_id, CAST(sum(c) AS DOUBLE) AS rrf_score
          FROM c GROUP BY 1, 2),
        fr AS (SELECT query_id, doc_id, rrf_score, row_number() OVER
            (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rank
          FROM f)
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_score,
          CAST(rank AS INTEGER) AS rank
        FROM fr WHERE rank <= 10 ORDER BY query_id, rank""",

    // the q305 probe chain ranked once, then the sweep: dials are
    // multiples of the derived S (prefix cuts of ONE ADC ranking — the
    // q296 nesting convention), each dial's mined list reranked exactly
    // with the q304 exclusions and scored against the exact mining
    // truth; recall = n_hit/n_truth through DECIMAL (n_truth = 50, so
    // the quotient terminates within 6 places in both engines)
    "q309_mining_autotune" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM st),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= (SELECT k FROM nc)),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 4),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM st)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         ranked AS (SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS rnk
           FROM adc),
         dials AS (SELECT (SELECT s FROM sl) * m AS ds
           FROM (SELECT unnest([1, 2, 4]) AS m)),
         sfull AS (SELECT i.vec_id AS query_id, s2.vec_id AS neighbor_id,
             list_cosine_similarity(i.v, s2.v) AS cos_raw
           FROM inc i CROSS JOIN st s2),
         p AS (SELECT query_id, neighbor_id AS pos_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS rn
              FROM sfull)
           WHERE rn = 1),
         truthm AS (SELECT query_id, neighbor_id FROM
             (SELECT f.query_id, f.neighbor_id, row_number() OVER
                (PARTITION BY f.query_id
                 ORDER BY f.cos_raw DESC, f.neighbor_id) AS rn
              FROM (SELECT sfull.* FROM sfull
                    LEFT JOIN p ON p.query_id = sfull.query_id
                               AND p.pos_id = sfull.neighbor_id
                    WHERE p.pos_id IS NULL AND cos_raw < 0.95) f)
           WHERE rn <= 5),
         minedd AS (SELECT ds, query_id, neighbor_id FROM
             (SELECT d.ds, r2.query_id, r2.neighbor_id,
                row_number() OVER (PARTITION BY d.ds, r2.query_id
                  ORDER BY r2.cos_raw DESC, r2.neighbor_id) AS rn
              FROM (SELECT rk.query_id, rk.neighbor_id, rk.rnk, sf.cos_raw
                    FROM ranked rk
                    JOIN sfull sf ON sf.query_id = rk.query_id
                                 AND sf.neighbor_id = rk.neighbor_id
                    LEFT JOIN p ON p.query_id = rk.query_id
                               AND p.pos_id = rk.neighbor_id
                    WHERE p.pos_id IS NULL AND sf.cos_raw < 0.95) r2
              JOIN dials d ON r2.rnk <= d.ds)
           WHERE rn <= 5),
         nt AS (SELECT count(*) AS n_truth FROM truthm),
         hitsj AS (SELECT m.ds, count(*) AS n_hit FROM minedd m
           JOIN truthm t ON t.query_id = m.query_id
                        AND t.neighbor_id = m.neighbor_id
           GROUP BY 1),
         res AS (SELECT d.ds, coalesce(h.n_hit, 0) AS n_hit
           FROM dials d LEFT JOIN hitsj h ON h.ds = d.ds),
         ch AS (SELECT min(ds) AS c FROM res, nt
           WHERE CAST(CAST(n_hit AS DECIMAL(18,6)) / nt.n_truth AS DOUBLE)
             >= 0.7)
         SELECT CAST(r.ds AS INTEGER) AS shortlist_s,
           CAST(nt.n_truth AS BIGINT) AS n_truth,
           CAST(r.n_hit AS BIGINT) AS n_hit,
           CAST(CAST(r.n_hit AS DECIMAL(18,6)) / nt.n_truth AS DOUBLE)
             AS recall,
           coalesce(r.ds = (SELECT c FROM ch), false) AS chosen
         FROM res r, nt ORDER BY shortlist_s""",

    // the q301 replay with the Han derivation (q281's corpus CTE form)
    // and the ideographic separator; md5 runs over the same UTF-8 bytes
    // in both engines, lower/trim are no-ops on Han
    "q308_cjk_paragraph_dedup" ->
      raw"""WITH b AS (SELECT doc_id,
             translate(regexp_replace(lower(text), '\s+', '', 'g'),
               'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             || '。$hanFooterPrefix'
             || translate(source, 'abcdefghijklmnopqrstuvwxyz', '$hanAlphabet')
             || (CASE WHEN doc_id % 10 = 0
                      THEN '。$hanNewsletter' ELSE '' END) AS text
           FROM documents WHERE text IS NOT NULL AND doc_id % 2 = 0),
         sp AS (SELECT doc_id, regexp_split_to_array(text, '。') AS sg FROM b),
         e AS (SELECT doc_id, i - 1 AS seg_ord, sg[i] AS seg
           FROM (SELECT doc_id, sg,
               unnest(generate_series(1, len(sg))) AS i FROM sp)
           WHERE sg[i] <> ''),
         w AS (SELECT doc_id, seg_ord, seg,
             row_number() OVER (PARTITION BY md5(lower(trim(seg)))
               ORDER BY doc_id, seg_ord) AS rn
           FROM e),
         a AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(array_to_string(
               list(seg ORDER BY seg_ord) FILTER (WHERE rn = 1), '。'), '')
               AS clean_text
           FROM w GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_total, 0) AS n_total, coalesce(a.n_kept, 0) AS n_kept
         FROM b LEFT JOIN a ON a.doc_id = b.doc_id ORDER BY b.doc_id""",

    // the triplet builder's full replay: hygiene gate, same-label
    // positive/exclusion set, q304's margin+anti-join tail, margins
    // subtracted from the two rounded cosines
    "q306_retrieval_triplets" ->
      """WITH d AS (SELECT doc_id FROM documents
               WHERE text IS NOT NULL AND n_chars >= 50),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
               FROM embeddings JOIN d ON vec_id = doc_id),
         q AS (SELECT vec_id AS query_id, v AS qv, label AS qlab
               FROM e WHERE vec_id < 10),
         sl AS (SELECT q.query_id, e.vec_id AS pos_id
               FROM q JOIN e ON e.label = q.qlab AND e.vec_id <> q.query_id),
         pos AS (SELECT query_id, min(pos_id) AS pos_id FROM sl GROUP BY 1),
         s AS (SELECT query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(qv, e.v) AS cos_raw
               FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         f AS (SELECT s.query_id, s.neighbor_id, s.cos_raw FROM s
               LEFT JOIN sl ON sl.query_id = s.query_id
                           AND sl.pos_id = s.neighbor_id
               WHERE sl.pos_id IS NULL AND s.cos_raw < 0.95),
         r AS (SELECT query_id, neighbor_id AS neg_id,
                 round(cos_raw, 6) + 0 AS neg_cos,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
               FROM f),
         pc AS (SELECT q.query_id, pos.pos_id,
                 round(list_cosine_similarity(q.qv, pe.v), 6) + 0 AS pos_cos
               FROM q JOIN pos USING (query_id)
                      JOIN e pe ON pe.vec_id = pos.pos_id)
         SELECT r.query_id, pc.pos_id, r.neg_id, r.rank,
           pc.pos_cos, r.neg_cos, pc.pos_cos - r.neg_cos AS margin
         FROM r JOIN pc USING (query_id) WHERE r.rank <= 3
         ORDER BY query_id, rank""",

    // corpus-level keep-first paragraph dedup (shared with the q303
    // streamed twin — see paragraphDedupOracle's scaladoc)
    "q301_paragraph_dedup" -> paragraphDedupOracle,
    "q303_stream_paragraph_dedup" -> paragraphDedupOracle,

    // q301 in remove-frequent-lines mode: keep requires BOTH first
    // occurrence AND corpus frequency <= 3, so the planted footer (~50
    // copies) and newsletter (~100) vanish entirely
    "q302_boilerplate_filter" ->
      raw"""WITH b AS (SELECT doc_id,
             text || '. shared footer for ' || source ||
             (CASE WHEN doc_id % 5 = 0
                   THEN '. subscribe to our newsletter today' ELSE '' END)
               AS text
           FROM documents WHERE text IS NOT NULL),
         sp AS (SELECT doc_id, regexp_split_to_array(text, '\. ') AS sg FROM b),
         e AS (SELECT doc_id, i - 1 AS seg_ord, sg[i] AS seg
           FROM (SELECT doc_id, sg,
               unnest(generate_series(1, len(sg))) AS i FROM sp)
           WHERE sg[i] <> ''),
         w AS (SELECT doc_id, seg_ord, seg,
             (row_number() OVER (PARTITION BY md5(lower(trim(seg)))
                ORDER BY doc_id, seg_ord) = 1
              AND count(*) OVER (PARTITION BY md5(lower(trim(seg)))) <= 3)
               AS keep
           FROM e),
         a AS (SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             coalesce(array_to_string(
               list(seg ORDER BY seg_ord) FILTER (WHERE keep), '. '), '')
               AS clean_text
           FROM w GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_total, 0) AS n_total, coalesce(a.n_kept, 0) AS n_kept
         FROM b LEFT JOIN a ON a.doc_id = b.doc_id ORDER BY b.doc_id""",

    // q299's CTEs with models seeded from the BASE 80% only: appended
    // rows (the standing fifth) encode under the SAME base formulas —
    // append-then-probe replays exactly like rebuild-then-probe
    "q300_ann_index_append" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         base AS (SELECT * FROM st WHERE vec_id % 25 < 20),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         ivfseeds AS (SELECT v AS c_vec, rn - 1 AS icell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM base)
           WHERE rn <= 8),
         asg AS (SELECT vec_id, icell FROM (
             SELECT st.vec_id, s.icell,
               row_number() OVER (PARTITION BY st.vec_id
                 ORDER BY list_cosine_similarity(st.v, s.c_vec) DESC, s.icell) AS rn
             FROM st CROSS JOIN ivfseeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell),
         pqseeds AS (SELECT v AS sv, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM base)
           WHERE rn <= 16),
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM pqseeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM sd WHERE vec_id % 5 <> 2)
           WHERE rn = 1),
         adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2),
         r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    "q118_knn_ivf_portable" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         seeds AS (SELECT v AS c_vec, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 8),
         asg AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, s.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.cell) AS rn
             FROM e CROSS JOIN seeds s)
           WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cell FROM (
             SELECT e.vec_id, s.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.cell) AS rn
             FROM e CROSS JOIN seeds s WHERE e.vec_id < 10)
           WHERE rn <= 2),
         cand AS (SELECT DISTINCT query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.cell = a.cell
           WHERE a.vec_id <> p.query_id),
         sc AS (SELECT query_id, neighbor_id,
             list_cosine_similarity(eq.v, ec.v) AS cos_raw
           FROM cand
           JOIN e eq ON eq.vec_id = query_id
           JOIN e ec ON ec.vec_id = neighbor_id),
         r AS (SELECT query_id, neighbor_id, round(cos_raw, 6) + 0 AS cosine,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY cos_raw DESC, neighbor_id) AS INTEGER) AS rank
           FROM sc)
         SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",
    // the q118 IVF replay swept over the dial ladder: one ranked-cells
    // CTE serves every dial (rn <= n_probe), truth = q24's brute-force
    // top-5, recall over integer pair counts, chosen = min dial >= 0.9
    "q295_ivf_autotune" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         seeds AS (SELECT v AS c_vec, rn - 1 AS cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM e)
           WHERE rn <= 8),
         asg AS (SELECT vec_id, cell FROM (
             SELECT e.vec_id, s.cell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.cell) AS rn
             FROM e CROSS JOIN seeds s)
           WHERE rn = 1),
         ranked AS (SELECT e.vec_id AS query_id, s.cell,
             row_number() OVER (PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.cell) AS rn
           FROM e CROSS JOIN seeds s WHERE e.vec_id < 10),
         dials AS (SELECT unnest([1,2,4,8]) AS n_probe),
         cand AS (SELECT DISTINCT d.n_probe, r.query_id, a.vec_id AS neighbor_id
           FROM dials d
           JOIN ranked r ON r.rn <= d.n_probe
           JOIN asg a ON a.cell = r.cell
           WHERE a.vec_id <> r.query_id),
         approx AS (SELECT n_probe, query_id, neighbor_id FROM (
             SELECT c.n_probe, c.query_id, c.neighbor_id,
               row_number() OVER (PARTITION BY c.n_probe, c.query_id
                 ORDER BY list_cosine_similarity(eq.v, ec.v) DESC, c.neighbor_id) AS rk
             FROM cand c JOIN e eq ON eq.vec_id = c.query_id
               JOIN e ec ON ec.vec_id = c.neighbor_id)
           WHERE rk <= 5),
         truth AS (SELECT query_id, neighbor_id FROM (
             SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) AS rk
             FROM e q JOIN e c ON c.vec_id <> q.vec_id
             WHERE q.vec_id < 10)
           WHERE rk <= 5),
         tc AS (SELECT count(*) AS n_truth FROM truth),
         hits AS (SELECT d.n_probe, count(t.query_id) AS n_hit
           FROM dials d
           LEFT JOIN approx a ON a.n_probe = d.n_probe
           LEFT JOIN truth t ON t.query_id = a.query_id
             AND t.neighbor_id = a.neighbor_id
           GROUP BY d.n_probe),
         rec AS (SELECT h.n_probe, tc.n_truth, h.n_hit,
             round(CAST(h.n_hit AS DOUBLE) / tc.n_truth, 6) AS recall
           FROM hits h CROSS JOIN tc),
         ch AS (SELECT min(n_probe) AS cd FROM rec WHERE recall >= 0.9)
         SELECT CAST(r.n_probe AS INTEGER) AS n_probe, r.n_truth, r.n_hit,
           r.recall, coalesce(r.n_probe = ch.cd, FALSE) AS chosen
         FROM rec r CROSS JOIN ch
         ORDER BY n_probe""",
    "q97_jsonl_roundtrip" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         user_id, event_type, value FROM events ORDER BY event_id""",
    // the oracle is the SOURCE table exploded per component (float ->
    // double widening is exact in both engines), so any bit lost in the
    // JSONL round trip breaks the hash
    "q268_embedding_jsonl_roundtrip" ->
      """SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
           CAST(e[i] AS DOUBLE) AS x
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 unnest(generate_series(1, len(embedding))) AS i
               FROM embeddings)
         ORDER BY vec_id, i""",
    "q136_orc_roundtrip" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         user_id, event_type, value FROM events ORDER BY event_id""",
    // UNION ALL melt: portable across engines (DuckDB's UNPIVOT keyword
    // would also work, but the long form pins column naming exactly)
    "q99_unpivot" ->
      """WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
           FROM lineitem WHERE l_orderkey < 100)
         SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM src
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
         ORDER BY l_orderkey, l_linenumber, metric""",
    // full recompute over the post-delta table — the refresh path must
    // match it bit-exactly (decimal-routed delta arithmetic)
    "q102_incremental_agg" ->
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS g, o_totalprice AS v
             FROM orders),
         base AS (SELECT * FROM o WHERE o_orderkey % 50 <> 0),
         newt AS (
           SELECT g, v FROM base WHERE o_orderkey % 97 <> 0
           UNION ALL SELECT g, v + 500.0 FROM base WHERE o_orderkey % 97 = 0
           UNION ALL SELECT g, v FROM o WHERE o_orderkey % 50 = 0)
         SELECT g, count(*) AS n,
           CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
         FROM newt GROUP BY g ORDER BY g""",
    // the recompute oracle: the incrementally maintained view must equal
    // the one-shot aggregate bit-exactly
    "q103_stream_matview" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q104_schema_evolution" ->
      """SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
             AS o_orderpriority
         FROM orders ORDER BY o_orderkey""",
    "q101_partition_pruning" ->
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q100_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
         CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
         CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                 (o_orderstatus, o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
                  o_orderpriority NULLS FIRST""")
}
