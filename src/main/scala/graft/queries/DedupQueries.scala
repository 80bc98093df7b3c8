package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Decontaminate, Dedup}
import graft.functions.{text, vectors}
import graft.ops.Ops

/** Deduplication and decontamination: exact, MinHash, SimHash, substring,
  * paragraph, containment and resemblance screens, their capped and
  * script-aware (CJK) variants, soft dedup weights, and the ingest-time
  * probes against standing state with their streamed twins.
  */
object DedupQueries extends Family {
  import Shared._

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

  val cases: Seq[Case] = Seq(

    Case("q20_dedup_exact", (s, d) => {
      Dedup.exact(t(s, d, "documents"), cols = Seq("text"), idCol = "doc_id")
        .select(col("doc_id"), col("dup_count"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_count
         FROM documents GROUP BY text ORDER BY doc_id""")),

    Case("q21_dedup_minhash", (s, d) => {
      // fanOut: shingle hashing + signatures are row-local pre-exchange
      Dedup.minhashDedup(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }, oracle = Some(
      // q21/q23: the LSH stages are candidate generators only — the emitted
      // pairs are EXACT-verified (jaccard over full gram sets), so whenever LSH
      // recall on the dataset is complete, the output equals the brute-force
      // pair set this SQL computes. Verified complete on the driver's fixtures
      // (planted near-dups sit at j >= 0.92; banding recall there ~= 1).
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
         ORDER BY doc_id""")),

    Case("q64_dedup_increment", (s, d) => {
      // incremental dedup: increment (doc_id >= 400) deduped against the
      // standing corpus (doc_id < 400) plus itself; corpus never rescanned
      val docs = t(s, d, "documents")
      Dedup.minhashDedupAgainst(
        docs.where(col("doc_id") >= 400), docs.where(col("doc_id") < 400),
        "doc_id", "text", threshold = 0.6)
        .select(col("doc_id")).orderBy("doc_id")
    }, oracle = Some(
      // same brute-force pair CTE as q21; an increment row (id >= 400) drops
      // iff some pair has it as the LARGER side with jaccard >= 0.6 — the
      // partner is then either a corpus doc (< 400) or a smaller increment id
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
         ORDER BY doc_id""")),

    Case("q22_dedup_simhash", (s, d) => {
      // portable md5-based variant so the bit-vote algorithm hash-matches a
      // DuckDB oracle; the one-pass xxhash64 fast path (Dedup.simhash) and
      // the hamming-banded pair generator stay engine-tested in DedupSpec
      Dedup.simhashPortable(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text")
        .orderBy("doc_id")
    }, oracle = Some(
      // portable simhash: 60-bit md5 token hash, multiplicity-weighted bit
      // votes, tie (vote sum 0) -> bit 0; tokenless docs -> 0 via LEFT JOIN
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
         ORDER BY d.doc_id""")),

    Case("q67_decontaminate", (s, d) => {
      // benchmark decontamination: every doc sharing an 8-token shingle with
      // the "benchmark" subset (doc_id % 10 == 0) is dropped — including the
      // benchmark docs themselves and their planted near-dups
      val docs = t(s, d, "documents")
      Decontaminate(docs, "doc_id", "text",
        benchmark = docs.where(col("doc_id") % 10 === 0), benchTextCol = "text",
        n = 8)
        .select(col("doc_id")).orderBy("doc_id")
    }, oracle = Some(
      // same 8-token shingle definition as the q21 3-shingle CTE; benchmark =
      // doc_id % 10 == 0; any shared shingle contaminates
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
         ORDER BY doc_id""")),

    Case("q121_contamination_spans", (s, d) => {
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
    }, oracle = Some(
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
         ORDER BY doc_id, bench_id""")),

    Case("q71_stream_corpus_dedup", (s, d) => {
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
    }, oracle = Some(
      // identical semantics to q21 (the streaming path is batch-boundary-
      // invariant by construction — see CorpusStreams): same oracle SQL
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
         ORDER BY doc_id""")),

    Case("q139_dedup_keep_best", (s, d) => {
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
    }, oracle = Some(
      // q70's component CTEs + per-component keep-longest representative
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
         ORDER BY r.component""")),

    Case("q70_dedup_components", (s, d) => {
      // transitive near-dup clustering: every doc labeled with the min id
      // reachable through verified minhash pairs (singletons label themselves)
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      val cc = Dedup.connectedComponents(
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.6))
      Dedup.labelComponents(docs.select(col("doc_id")), cc, "doc_id")
        .select(col("doc_id"), col("component"))
        .orderBy("doc_id")
    }, oracle = Some(
      // q21's exact-pair CTE + recursive transitive closure; component = min
      // reachable id (self included), singletons label themselves via LEFT JOIN
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
         ORDER BY d.doc_id""")),

    Case("q293_soft_dedup", (s, d) => {
      // SOFT dedup: every document kept, weighted 1/|near-dup cluster| —
      // the sampling-time alternative to dropping (a weighted sampler
      // sees each cluster contribute ~one document-equivalent while
      // intra-cluster variety survives). Same clusters as q70 by
      // construction (shared pair + component machinery), so the oracle
      // is q70's chain + one count + one division
      Dedup.softDedupWeights(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .orderBy("doc_id")
    }, oracle = Some(
      // q70's component CTEs + per-component size and the 1/size weight
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
         ORDER BY l.doc_id""")),

    Case("q23_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccardPairs(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", n = 5, threshold = 0.8)
        .orderBy("id_l", "id_r")
    }, oracle = Some(
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
         ORDER BY id_l, id_r""")),

    Case("q107_exact_substring", (s, d) => {
      // exact-substring dedup pairs (Lee et al. 2021): docs sharing a
      // 12-token exact run, joined on the window string itself
      Dedup.exactSubstringPairs(fanOut(s, t(s, d, "documents"), "doc_id", parts = 8),
          "doc_id", "text", windowTokens = 12)
        .orderBy("id_l", "id_r")
    }, oracle = Some(
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
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Case("q116_exact_substring_apply", (s, d) => {
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
    }, oracle = Some(
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
         ORDER BY tok.doc_id""")),

    Case("q120_substring_dedup_incr", (s, d) => {
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
    }, oracle = Some(
      // corpus ids precede batch ids, so the incremental apply equals the
      // one-shot keep-first dedup (q116's oracle) restricted to the batch
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
         ORDER BY tok.doc_id""")),

    Case("q308_cjk_paragraph_dedup", (s, d) => {
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
    }, oracle = Some(
      // the q301 replay with the Han derivation (q281's corpus CTE form)
      // and the ideographic separator; md5 runs over the same UTF-8 bytes
      // in both engines, lower/trim are no-ops on Han
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
         FROM b LEFT JOIN a ON a.doc_id = b.doc_id ORDER BY b.doc_id""")),

    Case("q301_paragraph_dedup", (s, d) => {
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
    }, oracle = Some(
      // corpus-level keep-first paragraph dedup (shared with the q303
      // streamed twin — see paragraphDedupOracle's scaladoc)
      paragraphDedupOracle)),

    Case("q302_boilerplate_filter", (s, d) => {
      // the q301 screen in remove-frequent-lines mode: a segment whose
      // corpus frequency exceeds 3 drops EVERYWHERE (even its first
      // occurrence) — the boilerplate filter that strips site footers and
      // cookie banners a keep-first dedup would still leak once per
      // cluster. On the q301 fixture both planted lines exceed the
      // threshold, so every doc must come back as exactly its unique body.
      Dedup.paragraphDedup(synthSegmentedDocs(s, d), "doc_id", "text",
          dropAboveCount = Some(3L))
        .orderBy("doc_id")
    }, oracle = Some(
      // q301 in remove-frequent-lines mode: keep requires BOTH first
      // occurrence AND corpus frequency <= 3, so the planted footer (~50
      // copies) and newsletter (~100) vanish entirely
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
         FROM b LEFT JOIN a ON a.doc_id = b.doc_id ORDER BY b.doc_id""")),

    Case("q303_stream_paragraph_dedup", (s, d) => {
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
    }, oracle = Some(paragraphDedupOracle)),

    Case("q52_embed_neardup", (s, d) => {
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
    }, oracle = Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings
                    UNION ALL
                    SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings),
         p AS (SELECT a.vec_id AS id_l, b.vec_id AS id_r,
                 list_cosine_similarity(a.ev, b.ev) AS c
               FROM e a JOIN e b ON a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.ev, b.ev) >= 0.95)
         SELECT id_l, id_r, round(c, 6) AS cosine FROM p ORDER BY id_l, id_r""")),

    Case("q159_lsh_cap_audit", (s, d) => {
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
    }, oracle = Some(
      // the portable-md5 minhash/banding replay: permutations 2g/2g+1 of a
      // shingle = the [1,15]/[16,30] 60-bit slices of md5(g ':' shingle),
      // band key = md5 over the comma-joined signature slice — bucket
      // sizes rebuilt bit-for-bit
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
         ORDER BY band, bh""")),

    Case("q199_allpairs_jaccard", (s, d) => {
      // EXACT set-similarity self-join at 0.9 token Jaccard via prefix
      // filtering: zero false negatives (contrast the q21/q23 MinHash
      // recall curve); candidates come only from rare-token prefixes,
      // verification is row-local array_intersect on candidate pairs
      Dedup.allPairsJaccard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.9)
        .orderBy("id_l", "id_r")
    }, oracle = Some(
      // naive exact replay: distinct 3-word-shingle sets, full pair
      // intersection counts, the identical double ratio and threshold —
      // the prefix filter must lose NOTHING for this to hash-match
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
         WHERE jac >= 0.9 ORDER BY id_l, id_r""")),

    Case("q294_soft_savings", (s, d) => {
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
    }, oracle = Some(
      // the q293 weight chain + whitespace token mass, rolled up by source
      // with the decimal-routed weighted sum
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
         GROUP BY 1 ORDER BY t.source""")),

    Case("q298_soft_weighted_sample", (s, d) => {
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
    }, oracle = Some(
      // the q293 weight chain, then priority = md5-32bit(doc_id) x
      // cluster_size ascending (tie doc_id), first 120 kept — the
      // weighted-sampler replay over the replayed weights
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
         FROM sel ORDER BY doc_id""")),

    Case("q274_containment_cap_audit", (s, d) => {
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
    }, oracle = Some(
      // replay shingle->md5 hash->doc-level df->rarest-first prefix slice
      // (floor((1-tau)*|set|)+2, the engine's double arithmetic verbatim)
      // and the df > maxDf cut — the audit is fully SQL-rebuildable
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
         FROM pref WHERE dfv > 1 GROUP BY 1, 2 ORDER BY token""")),

    Case("q284_resemblance_probe_persisted", (s, d) => {
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
    }, oracle = Some(
      // ...and their persisted-state twins: state provenance (fresh build
      // vs disk load) cannot change per-doc results, so the ONE naive
      // oracle gates all four probe faces
      resemblanceProbeOracle)),

    Case("q285_stream_resemblance_persisted", (s, d) => {
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
    }, oracle = Some(resemblanceProbeOracle)),

    Case("q288_cjk_dedup_minhash", (s, d) => {
      // the APPROXIMATE screen made script-aware: MinHash+LSH dedup with
      // per-doc CharGramRouting over the q281 corpus — the incremental
      // production dedup path (q21/q64/q71) was CJK-blind before
      // routing existed (a Han doc = ONE word shingle). Oracle = exact
      // routed-gram Jaccard keep-first survivors (the q21 convention:
      // banding recall must hold on the fixture's high-similarity dups)
      Dedup.minhashDedup(cjkCorpus(s, d), "doc_id", "text",
          threshold = 0.7, route = Some(Dedup.CharGramRouting()))
        .select(col("doc_id")).orderBy("doc_id")
    }, oracle = Some(
      // exact routed-gram Jaccard keep-first: q281's routed gram CTEs,
      // naive pair join at >= 0.7, drop every doc with an earlier-id
      // verified near-dup (canonical-min-id), survivors ordered. Gates
      // the LSH screen end to end: banding recall, routed verify, drop
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
         ORDER BY doc_id""")),

    Case("q289_cjk_substring", (s, d) => {
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
    }, oracle = Some(
      // full replay of routed exact-substring pairs: the q281 corpus +
      // detector CTEs, then per branch the window build — routed docs as
      // 12-code-point substrings of their ws-stripped lowered text, word
      // docs as the q107 12-token windows — one distinct window table,
      // the <= 1000 size guard, and the pair join with shared-window counts
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
         GROUP BY 1, 2 ORDER BY 1, 2""")),

    Case("q290_cjk_substring_apply", (s, d) => {
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
    }, oracle = Some(
      // the routed APPLY replay: unified (doc, pos, unit, routed) token
      // table (words vs code points), keep-first window claims over the
      // union window table (min doc id), covered positions removed from
      // higher ids, and the rebuild per branch — words rejoin with ' ',
      // code points with '' — hashed; n_total/n_kept in each doc's own
      // token currency
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
         ORDER BY rt.doc_id""")),

    Case("q287_langid_aware", (s, d) => {
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
    }, oracle = Some(
      // routing replay + per-branch ID: routed docs are 'zh' here because
      // Han is the ONLY unspaced script the corpus derivation introduces
      // (the detector itself is hash-gated by q282; a Spark-side script
      // misclassification would mismatch); spaced docs replay the q28
      // stopword argmax verbatim
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
         ORDER BY doc_id""")),

    Case("q286_cjk_dedup_capped", (s, d) => {
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
    }, oracle = Some(
      // q281's capped twin: the routed gram build (both paths, q281's
      // CTEs), then the q280 capped-AllPairs replay over it — distinct-set
      // collapse, set-level df, capped rarest-first prefixes at the
      // engine's floor((1-t)sz)+2 double arithmetic, symmetric length
      // prune, exact verify, member expansion + within-cluster 1.0 pairs
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
         ORDER BY id_l, id_r""")),

    Case("q283_containment_advisor", (s, d) => {
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
    }, oracle = Some(
      // full replay of the advisor's cost model: shingle sets, df, the
      // q274 prefix construction (same double-subtraction floor bound),
      // then per-token mass (prefix occurrences x df), totals and the
      // deterministic hottest token (mass desc, token desc) against two
      // bounds — candidate mass is sum over prefix rows of df, the upper
      // bound of what the open join would materialize
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
         FROM tot, hot, b ORDER BY bound""")),

    Case("q281_cjk_dedup", (s, d) => {
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
    }, oracle = Some(
      // full replay of script-aware routing: the derived mixed corpus,
      // the unspaced-share detector, BOTH gram paths (code-point 5-grams
      // of ws-stripped text vs word 3-shingles), the portable md5-prefix
      // hashing, and the naive pair join + exact Jaccard at 0.8. The
      // detector regex only needs the base Han block: the derivation
      // introduces exactly [[hanAlphabet]]
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
         ORDER BY id_l, id_r""")),

    Case("q282_cjk_token_budget", (s, d) => {
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
    }, oracle = Some(
      // the detector and the segmentation-aware count replayed per doc:
      // unspaced share over non-ws chars, and seg tokens via the
      // surround-each-ideograph-with-spaces trick (each unspaced code
      // point its own token, other non-ws runs one each)
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
         FROM corpus ORDER BY doc_id""")),

    Case("q280_allpairs_capped", (s, d) => {
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
    }, oracle = Some(
      // full replay of the CAPPED AllPairs contract: cluster collapse,
      // per-set rarest-first prefixes cut at df <= 2, the symmetric
      // length prune (decimal 0.6 here equals the engine's double prune
      // exactly — integers are representable, so the boundary cases
      // round identically), exact verify, then member expansion +
      // within-cluster 1.0 pairs
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
         ORDER BY id_l, id_r""")),

    Case("q278_resemblance_probe", (s, d) => {
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
    }, oracle = Some(
      // the naive incoming x standing Jaccard enumeration the prefix-
      // filtered probe must reproduce (the q270 oracle convention)
      resemblanceProbeOracle)),

    Case("q279_stream_resemblance_probe", (s, d) => {
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
    }, oracle = Some(
      // per-doc probe results are row-local given the frozen state, so
      // the streamed twin equals batch under any cut — ONE naive oracle
      // gates both (the q270/q271 convention)
      resemblanceProbeOracle)),

    Case("q276_containment_capped", (s, d) => {
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
    }, oracle = Some(
      // the capped join itself: candidates come ONLY from prefix tokens at
      // df <= 3 (the q274 prefix replay + the cap cut), then the exact
      // intersect verify — the engine's capped contract end to end
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
         FROM c WHERE cont >= 0.8 ORDER BY id_part, id_whole""")),

    Case("q275_allpairs_cap_audit", (s, d) => {
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
    }, oracle = Some(
      // same cut over SET-level df: identical token sets collapse to one
      // rep (min doc id) before the df build and the |X|-ceil(t|X|)+1
      // prefix slice — the engine's cluster-collapse replayed in SQL
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
         FROM pref WHERE dfv > 1 GROUP BY 1, 2 ORDER BY token""")),

    Case("q245_split_leakage", (s, d) => {
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
    }, oracle = Some(
      // q70's verified pairs under BOTH split rules: the md5-threshold
      // constants are q56's (80/10/10 over 2^32), the cluster key is
      // q174's stringified component
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
         ORDER BY method, split_l, split_r""")),

    Case("q266_containment_pairs", (s, d) => {
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
    }, oracle = Some(
      // the q199 shingle chain over the planted-excerpt union, then the
      // NAIVE ordered-pair enumeration (every pair sharing a shingle) —
      // the zero-false-negative oracle the prefix-filtered engine plan
      // must reproduce exactly
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
         FROM c WHERE cont >= 0.8 ORDER BY id_part, id_whole""")),

    Case("q270_containment_probe", (s, d) => {
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
    }, oracle = Some(
      // the naive incoming-x-standing enumeration (every cross pair
      // sharing a shingle) the prefix-filtered probe must reproduce —
      // the q266 zero-false-negative oracle split across two frames
      containmentProbeOracle)),

    Case("q271_stream_containment_probe", (s, d) => {
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
    }, oracle = Some(
      // per-doc probe results are row-local given the frozen state, so the
      // streamed twin equals batch under any cut — ONE oracle gates both
      containmentProbeOracle)),

    Case("q216_dup_triangles", (s, d) => {
      // graph-shape diagnostic of the exact near-dup pair graph (the en
      // slice — the full 0.9 graph at sf0.1 holds ~1M edges of template
      // cliques and the census is a per-slice diagnostic, not a corpus
      // pass): degree-ordered orientation bounds wedge fan-out by the
      // oriented out-degree, O(sqrt(m)) — no hub explosion
      graft.ext.DupGraph.triangleCensus(
        Dedup.allPairsJaccard(
          fanOut(s, t(s, d, "documents").where(col("lang") === "en"), "doc_id"),
          "doc_id", "text", threshold = 0.9))
    }, oracle = Some(
      // the q199 naive pair replay, then the a<b<c triangle join (edges
      // normalized ascending, so the ordered triple join counts each
      // triangle once — the oracle needs no degree orientation)
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
         FROM st""")),

    Case("q193_winnow_pairs", (s, d) => {
      // winnowing (MOSS) text-reuse screen, PORTABLE twin: md5 gram
      // hashes + windowed min + postings self-join under the ubiquity
      // cap, every stage replayed by the oracle; the production path is
      // the one-pass native kernel (portable = false, WinnowSpec)
      Dedup.winnowCandidatePairs(
          fanOut(s, t(s, d, "documents"), "doc_id"), "doc_id", "text",
          k = 7, w = 5, maxPostings = 20, minShared = 8, portable = true)
        .orderBy("id_l", "id_r")
    }, oracle = Some(
      // full winnowing replay: positional 7-grams, 60-bit md5 prefix hash,
      // min over ROWS CURRENT..4 FOLLOWING, window count = greatest(ng-4,1),
      // distinct fps, <=20-posting ubiquity cut, >=8-shared pair filter
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
         ORDER BY id_l, id_r""")),

    Case("q184_stream_novelty", (s, d) => {
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
    }, oracle = Some(
      // streamed == batch by construction (row-local scores against the
      // static broadcast set), so the q183 replay gates the streaming path
      // verbatim — the shared-string convention (q162/q164, q167/q170)
      noveltyOracle)),

    Case("q183_novelty", (s, d) => {
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
    }, oracle = Some(noveltyOracle)),

    Case("q174_split_by_cluster", (s, d) => {
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
    }, oracle = Some(
      // q70's component CTEs + the q56 md5-threshold split applied to the
      // COMPONENT id (stringified) — same exact 32-bit thresholds
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
         FROM lab ORDER BY doc_id""")),

    Case("q131_intradoc_dedup", (s, d) => {
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
    }, oracle = Some(
      // first-occurrence filter via the index lambda (list_position(sg,x)=i);
      // Spark's array_distinct preserves first-occurrence order by contract
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
         FROM dd ORDER BY doc_id""")),

    Case("q127_url_dedup", (s, d) => {
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
    }, oracle = Some(
      // regex constants (tracking params) interpolated from text.canonicalizeUrl's
      // shared patterns; DuckDB regexp_replace needs the explicit 'g' flag where
      // Spark is global by default
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
         FROM c GROUP BY url ORDER BY doc_id""")),

    Case("q85_segment_dedup", (s, d) => {
      // C4/Gopher-style boilerplate removal: drop every occurrence of an
      // 8-word segment repeated anywhere in the corpus, reassemble in order
      graft.ext.Dedup.segmentDedup(t(s, d, "documents"), "doc_id", "text",
        width = 8, minCount = 2)
        .orderBy("doc_id")
    }, oracle = Some(
      // same greedy chunking regex as segmentDedup; the whitespace class is
      // spelled out because Java and RE2 disagree on \S (see Dedup
      // .segmentDedup) — with it, chunking is engine-identical
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
         FROM documents d LEFT JOIN agg a USING (doc_id) ORDER BY d.doc_id""")),
  )
}
