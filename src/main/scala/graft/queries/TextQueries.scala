package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.text

/** Text functions and corpus statistics: token statistics, quality
  * signals, language ID, normalization and scrubbing, vocabularies,
  * n-gram LMs (CCNet buckets), heavy hitters, blocklists, drift and
  * dispersion reports.
  */
object TextQueries extends Family {
  import Shared._

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

  /** Shared q167/q170 oracle: the bigram-model replay (reference
    * counts, the deterministic top-500 cut, exact integer sums over the
    * target half's pair stream). Per-doc stats are row-local, so the
    * batch filter and its streamed face assert ONE string.
    */
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

  /** Shared q185/q187 oracle — two-sample chi-square replay: exact counts,
    * homogeneity expectations and per-token terms in the IDENTICAL double
    * evaluation order. ONE string, so the batch and streaming drift faces
    * can never assert different things (token counts are order-insensitive,
    * so streamed == batch verbatim).
    */
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

  val cases: Seq[Case] = Seq(

    Case("q125_oov_rate", (s, d) => {
      // vocabulary coverage: per-doc token occurrences outside the corpus'
      // own top-100 vocab — the tokenizer-fit metric run before committing
      // to a vocab; explode + broadcast vocab join + combinable count
      val docs = t(s, d, "documents")
      val vocab = graft.ext.Vocab.topTokens(docs, "text", k = 100)
        .select("token")
      graft.ext.Vocab.oovStats(docs, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }, oracle = Some(
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
         ORDER BY d.doc_id""")),

    Case("q124_html_extract", (s, d) => {
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
    }, oracle = Some(
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
         FROM s3 ORDER BY doc_id""")),

    Case("q68_scrub", (s, d) => {
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
    }, oracle = Some(
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
         FROM r2 ORDER BY doc_id""")),

    Case("q69_vocab_topk", (s, d) => {
      graft.ext.Vocab.topTokens(t(s, d, "documents"), "text", 100)
    }, oracle = Some(
      """WITH tok AS (SELECT
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents)
         SELECT token, count(*) AS n FROM tok GROUP BY token
         ORDER BY n DESC, token LIMIT 100""")),

    Case("q63_text_normalize", (s, d) => {
      // corpus-cleaning pass: control-strip + NFC normalize, md5-checked
      // cross-engine (oracle runs its own nfc_normalize)
      t(s, d, "documents").select(
        col("doc_id"),
        md5(text.normalizeNFC(text.stripControl(col("text")))).as("clean_md5"),
        length(text.normalizeNFC(col("text"))).cast("long").as("n_chars_nfc"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
           md5(nfc_normalize(regexp_replace(text,
             '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))) AS clean_md5,
           CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc
         FROM documents ORDER BY doc_id""")),

    Case("q65_repetition", (s, d) => {
      // intra-document repetition quality signals (boilerplate/loop
      // detection): duplicate-segment ratio + most-common-token ratio
      t(s, d, "documents").select(
        col("doc_id"),
        round(text.duplicateSegmentRatio(col("text")), 6).as("dup_segment_ratio"),
        round(text.maxTokenRatio(col("text")), 6).as("max_token_ratio"))
        .orderBy("doc_id")
    }, oracle = Some(
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
         ORDER BY s.doc_id""")),

    Case("q26_token_stats", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        text.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_m"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id,
         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars_m
         FROM documents ORDER BY doc_id""")),

    Case("q27_text_quality", (s, d) => {
      // fanOut: four text-statistic expressions over the whole corpus in
      // one row-local projection — all on the single scan task otherwise
      fanOut(s, t(s, d, "documents"), "doc_id").select(
        col("doc_id"),
        text.qualityScore(col("text")).as("quality"),
        round(text.punctRatio(col("text")), 6).as("punct_ratio"),
        round(text.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        text.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    }, oracle = Some(
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
         FROM m ORDER BY doc_id""")),

    Case("q28_langid", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"), text.langId(col("text")).as("lang_pred"), col("lang"))
        .orderBy("doc_id")
    }, oracle = Some(
      // langId is a deterministic argmax (struct max: score, then language
      // code) — reproducible in SQL via row_number over the same ordering.
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
         FROM best WHERE rn = 1 ORDER BY doc_id""")),

    Case("q29_fingerprint", (s, d) => {
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
    }, oracle = Some(
      """WITH toks AS (SELECT doc_id,
             list_sort(list_distinct(list_filter(
               regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'), x -> x <> ''))) AS tk
           FROM documents)
         SELECT doc_id, md5(array_to_string(tk, ' ')) AS token_set_fp,
           CAST(len(tk) AS BIGINT) AS n_distinct_tokens
         FROM toks ORDER BY doc_id""")),

    Case("q75_bigram_counts", (s, d) => {
      graft.ext.Vocab.topNgrams(t(s, d, "documents"), "doc_id", "text", n = 2, k = 100)
        .orderBy(col("n").desc, col("ngram"))
    }, oracle = Some(
      """WITH tok AS (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '') AS t
           FROM documents),
         idx AS (SELECT doc_id, t,
             unnest(generate_series(1, len(t) - 1)) AS i FROM tok)
         SELECT t[i] || ' ' || t[i+1] AS ngram, count(*) AS n
         FROM idx GROUP BY ngram ORDER BY n DESC, ngram LIMIT 100""")),

    Case("q79_tfidf", (s, d) => {
      val docs = fanOut(s, t(s, d, "documents"), "doc_id")
      // nDocs is one bounded driver-side scalar (see tfidfTopTerms doc)
      graft.ext.Vocab.tfidfTopTerms(docs, "doc_id", "text",
        nDocs = docs.count(), k = 3)
        .orderBy("doc_id", "rnk")
    }, oracle = Some(
      // rational idf (nd+1)/(df+1): same per-document ranking as the log form,
      // and exactly reproducible across engines (see Vocab.tfidfTopTerms)
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
         FROM r WHERE rn <= 3 ORDER BY doc_id, rnk""")),

    Case("q162_heavy_hitters", (s, d) => {
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
    }, oracle = Some(
      // full-vocabulary groupBy + HAVING — exactly what the two-bounded-pass
      // MG-candidate + recount answer must equal (same tokenization as q69)
      hhTokenOracle)),

    Case("q164_stream_heavy_hitters", (s, d) => {
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
    }, oracle = Some(
      // the streamed candidate pass recounts to the same exact answer as
      // the batch operator (MG superset holds under any merge order), so
      // q162's full-groupBy oracle gates the streaming path verbatim
      hhTokenOracle)),

    Case("q170_stream_lm_score", (s, d) => {
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
    }, oracle = Some(
      // streamed == batch by construction (per-doc stats are row-local),
      // so the q167 replay gates the streaming path verbatim
      lmStatsOracle)),

    Case("q167_ngram_lm", (s, d) => {
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
    }, oracle = Some(
      // bigram-model replay: reference counts, the same deterministic
      // top-500 cut (count desc, bigram asc), then exact integer sums over
      // the target half's pair stream
      lmStatsOracle)),

    Case("q166_heavy_hitters_by_source", (s, d) => {
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
    }, oracle = Some(
      // per-group replay: count within source, threshold = that source's
      // token mass — the grouped twin of q162's HAVING
      """WITH tok AS (SELECT source,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents),
         n AS (SELECT source, count(*) AS n FROM tok GROUP BY source)
         SELECT t.source, t.token, count(*) AS cnt
         FROM tok t JOIN n ON t.source = n.source
         GROUP BY t.source, t.token, n.n
         HAVING count(*) > n.n * 0.004
         ORDER BY t.source, t.token""")),

    Case("q224_lexical_diversity", (s, d) => {
      // per-source type/token counts + division-free diversity (ppm TTR
      // via integer div, Gini-Simpson as exact pair counts): template-spam
      // sources show high repeat probability regardless of per-doc quality
      graft.ext.Vocab.lexicalDiversity(t(s, d, "documents"), "source", "text")
        .orderBy("source")
    }, oracle = Some(
      // sums over BIGINT counts CAST back to BIGINT (DuckDB promotes to
      // HUGEINT — the q175 class the strict gate now catches)
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
         FROM agg ORDER BY source""")),

    Case("q236_boilerplate_prefix", (s, d) => {
      // template-header detector: per-source longest common prefix via
      // the LCP(min, max) identity — one min/max aggregation + an
      // O(prefix) scan of the two extreme strings, never cross-doc
      graft.ext.Report.boilerplatePrefix(
          t(s, d, "documents"), "source", "text", maxPrefix = 40)
        .orderBy("source")
    }, oracle = Some(
      // template-prefix replay: LCP(min, max) identity, position scan over
      // the two extremes, binary string order in both engines
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
         FROM e2 LEFT JOIN fd USING (source) ORDER BY e2.source""")),

    Case("q243_token_dispersion", (s, d) => {
      // source-boilerplate detector: Fano factor of each token's
      // per-source counts (zeros never materialized) — bursty tokens
      // concentrate in few sources, per-doc repetition rules can't see it
      graft.ext.Vocab.tokenDispersion(t(s, d, "documents"),
          "source", "text", minTotal = 50)
        .orderBy("token")
    }, oracle = Some(
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
         FROM a CROSS JOIN sc WHERE total >= 50 ORDER BY token""")),

    Case("q247_langid_margin", (s, d) => {
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
    }, oracle = Some(
      // q28's score table + a second-place subtraction; 'und' rule and the
      // (score DESC, l DESC) tie verbatim
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
         FROM top GROUP BY 1 ORDER BY 1""")),

    Case("q259_ccnet_pipeline", (s, d) => {
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
    }, oracle = Some(
      // the chain + tail-bucket drop + q86's sqrt temperature over the
      // kept token mass — the full multilingual build in one CTE chain
      (lmChainCtes + raw""",
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
         FROM c, z ORDER BY lang"""))),

    Case("q258_ccnet_buckets", (s, d) => {
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
    }, oracle = Some(
      // the LM chain + per-language percent-rank buckets over the fit
      // ratio (one IEEE division as the sort key) — ntile would split ties
      ccnetBucketsOracle)),

    Case("q252_stream_classifier", (s, d) => {
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
    }, oracle = Some(
      // q128's scorer streamed: row-local stateless fold, Append == batch
      // under any cut — the batch oracle gates the stream verbatim
      classifierScoreOracle)),

    Case("q207_token_cooccurrence", (s, d) => {
      // skip-gram co-occurrence pairs with log-free lift: row-local pair
      // generation (position explode + fixed-offset element_at), tiny-
      // frame normalizers, exact ratios
      graft.ext.Vocab.cooccurrenceLift(
          fanOut(s, t(s, d, "documents"), "doc_id"), "text",
          window = 3, topK = 20)
    }, oracle = Some(
      // identical pair build: positions x offsets 1..3 clipped at the array
      // end, unordered pair key, the same fixed division tree
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
         ORDER BY n_ab DESC, t_a, t_b LIMIT 20""")),

    Case("q187_stream_drift", (s, d) => {
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
    }, oracle = Some(tokenDriftOracle)),

    Case("q186_distinct_ngrams", (s, d) => {
      // distinct-1/distinct-2 diversity per source — the synthetic-data
      // repetitiveness screen: a template-stamped source collapses in
      // distinct-2 first; row-local gram builds, one two-level combinable
      // aggregation, ratios exact under the hash oracle
      graft.ext.Vocab.distinctNgramRatios(
          fanOut(s, t(s, d, "documents"), "doc_id")
            .where(col("text").isNotNull),
          Seq("source"), "text", ns = Seq(1, 2))
        .orderBy("source", "n")
    }, oracle = Some(
      // unigram + bigram branches unioned, two-level count replay, double
      // ratio — the q75 gram build convention with a ' ' joiner
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
        FROM f ORDER BY source, n""")),

    Case("q185_token_drift", (s, d) => {
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
    }, oracle = Some(tokenDriftOracle)),

    Case("q177_phrase_blocklist", (s, d) => {
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
    }, oracle = Some(
      s"""SELECT doc_id,
           CAST(len(list_filter($blockPhrasesLit,
             p -> contains(text, p))) AS BIGINT) AS n_hits
         FROM documents WHERE text IS NOT NULL
         ORDER BY doc_id""")),

    Case("q133_line_filter", (s, d) => {
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
    }, oracle = Some(
      // nested lambda replicates filterShortSegments' word-count rule
      raw"""WITH s AS (SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\. '), x -> x <> '') AS sg
           FROM documents WHERE text IS NOT NULL),
         k AS (SELECT doc_id, sg,
             list_filter(sg, x ->
               len(list_filter(string_split(x, ' '), w -> w <> '')) >= 3) AS u
           FROM s)
         SELECT doc_id, array_to_string(u, '. ') AS clean_text,
           CAST(len(sg) AS BIGINT) AS n_total, CAST(len(u) AS BIGINT) AS n_kept
         FROM k ORDER BY doc_id""")),

    Case("q132_domain_blocklist", (s, d) => {
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
    }, oracle = Some(
      // suffix expansion mirrors text.domainBlocked: every dot-suffix of the
      // host probed against the same blocklist literal
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
         FROM sfx ORDER BY doc_id""")),

    Case("q128_quality_classifier", (s, d) => {
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
    }, oracle = Some(
      // weight formula mirrors the Scala table: w(b) = (b*2654435761) % 1024 - 512
      // over md5-prefix buckets mod 4096; empty token lists coalesce to 0
      classifierScoreOracle)),

    Case("q92_posting_lists", (s, d) => {
      // inverted index: df >= 5 terms with their first-20 posting lists —
      // bounded per-token state (KMV buffer), never a full collect_set
      graft.ext.Vocab.postingLists(t(s, d, "documents"), "doc_id", "text",
        minDf = 5, maxPostings = 20)
        .orderBy("token")
    }, oracle = Some(
      """WITH pairs AS (SELECT DISTINCT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
               x -> x <> '')) AS token
           FROM documents),
         agg AS (SELECT token, count(*) AS df_docs,
             array_to_string(list_transform(list_sort(list(doc_id))[1:20],
               x -> x::VARCHAR), ',') AS postings
           FROM pairs GROUP BY token)
         SELECT token, df_docs, postings FROM agg
         WHERE df_docs >= 5 ORDER BY token""")),

    Case("q111_chunking", (s, d) => {
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
    }, oracle = Some(
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
         FROM starts ORDER BY doc_id, chunk_idx""")),
  )
}
