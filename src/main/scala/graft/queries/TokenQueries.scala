package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Decontaminate, Dedup}
import graft.functions.text

/** Tokenizer-exact accounting: the three tokenizer families (BPE, WordPiece,
  * Unigram) and everything denominated in their tokens — data cards,
  * mixtures and budgets, dedup savings cards and the curation close-out.
  */
object TokenQueries extends Family {
  import Shared._

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

  val cases: Seq[Case] = Seq(

    Case("q142_stream_data_card", (s, d) => {
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
    }, oracle = Some(
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
         FROM rs GROUP BY source ORDER BY source""")),

    Case("q165_budget_wordpiece", (s, d) => {
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
    }, oracle = Some(
      // q158's inclusive greedy-prefix rule with the cost column swapped to
      // the WordPiece token count via the wpEncCte replay
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
         ORDER BY doc_id""")),

    Case("q151_bpe_count", (s, d) => {
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
    }, oracle = Some(
      s"""WITH RECURSIVE
         $bpeEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_bpe
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""")),

    Case("q163_wordpiece_count", (s, d) => {
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
    }, oracle = Some(
      // the wpEncCte greedy longest-match replay, summed per document
      s"""WITH RECURSIVE
         $wpEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS s
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.s, 0) AS BIGINT) AS n_wp
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""")),

    Case("q152_bpe_blocks", (s, d) => {
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
    }, oracle = Some(
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
         FROM blocks ORDER BY source, block_id""")),

    Case("q126_data_card", (s, d) => {
      // the per-source release artifact: volume, quality pass count (the
      // same gopherReasons expression q88 gates with) and corpus-wide
      // exact-duplicate membership — the card cannot drift from the gates.
      // fanOut: the gopher/token expressions run in the card's partial
      // aggregation, i.e. on the single scan task without it
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text")
        .orderBy("source")
    }, oracle = Some(
      // q88's gopher replication grouped per source + corpus-wide dup join
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
         GROUP BY source ORDER BY source""")),

    Case("q156_card_bpe", (s, d) => {
      // q126's card with the token counter SWAPPED to tokenizer-exact BPE
      // (the pluggable-counter contract: sum_tokens now spends the same
      // currency the training run does; every other column unchanged).
      // One extra native expression in the aggregation — no new shuffle.
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.bpeTokenCount(col("text"), bpeMerges)))
        .orderBy("source")
    }, oracle = Some(
      // q126's card oracle with sum_tokens re-denominated in the BPE replay
      // (the recursive encode CTE q151 uses), every other column identical
      cardTokensOracle(bpeEncCte))),

    Case("q171_card_wordpiece", (s, d) => {
      // the q156 card in the SECOND tokenizer family's currency: same
      // operator, same oracle body (cardTokensOracle), the counter
      // swapped to WordPiece — the pluggable-counter contract closed
      // across card + mixtures + budgets for BOTH vocab formats
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.wordpieceTokenCount(col("text"), wpVocab)))
        .orderBy("source")
    }, oracle = Some(
      // the identical card, token currency swapped to the WordPiece replay
      cardTokensOracle(wpEncCte))),

    Case("q172_unigram_stats", (s, d) => {
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
    }, oracle = Some(
      // the uniEncCte Viterbi replay: per-word (count, cost) joined back
      // to documents and summed — null-text docs excluded like q151/q163
      s"""WITH RECURSIVE
         $uniEncCte,
         agg AS (SELECT w.doc_id, sum(f.nt) AS n, sum(f.cost) AS c
           FROM words w JOIN fin f USING (word) GROUP BY w.doc_id)
         SELECT d.doc_id, CAST(coalesce(a.n, 0) AS BIGINT) AS n_uni,
           CAST(coalesce(a.c, 0) AS BIGINT) AS cost
         FROM documents d LEFT JOIN agg a USING (doc_id)
         WHERE d.text IS NOT NULL
         ORDER BY doc_id""")),

    Case("q229_dedup_savings", (s, d) => {
      // the curation run's "what did dedup buy us" card: q70's verified
      // minhash components + keep-min-id token accounting, rolled up by
      // cluster size
      Dedup.savingsCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6)
        .orderBy("cluster_size")
    }, oracle = Some(
      // q70's component CTEs + keep-min-id token accounting rolled up by
      // cluster size; count sums CAST back to BIGINT (the q175 class)
      dedupSavingsOracle(bpe = false))),

    Case("q273_dedup_savings_bpe", (s, d) => {
      // the q229 card in the training run's own currency — the
      // pluggable-counter contract wired through savingsCard: same
      // clusters and keep-min-id policy, token columns denominated in
      // tokenizer-exact BPE pieces (one native counter expression in the
      // labeled projection, no new shuffle)
      Dedup.savingsCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          "doc_id", "text", threshold = 0.6,
          tokenCounter = Some(text.bpeTokenCount(col("text"), bpeMerges)))
        .orderBy("cluster_size")
    }, oracle = Some(
      // the same cluster replay with the lab token currency swapped to the
      // recursive BPE encode (bpeEncCte reused — ONE encode definition)
      dedupSavingsOracle(bpe = true))),

    Case("q249_curation_close", (s, d) =>
      curationCloseCard(s, d, c => text.tokenCount(c)),
      oracle = Some(
      // the composed CTE chain of the q238/q219/q228/q174/q245/q229
      // oracles — every stage fragment individually proven by its own query
      curationCloseOracle(bpe = false))),

    Case("q267_curation_close_bpe", (s, d) =>
      // the q249 close-out with the token currency SWAPPED to
      // tokenizer-exact BPE (the q156/q171 pluggable-counter contract
      // applied to the composed card): a curator allocating by training
      // tokens reads the split totals and dedup savings in the currency
      // the run actually spends. Same gates, same split, same plan shape
      // — one native counter expression replaces the whitespace count.
      curationCloseCard(s, d,
        c => text.bpeTokenCount(c, bpeMerges).cast("long")),
      oracle = Some(
      // the same chained close-out replay with the `lab` token currency
      // swapped to the recursive BPE encode CTE (the q156 convention) —
      // split totals and savings in training-run tokens
      curationCloseOracle(bpe = true))),

    Case("q269_curation_close_contained", (s, d) =>
      // the q249 close-out with the optional containment screen ON:
      // quote-in-host subsumption (the q266 asymmetric signal) drops
      // contained docs between the decontamination and dedup stages —
      // the one dedup signal the composed pipeline didn't consume. Card
      // sections, split policy and plan shape unchanged.
      curationCloseCard(s, d, c => text.tokenCount(c),
        containmentTau = Some(0.8)),
      oracle = Some(
      // the close-out with the q266 containment screen folded in as a drop
      // stage: the naive zero-false-negative enumeration the engine's
      // prefix-filtered containmentDedup must reproduce inside the chain
      curationCloseOracle(bpe = false, containment = true))),

    Case("q173_card_unigram", (s, d) => {
      // the q156/q171 card in the THIRD tokenizer family's currency: same
      // operator, same oracle body (cardTokensOracle), the counter swapped
      // to the unigram Viterbi count — all three vocab formats (merge
      // list, piece list, scored pieces) now spend through one contract
      graft.ext.Report.dataCard(fanOut(s, t(s, d, "documents"), "doc_id"),
          Seq("source"), "text",
          tokenCounter = Some(text.unigramTokenCount(col("text"), uniVocab,
            unkCost = uniUnkCost)))
        .orderBy("source")
    }, oracle = Some(cardTokensOracle(uniEncCte))),

    Case("q157_mixture_bpe", (s, d) => {
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
    }, oracle = Some(
      // q86's sqrt/decimal-normalizer chain with the per-source mass
      // re-denominated in BPE tokens via the q151 recursive encode replay
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
         FROM c, z ORDER BY source""")),

    Case("q158_budget_bpe", (s, d) => {
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
    }, oracle = Some(
      // q114's inclusive greedy-prefix rule with the cost column swapped to
      // the BPE token count (RANGE == ROWS here: doc_id makes the order
      // total, so the window sum is unambiguous)
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
         ORDER BY doc_id""")),
  )
}
