package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScaleBench
import graft.ext.{Decontaminate, Dedup, Similarity}
import graft.functions.{text, vectors}

/** Vector similarity and retrieval: brute-force, LSH, IVF, PQ, SQ8 and
  * persisted-index ANN, embedding statistics (centroids, covariance, PCA,
  * clusters, drift, outliers), semantic screens, BM25 and hybrid
  * retrieval, and hard-negative mining.
  */
object SimilarityQueries extends Family {
  import Shared._

  /** The q299/q305 persisted IVF-PQ index over the standing corpus slice
    * (`vec_id % 5 != 2`): built+saved once per (fixture, params)
    * generation through the loud-params StateStore, loaded on every
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
    val state = loadOrBuild(stateDir)(
        graft.ext.AnnIndex.load(s, stateDir, params)) {
      graft.ext.AnnIndex.save(s,
        graft.ext.AnnIndex.buildPortable(standing, "vec_id", "embedding",
          m = 8, c = 16, nCells = Some(nCells), refineDim = 64), stateDir)
    }
    standingIndexMemo.put(memoKey, (params, stateDir, standingN))
    (state, standingN)
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

  /** q261's spectral step over [[covCtes]]: the symmetric matrix `M`,
    * the all-ones start `v0` and 3 power rounds, each an exact decimal
    * mat-vec product `w`, its max magnitude `x` and the iterate `v`
    * divided once in double and re-quantized to 6 dp.
    */
  private val powerIterationCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""w$i AS (SELECT m.i, sum(m.c * v${i - 1}.v) AS w
           FROM M m JOIN v${i - 1} ON m.j = v${i - 1}.i GROUP BY m.i),
         x$i AS (SELECT max(abs(w)) AS mx FROM w$i),
         v$i AS (SELECT i, CAST(round(CAST(w AS DOUBLE) / CAST(mx AS DOUBLE), 6)
             AS DECIMAL(18,6)) AS v FROM w$i, x$i)"""
    }.mkString(",\n         ")
    covCtes + s""",
         M AS (SELECT i, j, CAST(cov AS DECIMAL(18,6)) AS c FROM cv
               UNION ALL
               SELECT j, i, CAST(cov AS DECIMAL(18,6)) FROM cv WHERE i <> j),
         v0 AS (SELECT DISTINCT i, CAST(1.0 AS DECIMAL(18,6)) AS v FROM M),
         $rounds"""
  }

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

  /** The portable seed rule of [[graft.ext.Ivf.portableSeedModel]] and
    * [[graft.ext.Pq.portableSeedCodebooks]]: CTE `name` holds the first
    * `limit` rows of `src` by (md5(vec_id), vec_id), each vector `v` as
    * `vec` beside its 0-based index as `cell`.
    */
  private def md5SeedsCte(name: String, vec: String, cell: String,
      src: String, limit: String): String =
    s"""$name AS (SELECT v AS $vec, rn - 1 AS $cell FROM
             (SELECT v, row_number() OVER
                (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM $src)
           WHERE rn <= $limit)"""

  /** `asg`: each vector of `src` in the cell of its cosine-nearest seed
    * of `seeds` (an [[md5SeedsCte]] with `c_vec`), ties to the lower
    * `cell`.
    */
  private def seedAssignCte(cell: String, src: String, seeds: String): String =
    s"""asg AS (SELECT vec_id, $cell FROM (
             SELECT $src.vec_id, s.$cell,
               row_number() OVER (PARTITION BY $src.vec_id
                 ORDER BY list_cosine_similarity($src.v, s.c_vec) DESC, s.$cell) AS rn
             FROM $src CROSS JOIN $seeds s)
           WHERE rn = 1)"""

  /** `nc`: [[graft.ext.AnnIndex.derivedNCells]] over the rows of `src`. */
  private def derivedNCellsCte(src: String): String =
    s"""nc AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
           FROM $src)"""

  /** The IVF probe of the incoming vectors `inc` against the standing
    * `st`: `ivfseeds` (the first `nCells` vectors of `seedSrc`), `asg`,
    * `probes` (each incoming vector's `nProbe` nearest cells) and `cand`
    * (the standing members of its probed cells).
    */
  private def ivfProbeCtes(seedSrc: String, nCells: String, nProbe: Int): String =
    md5SeedsCte("ivfseeds", "c_vec", "icell", seedSrc, nCells) + ",\n         " +
      seedAssignCte("icell", "st", "ivfseeds") + s""",
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT inc.vec_id, s.icell,
               row_number() OVER (PARTITION BY inc.vec_id
                 ORDER BY list_cosine_similarity(inc.v, s.c_vec) DESC, s.icell) AS rn
             FROM inc CROSS JOIN ivfseeds s)
           WHERE rn <= $nProbe),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell)"""

  /** q168's PQ encode over the vectors `e`: codeword seeds `seeds` (the
    * first 16 of `seedSrc`), `js` (8 subspaces of 8 dims), `cw` (the
    * seeds' sub-slices), `sd` (every vector's squared sub-distance to
    * every codeword, summed in the native kernel's order) and `codes`
    * (the argmin codeword per vector and subspace over the rows of
    * `encoded`, ties to the lower cell).
    */
  private def pqCodeCtes(seeds: String, seedSrc: String, encoded: String): String =
    md5SeedsCte(seeds, "sv", "cell", seedSrc, "16") + s""",
         js AS (SELECT unnest(generate_series(0, 7)) AS j),
         cw AS (SELECT js.j, s.cell, s.sv[js.j*8 + 1 : js.j*8 + 8] AS w
           FROM $seeds s CROSS JOIN js),
         sd AS (SELECT e.vec_id, c.j, c.cell,
             list_sum([ (e.v[c.j*8 + d] - c.w[d]) * (e.v[c.j*8 + d] - c.w[d])
                        for d in generate_series(1, 8) ]) AS sdist
           FROM e CROSS JOIN cw c),
         codes AS (SELECT vec_id, j, cell AS code FROM (
             SELECT vec_id, j, cell, row_number() OVER
               (PARTITION BY vec_id, j ORDER BY sdist ASC, cell ASC) AS rn
             FROM $encoded)
           WHERE rn = 1)"""

  /** `adc`: each candidate pair of `cand` scored by the ADC distance,
    * the query's sub-distances to the neighbour's codes summed in
    * subspace order.
    */
  private val candAdcCte: String =
    """adc AS (SELECT c.query_id, c.neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM cand c
           JOIN codes n ON n.vec_id = c.neighbor_id
           JOIN sd s ON s.vec_id = c.query_id AND s.j = n.j AND s.cell = n.code
           GROUP BY 1, 2)"""

  /** `adc` for the exhaustive PQ scan: every encoded vector scored for
    * each query id < 10 from the sub-distance table `sd`.
    */
  private def scanAdcCte(sd: String): String =
    s"""adc AS (SELECT s.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list(s.sdist ORDER BY s.j)) AS dist
           FROM codes n JOIN $sd s ON s.j = n.j AND s.cell = n.code
           WHERE s.vec_id < 10 AND n.vec_id <> s.vec_id
           GROUP BY 1, 2)"""

  /** The ADC top-5 per query: distance rounded half-up to 6 dp, rank by
    * (raw distance, neighbor id).
    */
  private val adcTopKTail: String =
    """r AS (SELECT query_id, neighbor_id, floor(dist * 1e6 + 0.5) / 1e6 AS adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
           FROM adc)
         SELECT query_id, neighbor_id, adc_dist, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""

  /** The persisted IVF-PQ index replay over the standing `st` and the
    * incoming `inc` slices of `e` (q299): derived cell count, the IVF
    * probe at `nProbe`, PQ codes of the standing slice and ADC scores.
    */
  private def annIndexCtes(nProbe: Int): String =
    Seq(derivedNCellsCte("st"), ivfProbeCtes("st", "(SELECT k FROM nc)", nProbe),
      pqCodeCtes("pqseeds", "st", "sd WHERE vec_id % 5 <> 2"), candAdcCte)
      .mkString(",\n         ")

  /** An exact cosine rerank of the ADC shortlist `shortr` (the first
    * `depth` of `adc` by distance): each query id < 10 against the raw
    * vectors of its shortlist rows, top 5.
    */
  private def shortlistRerankTail(depth: String): String =
    s"""shortr AS (SELECT query_id, neighbor_id FROM (
             SELECT query_id, neighbor_id, row_number() OVER
               (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rn
             FROM adc)
           WHERE rn <= $depth),
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
         ORDER BY query_id, rank"""

  /** q304's mining tail over the shortlist `short` of each incoming
    * query: exact cosine rerank against the standing slice, excluding the
    * query's labelled positive `p` (its true top-1) and every
    * near-positive at cosine >= 0.95, top 5.
    */
  private val miningTail: String =
    """p AS (SELECT query_id, neighbor_id AS pos_id FROM
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
         ORDER BY query_id, rank"""

  /** The refine tier's SQ8 re-score: `wide` (the first `depth` of `adc`
    * per query), the standing slice's exact-decimal per-dim ranges `rg`,
    * dequantized codes for the standing (`dqc`) and incoming (`dqq`)
    * vectors, and `sqs`, the exact decimal dot product per wide pair.
    */
  private def sq8RefineCtes(depth: String): String =
    s"""wide AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM adc)
           WHERE rnk <= $depth),
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
           GROUP BY 1, 2)"""

  /** Shared by q299 (persisted-index batch probe) and q307 (the same
    * probe with the increment ARRIVING as a stream — row-local given the
    * frozen state, so streamed == batch under any cut): the q169 IVFADC
    * CTEs over the standing/incoming split, models and codes from the
    * STANDING slice only (provenance invariance, the q284 convention).
    */
  private val annIndexProbeOracle: String =
    raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         ${annIndexCtes(2)},
         $adcTopKTail"""

  /** Shared by q228 (batch semantic screen) and q232 (streamed, stateless
    * — Append mode equals batch row-for-row under any cut): q24's cosine
    * replay restricted to the eval slice, flag on the ROUNDED cosine.
    */
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

  /** q182's BM25 replay over the documents passing `docFilter`: the
    * q162 tokenization, rational idf (N+1)/(df+0.5), per-term doubles in
    * the engine's evaluation order rounded to 6 dp, decimal totals, and
    * `r` (query_id, doc_id, score, rnk) for the [[bm25Queries]].
    */
  private def bm25Ctes(docFilter: String): String =
    raw"""d0 AS (SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^\p{L}\p{N}_]+'),
             x -> x <> '') AS arr
         FROM documents WHERE $docFilter),
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
          FROM tot)"""

  /** The pseudo-relevance-feedback query vector `qv` (query_id, qvec):
    * the per-dim DECIMAL sum of the embeddings of each query's BM25 top 3
    * (`top3` over `ev`); no division, since cosine is scale-invariant.
    */
  private val prfQueryCtes: String =
    """dims AS (SELECT unnest(generate_series(1, 64)) AS dim),
        pd AS (SELECT t.query_id, dims.dim,
            CAST(sum(CAST(e.v[dims.dim] AS DECIMAL(18,8))) AS DOUBLE) AS sv
          FROM top3 t JOIN ev e ON e.vec_id = t.doc_id CROSS JOIN dims
          GROUP BY 1, 2),
        qv AS (SELECT query_id, list(sv ORDER BY dim) AS qvec
          FROM pd GROUP BY 1)"""

  /** The RRF fusion of the BM25 ranks `r` and the dense ranks `dr`
    * (computed here from the scores `dsc`): each rank's 1/(60 + rank)
    * rounded to 6 dp and decimal-summed, top 10. No contribution lands on
    * a rounding half-boundary: the only terminating value is 1/64, exact
    * at 6 places.
    */
  private val rrfTail: String =
    """dr AS (SELECT query_id, doc_id, row_number() OVER
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
        FROM fr WHERE rank <= 10 ORDER BY query_id, rank"""

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
    * probe wall (SURVEY.md) instead of q310's corpus-sized brute-force
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

  val cases: Seq[Case] = Seq(

    Case("q72_embed_quantize", (s, d) => {
      // int8 embedding compression: one-pass native quantization, exploded
      // per-dimension so the DuckDB oracle hash-checks every code + scale
      t(s, d, "embeddings")
        .select(col("vec_id"), vectors.int8Quantize(col("embedding")).as("q"))
        .select(col("vec_id"), col("q.scale").as("scale"),
          posexplode(col("q.codes")).as(Seq("dim0", "code")))
        .select(col("vec_id"), (col("dim0") + 1).cast("long").as("dim"),
          col("code").cast("long").as("code"), col("scale"))
        .orderBy("vec_id", "dim")
    }, oracle = Some(
      // scale = max|v|/127 (double, fixed order), code = round-half-away-from-
      // zero(v/scale) clamped; DuckDB round() is also half-away-from-zero
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         s AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e),
         x AS (SELECT vec_id, scale, unnest(v) AS val,
             unnest(generate_series(1, len(v))) AS dim FROM s)
         SELECT vec_id, CAST(dim AS BIGINT) AS dim,
           CAST(CASE WHEN scale = 0 THEN 0
                ELSE greatest(-127, least(127, round(val / scale))) END AS BIGINT) AS code,
           scale
         FROM x ORDER BY vec_id, dim""")),

    Case("q66_embed_centroids", (s, d) => {
      // exact per-label mean embedding (class centroids), decimal-routed
      Similarity.meanVectors(t(s, d, "embeddings"), Seq("label"), "embedding")
        .select(col("label"), col("dim").cast("long").as("dim"), col("mean_v"))
        .orderBy("label", "dim")
    }, oracle = Some(
      """WITH e AS (SELECT label,
             unnest(CAST(embedding AS DOUBLE[])) AS v,
             unnest(generate_series(1, len(embedding))) AS dim
           FROM embeddings)
         SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(sum(CAST(v AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS mean_v
         FROM e GROUP BY label, dim ORDER BY label, dim""")),

    Case("q24_knn_bruteforce", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id", k = 5)
        .orderBy("query_id", "rank")
    }, oracle = Some(
      // Exact cosine top-k is ANSI-expressible: DuckDB's
      // list_cosine_similarity on DOUBLE[] accumulates in double like the
      // native CosineSimilarity expression; ranks use the UNROUNDED score on
      // both sides, output rounds to 6dp (Similarity.bruteForceTopK contract).
      // q272 shares this replay verbatim: the JSONL ingest gate is
      // lossless (q268), so the ANN ranking over ingested vectors must
      // hash-equal the ranking over the source parquet
      annBruteOracle)),

    Case("q304_hard_negatives", (s, d) => {
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
    }, oracle = Some(
      // q24's scoring CTEs with the mining exclusions: the labeled positive
      // per query is its true top-1 (recomputed in SQL), plus the 0.95
      // false-negative margin — both applied before the re-rank
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
         ORDER BY query_id, rank""")),

    Case("q272_ingested_ann", (s, d) => {
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
    }, oracle = Some(annBruteOracle)),

    Case("q25_knn_lsh", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
        dim = 64, k = 5, tables = 8, bits = 8)
        .orderBy("query_id", "rank")
    }, oracle = None),

    Case("q51_knn_ivf", (s, d) => {
      // IVF coarse-quantizer ANN: train k-means cells, probe nearest cells,
      // exact rerank. Rows-only (centroid FP wobble is run-local).
      val emb = t(s, d, "embeddings")
      val model = graft.ext.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 3)
      graft.ext.Ivf.topK(model, emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }, oracle = None),

    Case("q118_knn_ivf_portable", (s, d) => {
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
    }, oracle = Some(
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${md5SeedsCte("seeds", "c_vec", "cell", "e", "8")},
         ${seedAssignCte("cell", "e", "seeds")},
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
         ORDER BY query_id, rank""")),

    Case("q168_knn_pq", (s, d) => {
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
    }, oracle = Some(
      // the engine's cell assignment (cosine argmax, centroid-index ties) and
      // re-rank replicated in SQL over the md5-seeded portable quantizer;
      // list_cosine_similarity's bit-parity with vectors.cosine is already
      // proven by q98's rank-on-raw-cosine hash match
      // PQ replay: seed codebooks = sub-slices of the 16 smallest-md5
      // vectors; sub-distances as nested-order list comprehensions, codes
      // via per-(vector, subspace) argmin, ADC totals as
      // list_sum(list(... ORDER BY j)) — every sum in the same sequential
      // order the native kernel uses, so raw doubles match bit-exactly
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${pqCodeCtes("seeds", "e", "sd")},
         ${scanAdcCte("sd")},
         $adcTopKTail""")),

    Case("q169_knn_ivfpq", (s, d) => {
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
    }, oracle = Some(
      // the q118 probing CTEs + the q168 ADC CTEs, joined: candidates come
      // from the probed cells only, scores stay the fixed-order ADC sums
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${md5SeedsCte("ivfseeds", "c_vec", "icell", "e", "8")},
         ${seedAssignCte("icell", "e", "ivfseeds")},
         probes AS (SELECT vec_id AS query_id, icell FROM (
             SELECT e.vec_id, s.icell,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY list_cosine_similarity(e.v, s.c_vec) DESC, s.icell) AS rn
             FROM e CROSS JOIN ivfseeds s WHERE e.vec_id < 10)
           WHERE rn <= 2),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
           FROM probes p JOIN asg a ON p.icell = a.icell
           WHERE a.vec_id <> p.query_id),
         ${pqCodeCtes("pqseeds", "e", "sd")},
         $candAdcCte,
         $adcTopKTail""")),

    Case("q291_knn_pq_trained", (s, d) => {
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
    }, oracle = Some(
      // the q168 chain + ONE replayed Lloyd step: assignment = argmin
      // seed sub-distance (ties to the lower cell), update = per
      // (subspace, cell, dim) mean of 6-dp coords as an exact decimal sum
      // divided in double and re-quantized to 6 dp; an empty cell keeps
      // its seed codeword via the LEFT JOIN coalesce — then the identical
      // ADC search under the refined codebooks
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${md5SeedsCte("seeds", "sv", "cell", "e", "16")},
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
         ${scanAdcCte("sd1")},
         $adcTopKTail""")),

    Case("q292_knn_pq_rerank", (s, d) => {
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
    }, oracle = Some(
      // the q168 ADC chain cut at the 50-deep shortlist, then the q24
      // cosine convention re-ranks raw vectors of shortlist rows only
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${pqCodeCtes("seeds", "e", "sd")},
         ${scanAdcCte("sd")},
         ${shortlistRerankTail("50")}""")),

    Case("q297_pq_rerank_scaled", (s, d) => {
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
    }, oracle = Some(
      // the q292 chain with the shortlist DERIVED in-oracle: S =
      // greatest(ceil(0.2 * count(*)), 10 * k) — the engine's sizing rule
      // recomputed from the corpus count, so a drifted derivation breaks
      // the hash
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         sl AS (SELECT greatest(CAST(ceil(0.2 * count(*)) AS BIGINT), 50) AS s
           FROM e),
         ${pqCodeCtes("seeds", "e", "sd")},
         ${scanAdcCte("sd")},
         ${shortlistRerankTail("(SELECT s FROM sl)")}""")),

    Case("q299_ann_index_probe", (s, d) => {
      // the persisted IVF-PQ index probed by an increment — the ANN
      // family's q284 (round 17): the standing corpus is encoded ONCE
      // (cell id + PQ codes, ~9 bytes/vector instead of 256 float
      // bytes) and persisted with its frozen models under the same
      // loud-params StateStore as the dedup states; the
      // query pays state LOAD + a broadcast probe join on the probed
      // cells only. Oracle = the q169 IVFADC composition over the
      // standing slice with incoming probes — results are
      // state-provenance-invariant (the q284 convention).
      val emb = t(s, d, "embeddings")
      val incoming = emb.where(col("vec_id") % 5 === 2)
      graft.ext.AnnIndex.probe(standingAnnIndex(s, d), incoming,
          "embedding", "vec_id", k = 5, nProbe = 2)
        .orderBy("query_id", "rank")
    }, oracle = Some(
      // the q169 IVFADC CTEs over the standing/incoming split: models and
      // index codes derive from the STANDING slice only, probes from the
      // incoming slice — the persisted state never appears (provenance
      // invariance, the q284 oracle convention). Shared with q307 (the
      // same probe with the increment ARRIVING as a stream: a query's
      // top-k is row-local given the frozen state, so the streamed sink
      // equals the batch probe under any cut).
      annIndexProbeOracle)),

    Case("q307_stream_ann_probe", (s, d) => {
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
    }, oracle = Some(annIndexProbeOracle)),

    Case("q310_hybrid_rrf", (s, d) => {
      // hybrid retrieval: the q182 BM25 ranking fused via RRF with a
      // dense ranking whose query vector comes from pseudo-relevance
      // feedback — engine body extracted to hybridRrf so ScaleBench can
      // inject replica-suffixed queries (see its scaladoc)
      SimilarityQueries.hybridRrf(s, d, bm25Queries)
    }, oracle = Some(
      // q182's BM25 CTEs verbatim, then the hybrid tail: PRF query vector
      // = per-dim DECIMAL sum of the bm25-top-3 embeddings (no division —
      // cosine is scale-invariant), dense rank by list_cosine_similarity,
      // RRF contributions rounded to 6dp and decimal-summed. No 1/(60+r)
      // lands on a rounding half-boundary: the only terminating value is
      // 1/64, exact at 6 places
      raw"""WITH ${bm25Ctes("text IS NOT NULL")},
        top3 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        $prfQueryCtes,
        dsc AS (SELECT q.query_id, e.vec_id AS doc_id,
            list_cosine_similarity(q.qvec, e.v) AS cs
          FROM qv q CROSS JOIN ev e),
        $rrfTail""")),

    Case("q311_hybrid_indexed", (s, d) => {
      // q310's hybrid retrieval with the dense side served by the
      // PERSISTED IVF-PQ index (probe at the derived shortlist depth,
      // exact cosine rerank) — engine body extracted to hybridIndexed
      // so ScaleBench can inject replica-suffixed queries
      SimilarityQueries.hybridIndexed(s, d, bm25Queries)
    }, oracle = Some(
      // q310's BM25 + PRF CTEs restricted to the standing slice, then the
      // q299/q305 index chain (derived nCells + derived shortlist depth,
      // nProbe 4) probed BY THE PRF VECTOR, exact cosine rerank of the ADC
      // shortlist, and the same RRF tail
      raw"""WITH ${bm25Ctes("text IS NOT NULL AND doc_id % 5 <> 2")},
        top3 AS (SELECT query_id, doc_id FROM r WHERE rnk <= 3),
        ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
        e AS (SELECT * FROM ev WHERE vec_id % 5 <> 2),
        $prfQueryCtes,
        ${derivedNCellsCte("e")},
        slsz AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 100) AS s
          FROM e),
        ${md5SeedsCte("ivfseeds", "c_vec", "icell", "e", "(SELECT k FROM nc)")},
        ${seedAssignCte("icell", "e", "ivfseeds")},
        probes AS (SELECT query_id, icell FROM (
            SELECT q.query_id, s.icell,
              row_number() OVER (PARTITION BY q.query_id
                ORDER BY list_cosine_similarity(q.qvec, s.c_vec) DESC, s.icell) AS rn
            FROM qv q CROSS JOIN ivfseeds s)
          WHERE rn <= 4),
        cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN asg a ON p.icell = a.icell),
        ${pqCodeCtes("pqseeds", "e", "sd")},
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
            list_cosine_similarity(q.qvec, e.v) AS cs
          FROM short sh
          JOIN qv q ON q.query_id = sh.query_id
          JOIN e ON e.vec_id = sh.neighbor_id),
        $rrfTail""")),

    Case("q309_mining_autotune", (s, d) => {
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
    }, oracle = Some(
      // the q305 probe chain ranked once, then the sweep: dials are
      // multiples of the derived S (prefix cuts of ONE ADC ranking — the
      // q296 nesting convention), each dial's mined list reranked exactly
      // with the q304 exclusions and scored against the exact mining
      // truth; recall = n_hit/n_truth through DECIMAL (n_truth = 50, so
      // the quotient terminates within 6 places in both engines)
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         ${annIndexCtes(4)},
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
         FROM res r, nt ORDER BY shortlist_s""")),

    Case("q306_retrieval_triplets", (s, d) => {
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
    }, oracle = Some(
      // the triplet builder's full replay: hygiene gate, same-label
      // positive/exclusion set, q304's margin+anti-join tail, margins
      // subtracted from the two rounded cosines
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
         ORDER BY query_id, rank""")),

    Case("q305_hard_negatives_indexed", (s, d) => {
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
    }, oracle = Some(
      // q299's probe CTEs at the DERIVED shortlist depth (the q297
      // convention: greatest(10k, ceil(0.02 N)) computed in SQL) and the
      // knee nProbe = 4, then the q304 mining tail: exact cosine rerank,
      // true-top-1 positive exclusion, 0.95 margin — the whole indexed
      // mining chain in one replay
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         ${annIndexCtes(4)},
         short AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY dist ASC, neighbor_id ASC) AS rnk
              FROM adc)
           WHERE rnk <= (SELECT s FROM sl)),
         $miningTail""")),

    Case("q312_hard_negatives_refined", (s, d) => {
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
    }, oracle = Some(
      // q305's chain with the SQ8 refine stage spliced between the ADC cut
      // and the exact rerank: ADC ranked 4x deeper, re-scored by the q264
      // exact-decimal dequantized dot under ranges fitted on the STANDING
      // slice (the refine tier's own corpus), cut back to the derived S by
      // (sq8 score DESC, neighbor ASC), then the identical exact tail
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         sl AS (SELECT greatest(CAST(ceil(0.02 * count(*)) AS BIGINT), 50) AS s
           FROM st),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2 AND vec_id < 50),
         ${annIndexCtes(4)},
         ${sq8RefineCtes("4 * (SELECT s FROM sl)")},
         short AS (SELECT query_id, neighbor_id FROM
             (SELECT query_id, neighbor_id, row_number() OVER
                (PARTITION BY query_id ORDER BY sc DESC, neighbor_id ASC) AS rnk2
              FROM sqs)
           WHERE rnk2 <= (SELECT s FROM sl)),
         $miningTail""")),

    Case("q313_stream_refined_probe", (s, d) => {
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
    }, oracle = Some(
      // q312's refined-probe CTEs with the FULL incoming slice and no
      // mining tail: the ADC ranking 4x deeper than k=5, SQ8 re-score
      // against the persisted refine codes, cut back to 5 BY SQ8 SCORE —
      // gating the STREAMED q313 verbatim (batch-boundary invariance, the
      // q299/q307 argument: the refine reads only frozen persisted state)
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         ${annIndexCtes(4)},
         ${sq8RefineCtes("20")},
         r AS (SELECT query_id, neighbor_id,
             CAST(round(sc, 6) AS DOUBLE) + 0 AS sq8_score,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY sc DESC, neighbor_id ASC) AS INTEGER) AS rank
           FROM sqs)
         SELECT query_id, neighbor_id, sq8_score, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank""")),

    Case("q300_ann_index_append", (s, d) => {
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
    }, oracle = Some(
      // q299's CTEs with models seeded from the BASE 80% only: appended
      // rows (the standing fifth) encode under the SAME base formulas —
      // append-then-probe replays exactly like rebuild-then-probe
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         st AS (SELECT * FROM e WHERE vec_id % 5 <> 2),
         base AS (SELECT * FROM st WHERE vec_id % 25 < 20),
         inc AS (SELECT * FROM e WHERE vec_id % 5 = 2),
         ${ivfProbeCtes("base", "8", 2)},
         ${pqCodeCtes("pqseeds", "base", "sd WHERE vec_id % 5 <> 2")},
         $candAdcCte,
         $adcTopKTail""")),

    Case("q137_semdedup_incr", (s, d) => {
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
    }, oracle = Some(
      // corpus seeds only (the generation's frozen model); increment checked
      // vs corpus cell-mates then vs smaller-id increment cell-mates
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         corp AS (SELECT * FROM e WHERE vec_id < 400),
         inc AS (SELECT vec_id, v FROM e WHERE vec_id >= 400
                 UNION ALL
                 SELECT vec_id + 200000, v FROM e
                 WHERE vec_id < 400 AND vec_id % 20 = 0),
         ${md5SeedsCte("seeds", "c_vec", "cell", "corp", "16")},
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
         ORDER BY i.vec_id""")),

    Case("q129_semdedup", (s, d) => {
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
    }, oracle = Some(
      // seed/assignment CTEs mirror q118's proven quantizer parity; dropped =
      // any smaller-id cell-mate at cosine >= 0.95 (canonical-min-id)
      raw"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         e AS (SELECT * FROM e0
               UNION ALL
               SELECT vec_id + 100000, v FROM e0 WHERE vec_id % 10 = 0),
         ${md5SeedsCte("seeds", "c_vec", "cell", "e", "16")},
         ${seedAssignCte("cell", "e", "seeds")},
         dropped AS (SELECT DISTINCT r.vec_id
           FROM asg l JOIN asg r ON l.cell = r.cell AND l.vec_id < r.vec_id
           JOIN e el ON el.vec_id = l.vec_id
           JOIN e er ON er.vec_id = r.vec_id
           WHERE list_cosine_similarity(el.v, er.v) >= 0.95)
         SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell FROM asg a
         WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
         ORDER BY a.vec_id""")),

    Case("q188_embedding_drift", (s, d) => {
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
    }, oracle = Some(
      // decimal-routed per-dim sums (float cast rounds the same exact binary
      // value in both engines), double means in identical evaluation order;
      // posexplode dim is 0-based -> i - 1
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
         FROM m ORDER BY dim""")),

    Case("q203_embedding_outliers", (s, d) => {
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
    }, oracle = Some(
      // q188's decimal-exact per-dim means assembled into a centroid list,
      // q24's list_cosine_similarity parity, deterministic asc-cosine ranks
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
         FROM r WHERE rnk <= 5 ORDER BY label, rnk""")),

    Case("q223_topic_clusters", (s, d) => {
      // user-facing k-means topic report (vs Ivf's internal quantizer):
      // md5-seeded centroids, 2 fixed Lloyd rounds with rounded-distance
      // argmin (ulp-proof ties on cluster id), exact-decimal coordinate
      // means; report = sizes + decimal inertia + modal label
      graft.ext.Clustering.report(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", k = 4, iters = 2)
        .orderBy("cluster")
    }, oracle = Some(kmeansOracle(4, 2))),

    Case("q228_semantic_decontaminate", (s, d) => {
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
    }, oracle = Some(
      // q24's cosine replay restricted to the eval slice; the flag compares
      // the ROUNDED cosine (both engines round before the cut)
      semanticScreenOracle)),

    Case("q295_ivf_autotune", (s, d) => {
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
    }, oracle = Some(
      // the q118 IVF replay swept over the dial ladder: one ranked-cells
      // CTE serves every dial (rn <= n_probe), truth = q24's brute-force
      // top-5, recall over integer pair counts, chosen = min dial >= 0.9
      raw"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         ${md5SeedsCte("seeds", "c_vec", "cell", "e", "8")},
         ${seedAssignCte("cell", "e", "seeds")},
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
         ORDER BY n_probe""")),

    Case("q296_lsh_autotune", (s, d) => {
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
    }, oracle = Some(
      // the q98 16-table plane replay swept over the dial ladder: dial t
      // buckets with tables tbl < t (the plane set nests), truth = the
      // brute-force top-5, recall/chosen as in the q295 IVF sweep
      {
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
    })),

    Case("q231_cluster_cards", (s, d) => {
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
    }, oracle = Some(clusterCardsOracle(4, 2, 3))),

    Case("q232_stream_semantic_decon", (s, d) => {
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
    }, oracle = Some(
      // the batch screen's replay verbatim: the streamed screen is
      // stateless row-local, so Append mode == batch under any cut
      semanticScreenOracle)),

    Case("q263_sq8_report", (s, d) => {
      // SQ8 scalar quantization fidelity card: per-dim corpus ranges ->
      // one byte per coordinate -> per-doc code stats (integer-exact) +
      // reconstruction error as an exact decimal sum — the first rung of
      // the quantization ladder (4x memory vs float32), under the strict
      // hash oracle
      graft.ext.Sq8.quantizeReport(
          t(s, d, "embeddings"), "vec_id", "embedding", dim = 64)
        .orderBy("vec_id")
    }, oracle = Some(
      // the SQ8 chain + per-doc rollup: integer code stats and the exact
      // decimal |x - round(dequant, 6)| sum — order-free, engine-exact
      (sq8Ctes + """,
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
         FROM er GROUP BY vec_id ORDER BY vec_id"""))),

    Case("q264_sq8_ann", (s, d) => {
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
    }, oracle = Some(
      // the SQ8 chain + exact-decimal dequantized dots (D = 255*lo +
      // code*(hi-lo), scale 6; products scale 12) and a row_number top-k —
      // ranking is tie-broken on (score desc, id asc), a total order over
      // exact decimals: hash-exact ANN faithful to the raw inner product
      (sq8Ctes + """,
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
         FROM r WHERE rank <= 5 ORDER BY query_id, rank"""))),

    Case("q262_pca_projection", (s, d) => {
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
    }, oracle = Some(
      // the full chain once more + the per-doc exact decimal dot product
      // with the round-3 iterate — matrix -> direction -> projection under
      // one oracle
      powerIterationCtes + """
         SELECT x.vec_id, CAST(sum(x.xi * v3.v) AS DOUBLE) AS proj
         FROM x JOIN v3 USING (i)
         GROUP BY x.vec_id ORDER BY x.vec_id""")),

    Case("q261_top_component", (s, d) => {
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
    }, oracle = Some(
      // the covariance chain + 3 unrolled power-iteration rounds: decimal
      // matrix-vector products are exact (scales sized to stay under
      // DuckDB's precision-38 cap), per-round max-normalization divides in
      // double and re-quantizes to 6 dp — the q222 PageRank iterate
      // convention applied to the spectral step
      powerIterationCtes + """
         SELECT i, CAST(v AS DOUBLE) AS loading FROM v3 ORDER BY i""")),

    Case("q260_embedding_covariance", (s, d) => {
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
    }, oracle = Some(
      // exact decimal moment sums (per-row double products cast once),
      // fixed double tree for cov — both engines run the identical IEEE ops
      (covCtes + """
         SELECT i, j, n, sx, sy, sxy, cov FROM cv ORDER BY i, j"""))),

    Case("q194_sparse_cosine", (s, d) => {
      // inverted-index all-pairs tf cosine: postings equi-join under the
      // df cap (join fan-out <= maxDf * |postings|), integer dots, one
      // IEEE double tree for the score, deterministic rounded-score top-k
      Similarity.sparseCosineTopK(
          fanOut(s, t(s, d, "documents"), "doc_id"), "doc_id", "text",
          k = 10, maxDf = 100)
        .orderBy(col("cosine").desc, col("id_l"), col("id_r"))
    }, oracle = Some(
      // postings replay: tf, df <= 100 cut, integer dot over kept terms,
      // full-term norms, one double tree, rounded-score + id top-10
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
         ORDER BY cosine DESC, id_l, id_r LIMIT 10""")),

    Case("q182_bm25_search", (s, d) => {
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
    }, oracle = Some(
      // BM25 replay: same tokenization as q162, rational idf (N+1)/(df+0.5),
      // per-term double math in the IDENTICAL evaluation order, 6-dp round,
      // decimal total — scores and ranks both exact
      raw"""WITH ${bm25Ctes("text IS NOT NULL")}
        SELECT CAST(query_id AS BIGINT) AS query_id, rnk, doc_id, score
        FROM r WHERE rnk <= 10 ORDER BY query_id, rnk""")),

    Case("q98_knn_lsh_portable", (s, d) => {
      // LSH ANN with a FULL hash oracle: Rademacher planes from MD5
      // (portablePlanes) make buckets — hence candidates, hence the top-k —
      // bit-identical in any engine; the oracle SQL below interpolates the
      // same planes. q25 stays the seeded-PRNG production variant.
      val emb = t(s, d, "embeddings")
      Similarity.lshTopKPortable(emb, emb.where(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", queryIdCol = "vec_id",
        dim = 64, k = 5, tables = 4, bits = 8)
        .orderBy("query_id", "rank")
    }, oracle = Some(
      // planes interpolated from Similarity.portablePlanes — the SAME ±1
      // matrix the Spark plan uses, so buckets/candidates/top-k cannot drift
      {
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
    })),
  )
}
