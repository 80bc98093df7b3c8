package graft.queries

import org.apache.spark.sql.functions._

import graft.ext.Dedup
import graft.functions.text
import graft.ops.Ops

/** Corpus curation: splits, shards and samples, mixtures and schedules,
  * packing and budgets, quality filters and classifiers, DSIR selection,
  * manifests and the declared end-to-end curation pipelines.
  */
object CurationQueries extends Family {
  import Shared._

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

  /** Shared by q255 (batch AUC readout) and q256 (the same monitor over
    * a streamed corpus): the NB score chain + doubled rank sums.
    */
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

  /** q180's frozen mixture weights (source -> integer weight, lowest
    * terms): the four weight classes 1..4 over the 20 sources, lcm 12 —
    * ONE definition interpolated into both the Scala map and the oracle's
    * VALUES literal so they can never drift.
    */
  private val interleaveWeights: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (1L + i % 4)).toMap

  private val interleaveWeightsLit: String = interleaveWeights.toSeq.sorted
    .map { case (s, w) => s"('$s', $w)" }.mkString(", ")

  val cases: Seq[Case] = Seq(

    Case("q56_dataset_split", (s, d) => {
      // deterministic content-hash train/val/test split (80/10/10): split
      // follows the VALUE, so duplicate content can never straddle splits
      graft.ext.Splits.byContentHash(t(s, d, "documents"), "text",
        weights = Seq(0.8, 0.1, 0.1), labels = Seq("train", "val", "test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("split")
    }, oracle = Some(
      // thresholds = round(cumweight * 2^32): 0.8 -> 3435973837, 0.9 -> 3865470566
      """WITH s AS (SELECT n_chars, CASE
           WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3435973837 THEN 'train'
           WHEN CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) < 3865470566 THEN 'val'
           ELSE 'test' END AS split
         FROM documents)
         SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         FROM s GROUP BY split ORDER BY split""")),

    Case("q57_sequence_packing", (s, d) => {
      // concat-then-chunk packing: per source, docs in doc_id order fill
      // 2048-token packs; verify pack membership and per-pack totals
      val docs = t(s, d, "documents")
        .withColumn("n_tokens", text.tokenCount(col("text")).cast("long"))
      graft.ext.Packing.concatChunk(docs, "n_tokens", "doc_id",
        budget = 2048L, groupCols = Seq("source"))
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
        .orderBy("source", "pack_id")
    }, oracle = Some(
      """WITH d AS (SELECT doc_id, source,
           CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
         FROM documents),
         o AS (SELECT source, n_tokens,
           coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
         FROM d)
         SELECT source, CAST(floor(start_off / 2048) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         FROM o GROUP BY source, pack_id ORDER BY source, pack_id""")),

    Case("q119_packed_blocks", (s, d) => {
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
    }, oracle = Some(
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
         FROM blocks ORDER BY source, block_id""")),

    Case("q58_mixture_sample", (s, d) => {
      // deterministic mixture resampling: 50/25/25 target over three
      // sources; binding source kept whole, others hash-downsampled
      graft.ext.Mixtures.sampleToMixture(t(s, d, "documents"), "source", "text",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }, oracle = Some(
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
         GROUP BY d.source ORDER BY d.source""")),

    Case("q219_domain_cap", (s, d) => {
      // over-representation cap (C4/RefinedWeb "no domain dominates"):
      // keep <= 10 docs per source in deterministic (md5(id), id) order —
      // GroupTopK heap, O(cap) shuffle rows per (source, partition)
      graft.ext.Selection.capPerGroup(
          t(s, d, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", cap = 10)
        .orderBy("source", "pick")
    }, oracle = Some(
      """WITH h AS (SELECT doc_id, source, n_chars,
             md5(CAST(doc_id AS VARCHAR)) AS hh FROM documents),
         r AS (SELECT doc_id, source, n_chars,
             CAST(row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
               AS BIGINT) AS pick FROM h)
         SELECT doc_id, source, n_chars, pick FROM r
         WHERE pick <= 10 ORDER BY source, pick""")),

    Case("q222_host_pagerank", (s, d) => {
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
    }, oracle = Some(pageRankOracle(5))),

    Case("q227_padding_report", (s, d) => {
      // dynamic-batching cost model: whitespace token counts -> 64-wide
      // length buckets -> longest-first batches of 8 padded to their own
      // max; integer-exact waste accounting per bucket
      graft.ext.Packing.paddingReport(
          t(s, d, "documents").where(col("text").isNotNull)
            .select(col("doc_id"),
              graft.functions.text.tokenCount(col("text")).as("n_tok")),
          "n_tok", "doc_id", bucketWidth = 64, batchSize = 8)
        .orderBy("bucket")
    }, oracle = Some(
      // the batching replay: 64-wide buckets, longest-first batches of 8,
      // each padded to its own max; all sums CAST back to BIGINT
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
         FROM pb GROUP BY 1 ORDER BY 1""")),

    Case("q235_corpus_manifest", (s, d) => {
      // dataset-versioning fingerprint: 16 hash shards + a chained root
      // row, all md5-over-strings — two corpora are byte-identical iff
      // the root digests match
      graft.ext.Report.manifest(t(s, d, "documents"), "doc_id", "text",
          shards = 16)
        .orderBy("shard")
    }, oracle = Some(
      // md5 digest chain: per-doc md5(id:text), shard digest over id-ordered
      // concat, root (-1) over shard-ordered concat — string_agg replays the
      // engine's sorted collect exactly
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
         ORDER BY shard""")),

    Case("q239_manifest_diff", (s, d) => {
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
    }, oracle = Some(
      // the digest chain replayed on both corpus versions; the diff is a
      // 17-row full outer join of the two manifests
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
         ORDER BY shard""")),

    Case("q248_classifier_stats", (s, d) => {
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
    }, oracle = Some(
      // the fit's oracle surface: per-bucket occurrence counts (the md5
      // bucket map of q128's scorer) + the two class-size marker rows;
      // the sigmoid rounds the counts feed are spec-asserted, not oracled
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
         ORDER BY bucket""")),

    Case("q265_chi2_features", (s, d) => {
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
    }, oracle = Some(
      // eight integer cells per token, the identical left-associated double
      // tree on both engines, ranks on the unrounded statistic
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
         FROM r WHERE rank <= 50 ORDER BY rank""")),

    Case("q257_classifier_ap", (s, d) => {
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
    }, oracle = Some(
      // the same scored frame under the PR lens: tie-robust threshold AP
      apOracle)),

    Case("q256_stream_classifier_auc", (s, d) => {
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
    }, oracle = Some(
      // additive (source, score) counts: Complete-mode streaming equals
      // the batch frame under any cut — one oracle gates both paths
      aucBucketedOracle)),

    Case("q255_classifier_auc", (s, d) => {
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
    }, oracle = Some(
      // NB score chain + per-source doubled rank sums: ties carry the
      // doubled average rank (an integer), so u2 and the 6-dp auc are
      // engine-exact
      aucOracle)),

    Case("q254_nb_incremental", (s, d) => {
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
    }, oracle = Some(
      // suff-stats are additive, so the merged-increments model IS the
      // one-shot model — the same oracle gates the incremental path
      nbClassifierOracle)),

    Case("q253_anneal_schedule", (s, d) => {
      // 3-phase annealed data curriculum (natural proportions -> 3/4 ->
      // sqrt temperature, 10k units each): quarter-restricted alphas
      // keep every tempered mass a sqrt chain — correctly-rounded IEEE
      // ops, so the whole schedule sits under the hash oracle where an
      // arbitrary pow() could not
      graft.ext.Mixtures.annealSchedule(t(s, d, "documents"), "source",
          phases = 3, budgetPerPhase = 10000L)
        .orderBy("phase", "source")
    }, oracle = Some(
      // the q86 sqrt convention extended to the whole quarter family:
      // n^(3/4) = sqrt(n)*sqrt(sqrt(n)) is correctly-rounded IEEE in both
      // engines; phase quarters hardcoded = the exact integer interpolation
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
         ORDER BY phase, source""")),

    Case("q251_nb_classifier", (s, d) => {
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
    }, oracle = Some(
      // trained NB replayed end to end: per-bucket floor-ln weights, the
      // same-quantized prior, integer score sums — the q134 floor argument
      // makes every number engine-exact
      nbClassifierOracle)),

    Case("q181_priority_sample", (s, d) => {
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
    }, oracle = Some(
      // the Duffield-Lund-Thorup scheme replayed verbatim: integer priority
      // (w * 2^32) // u, rank by (priority DESC, id), tau = rank k+1,
      // est = max(w, tau) — all BIGINT, no float anywhere
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
        FROM r, tau WHERE rn <= 100 ORDER BY doc_id""")),

    Case("q180_mixture_interleave", (s, d) => {
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
    }, oracle = Some(
      // stride scheduling replayed verbatim: per-source rank -> scaled
      // virtual time (2*rn-1)*(lcm/w) in exact BIGINT -> global order
      s"""WITH w AS (SELECT * FROM (VALUES $interleaveWeightsLit) AS t(source, wt)),
         r AS (SELECT d.doc_id, d.source, w.wt,
             row_number() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rn
           FROM documents d JOIN w USING (source)),
         o AS (SELECT doc_id, source, (2*rn - 1) * (12 // wt) AS ord FROM r)
         SELECT doc_id, source,
           row_number() OVER (ORDER BY ord, source, doc_id) AS pos
         FROM o ORDER BY pos""")),

    Case("q176_nextfit_pack", (s, d) => {
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
    }, oracle = Some(
      // the next-fit fill recurrence (reset on overflow — not a cumsum)
      // replayed row-at-a-time: rank docs per source, recurse rn -> rn+1
      // carrying (fill, bin); an oversize doc overflows into its own bin
      // by the same CASE with no special-casing
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
        FROM walk ORDER BY doc_id""")),

    Case("q175_waterfill_alloc", (s, d) => {
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
    }, oracle = Some(
      // the waterfill walk as window cumsums: a source saturates iff
      // cap*wrem <= brem*mass under the cap/mass-ascending order; the
      // prefix-AND freezes the frontier row, whose (brem, wrem) is the
      // water level every later source drinks from (integer // floor)
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
        FROM g ORDER BY source""")),

    Case("q135_source_overlap", (s, d) => {
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
    }, oracle = Some(
      """WITH all0 AS (SELECT doc_id, text, source FROM documents
             WHERE text IS NOT NULL
           UNION ALL
           SELECT doc_id + 100000, text, source || '-m' FROM documents
             WHERE text IS NOT NULL AND doc_id % 7 = 0),
         h AS (SELECT DISTINCT md5(text) AS h, source FROM all0)
         SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared
         FROM h a JOIN h b ON a.h = b.h AND a.source < b.source
         GROUP BY 1, 2 ORDER BY source_a, source_b""")),

    Case("q134_dsir_select", (s, d) => {
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
    }, oracle = Some(
      // quantized log-odds: floor(1000*ln((tc+1)/(sc+1))) — a 1-ulp ln
      // disagreement cannot flip floor (needs the product within ~1e-12 of
      // an integer), so the integer scores are engine-exact
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
         ORDER BY doc_id""")),

    Case("q138_dsir_native", (s, d) => {
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
    }, oracle = None),

    Case("q81_shard_assign", (s, d) => {
      graft.ext.Splits.shardAssign(t(s, d, "documents"), "text", "doc_id",
        nShards = 8)
        .select(col("doc_id"), col("shard"), col("ordinal"))
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH s AS (SELECT doc_id,
             CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT) % 8 AS shard
           FROM documents)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS ordinal
         FROM s ORDER BY doc_id""")),

    Case("q82_sample_exact", (s, d) => {
      graft.ext.Splits.sampleExact(t(s, d, "documents"), "text", "doc_id", n = 100)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, source FROM
         (SELECT doc_id, source FROM documents
          ORDER BY md5(text), doc_id LIMIT 100)
         ORDER BY doc_id""")),

    Case("q83_source_quota", (s, d) => {
      // per-domain quota cap (web-corpus curation): keep at most 10 docs per
      // source, priority by content hash — deterministic, partition-invariant
      Ops.topKPerGroup(t(s, d, "documents"), Seq("source"),
        Seq(md5(col("text")).asc, col("doc_id").asc), k = 10)
        .select(col("source"), col("rnk"), col("doc_id"))
        .orderBy("source", "rnk")
    }, oracle = Some(
      """WITH r AS (SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(text), doc_id) AS rn
           FROM documents)
         SELECT source, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM r WHERE rn <= 10 ORDER BY source, rnk""")),

    Case("q86_mixture_temperature", (s, d) => {
      // p^alpha source rebalancing at alpha=0.5 (sqrt is correctly rounded,
      // so weights are bit-identical across engines — see temperatureWeights)
      graft.ext.Mixtures.temperatureWeights(t(s, d, "documents"), "source",
        alpha = 0.5, budget = 10000L)
        .orderBy("source")
    }, oracle = Some(
      // sqrt (not pow) on both sides: IEEE-correctly-rounded, so per-source
      // terms are bit-identical across engines; the normalizer sum is
      // decimal-routed (dsum convention) to kill merge-order dependence
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z FROM c)
         SELECT source, n, round(sqrt(n) / z, 6) AS weight,
           CAST(round(10000 * sqrt(n) / z) AS BIGINT) AS alloc
         FROM c, z ORDER BY source""")),

    Case("q140_curation_pipeline", (s, d) => {
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
    }, oracle = Some(
      // the composed CTE chain of the q132/q133/q131/q128/q127 oracles —
      // every stage fragment is individually proven by its own query
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
         FROM kept GROUP BY source ORDER BY source""")),

    Case("q90_corpus_pipeline", (s, d) => {
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
    }, oracle = Some(
      // the q63 normalize, q88 filter, q20 dedup and q56 split CTEs chained
      // on the cleaned text — the whole-pipeline differential test
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
         FROM spl GROUP BY split ORDER BY split""")),

    Case("q88_quality_filter", (s, d) => {
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
    }, oracle = Some(
      // stopword inventories interpolated from text.stopwords so the oracle
      // can never drift from the engine's lists
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
         FROM rs ORDER BY doc_id""")),

    Case("q89_mixture_apply", (s, d) => {
      // q86's allocations actually applied: exactly alloc_s docs per
      // source in deterministic hash order (GroupTopK + broadcast allocs)
      graft.ext.Mixtures.applyTemperature(t(s, d, "documents"), "source",
        "doc_id", alpha = 0.5, budget = 300L)
        .select(col("source"), col("rnk"), col("doc_id"))
        .orderBy("source", "rnk")
    }, oracle = Some(
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         z AS (SELECT CAST(sum(CAST(sqrt(n) AS DECIMAL(28,6))) AS DOUBLE) AS z FROM c),
         a AS (SELECT source, CAST(round(300 * sqrt(n) / z) AS BIGINT) AS alloc FROM c, z),
         r AS (SELECT source, doc_id, row_number() OVER (PARTITION BY source
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
         SELECT r.source, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM r JOIN a USING (source) WHERE rn <= alloc ORDER BY source, rnk""")),

    Case("q117_mixture_upsample", (s, d) => {
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
    }, oracle = Some(
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
         FROM x ORDER BY source, rnk, epoch""")),

    Case("q87_group_sample", (s, d) => {
      // deterministic per-group k-sample: order inside each group by a
      // cross-engine content hash (md5) and keep the first k with the
      // native heap operator — a reproducible reservoir sample per language
      val docs = t(s, d, "documents")
        .withColumn("hk", md5(col("doc_id").cast("string")))
      graft.plans.GroupTopK(docs, Seq("lang"),
        Seq("hk" -> true, "doc_id" -> true), k = 5)
        .select(col("lang"), col("rnk"), col("doc_id"))
        .orderBy("lang", "rnk")
    }, oracle = Some(
      """SELECT lang, CAST(rn AS BIGINT) AS rnk, doc_id
         FROM (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
               FROM documents)
         WHERE rn <= 5 ORDER BY lang, rnk""")),

    Case("q114_budget_select", (s, d) => {
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
    }, oracle = Some(
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
             sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id) AS cum
           FROM documents)
         WHERE cum <= 100000 ORDER BY doc_id""")),

    Case("q115_budget_by_source", (s, d) => {
      // per-source budget selection: the partition-parallel window form —
      // the one to prefer at scale whenever a grouping key exists
      import graft.ext.Selection
      Selection.budgetSelectByGroup(t(s, d, "documents"), Seq("source"),
          scoreCol = "n_chars", costCol = "n_chars", tieCol = "doc_id",
          budgetPerGroup = 2000L)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars,
             sum(n_chars) OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS cum
           FROM documents)
         WHERE cum <= 2000 ORDER BY doc_id""")),

    Case("q113_stream_quality", (s, d) => {
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
    }, oracle = Some(
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
         WHERE violations <> '' ORDER BY event_id""")),
  )
}
