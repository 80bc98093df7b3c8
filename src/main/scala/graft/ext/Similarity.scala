package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k for a BOUNDED query set — the
  *    query side is broadcast, so the corpus streams once per partition with
  *    no shuffle of the corpus. Correct baseline at any corpus size as long
  *    as |queries| is small.
  *  - [[lshTopK]]: random-hyperplane LSH bucketed candidates (multi-table
  *    for recall), exact cosine re-rank inside buckets — the scale path when
  *    the query set is itself huge: everything is bucket equi-joins, never a
  *    cross join.
  */
object Similarity {

  /** Shared per-query top-k tail on the GroupTopK heap operator: each
    * query is ONE hot group holding its whole candidate set — the heap's
    * O(n log k) beats the window form's per-partition full sort there,
    * and the exchange carries at most k rows per (query, partition)
    * instead of every scored candidate. (cosine desc, neighbor asc) is a
    * total order, so ranks are deterministic; output schema and rounding
    * are unchanged, so every oracle gates as before.
    */
  private def cosineTopKRank(scored: DataFrame, k: Int): DataFrame =
    graft.plans.GroupTopK(scored, Seq("query_id"),
        Seq(("cosine", false), ("neighbor_id", true)), k, rankName = "rank")
      .select(col("query_id"), col("neighbor_id"),
        // + 0.0 normalizes signed zero: a near-orthogonal tiny-negative
        // cosine rounds to -0.0 in DuckDB, +0.0 in Spark (q260 convention)
        (round(col("cosine"), 6) + lit(0.0)).as("cosine"),
        col("rank").cast("int").as("rank"))

  /** Exact top-k: for every row of `queries`, the `k` nearest `corpus` rows
    * by cosine. `queries` is broadcast — keep it bounded (the 100 TB-scale
    * contract: corpus huge, probe set small).
    *
    * `excludeSelf` filters neighbor_id == query_id; only set it when queries
    * are drawn FROM the corpus under one id space — with distinct id spaces
    * it would silently drop an unrelated corpus row per query.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val scored = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q) // broadcast nested loop; corpus never shuffles
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
    cosineTopKRank(scored, k)
  }

  /** Hard-negative mining for retrieval / contrastive training: for every
    * query, the `k` MOST similar corpus rows that are NOT labeled
    * positives — the negatives that actually move a contrastive loss
    * (random negatives are trivially separable; the informative ones sit
    * just below the positives in similarity). Exclusions, in order:
    *  - self (`neighbor_id == query_id`);
    *  - every `(query_id, pos_id)` pair in `positives` (broadcast
    *    anti-join — the label set is bounded like the query set);
    *  - any candidate with cosine >= `excludeAbove`: the standard
    *    false-negative guard — a corpus row THAT similar to the query is
    *    far more likely an unlabeled positive (near-dup of the labeled
    *    one) than a hard negative, and training against it teaches the
    *    model to push true matches apart.
    *
    * Exact face: scores the full corpus per query (the [[bruteForceTopK]]
    * broadcast contract — corpus never shuffles, queries bounded). At
    * index scale, probe [[AnnIndex]] for a shortlist and rerank exactly,
    * then apply the same exclusions; the exact face is the oracle.
    * Output: `(query_id, neighbor_id, cosine, rank)`, cosine rounded to
    * 6 (the shared ANN display convention).
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      posIdCol: String = "pos_id",
      k: Int = 10, excludeAbove: Double = 0.95): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("q_vec")))
    val pos = broadcast(positives.select(col(queryIdCol).as("query_id"),
      col(posIdCol).as("neighbor_id")).distinct())
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .join(q) // broadcast nested loop; corpus never shuffles
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
      .where(col("cosine") < excludeAbove)
      .join(pos, Seq("query_id", "neighbor_id"), "left_anti")
    cosineTopKRank(scored, k)
  }

  /** [[hardNegatives]] over an ANN shortlist instead of the full corpus —
    * the index-scale mining shape: probe [[AnnIndex]] (or any candidate
    * generator) for `(query_id, neighbor_id)` candidates, fetch the
    * candidate vectors by one broadcast equi-join (the corpus never
    * shuffles and never streams past the queries), rerank EXACTLY by
    * cosine, then apply the same three exclusions as the exact face.
    * Recall is the shortlist's (size it with [[miningShortlistSize]] —
    * q305 does); everything after the shortlist is exact, so a labeled
    * positive inside the shortlist is excluded with certainty, never by
    * approximation.
    *
    * Measured (RecallBench mining rows, recall vs the exact mining list
    * — note the mining shell sits at similarity ranks 2..k+1, wider than
    * the top-k the other ANN faces chase). At 25x: fixed S=100 / seed
    * models / nProbe 2 = 0.21; derived S / nProbe 4 = 0.46; + TRAINED
    * models = 0.59; + probe all cells = 0.65 (the remaining gap is
    * ADC-shortlist loss at the 2% shell, not pruning). At 100x (200k
    * vectors) the contrast sharpens: fixed S collapses to 0.16 while
    * derived+trained RISES to 0.75 (the 2% shell deepens with the
    * corpus) — derived sizing + a trained quantizer are the
    * scale-robust setting. Index quality is the recall dial;
    * [[hardNegatives]] is the full-recall exact face when the probe set
    * is bounded.
    */
  def hardNegativesShortlisted(
      corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      shortlist: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      posIdCol: String = "pos_id",
      k: Int = 10, excludeAbove: Double = 0.95): DataFrame = {
    val pos = broadcast(positives.select(col(queryIdCol).as("query_id"),
      col(posIdCol).as("neighbor_id")).distinct())
    val scored = shortlistScored(corpus, queries, shortlist, idCol, vecCol,
        queryIdCol)
      .where(col("neighbor_id") =!= col("query_id"))
      .where(col("cosine") < excludeAbove)
      .join(pos, Seq("query_id", "neighbor_id"), "left_anti")
    cosineTopKRank(scored, k)
  }

  /** The shared shortlist fetch+score stage of both shortlist faces:
    * candidate vectors arrive by ONE broadcast equi-join on the
    * (bounded: |queries| x S) candidate pairs — the corpus never
    * shuffles and never streams past the queries — and every candidate
    * is scored EXACTLY. `(query_id, neighbor_id, cosine)`, unrounded.
    */
  private def shortlistScored(
      corpus: DataFrame, queries: DataFrame, shortlist: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String): DataFrame = {
    val q = broadcast(queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).as("q_vec")))
    broadcast(shortlist.select(col("query_id"), col("neighbor_id")).distinct())
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
      .drop("q_vec", "c_vec")
  }

  /** Exact cosine rerank of an ANN shortlist — the RETRIEVAL face of
    * [[hardNegativesShortlisted]]: no positive anti-join, no
    * near-positive margin, and self-exclusion OFF by default (retrieval
    * query ids usually live in a different id space than doc ids, the
    * [[bruteForceTopK]] excludeSelf caveat). Everything after the
    * shortlist is exact, so the result equals [[bruteForceTopK]]
    * whenever the shortlist contains the true top-k — recall is the
    * SHORTLIST's (size it with [[miningShortlistSize]]); the wall is
    * the index probe's, not the corpus scan's. Output
    * `(query_id, neighbor_id, cosine, rank)`, the shared ANN display
    * convention.
    */
  def shortlistRerankTopK(
      corpus: DataFrame, queries: DataFrame, shortlist: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int = 10, excludeSelf: Boolean = false): DataFrame = {
    val scored = shortlistScored(corpus, queries, shortlist, idCol, vecCol,
      queryIdCol)
    cosineTopKRank(
      if (excludeSelf) scored.where(col("neighbor_id") =!= col("query_id"))
      else scored, k)
  }

  /** Measured mining-shortlist sweep (the [[lshTablesSweep]] convention
    * applied to [[hardNegativesShortlisted]]): dial = absolute shortlist
    * depth, each dial evaluated against the EXACT mining list on the
    * same corpus/positives/margin. `rankedShortlist` is ONE probe of the
    * index at the DEEPEST dial carrying its `rank` column — shallower
    * dials are prefix cuts of it (the shortlist nests like the q296
    * plane tables), so the whole sweep replays in SQL from one ADC
    * ranking and the engine pays one probe, not one per dial.
    *
    * `exactTruth`, when injected, must be the MINING list
    * ([[hardNegatives]]: positive-anti-joined, margin-excluded) — NOT
    * plain cosine top-k, which is the truth family of the nProbe/LSH
    * sweeps (see [[sweepTruth]]).
    */
  def miningShortlistSweep(
      corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      rankedShortlist: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      posIdCol: String = "pos_id",
      k: Int = 10, excludeAbove: Double = 0.95,
      recallTarget: Double = 0.9,
      dials: Seq[Int] = Seq.empty,
      exactTruth: Option[DataFrame] = None): DataFrame = {
    require(dials.nonEmpty, "pass the shortlist depths to sweep")
    val truth = sweepTruth(exactTruth)(
      hardNegatives(corpus, queries, positives, idCol, vecCol,
        queryIdCol, posIdCol, k, excludeAbove))
    recallSweep(truth, dials, s =>
      hardNegativesShortlisted(corpus, queries, positives,
        rankedShortlist.where(col("rank") <= s), idCol, vecCol,
        queryIdCol, posIdCol, k, excludeAbove),
      recallTarget, "shortlist_s")
  }

  /** Pick the smallest shortlist depth whose MEASURED mining recall
    * reaches `recallTarget` — the [[miningShortlistSweep]] knee; falls
    * back loudly to the deepest dial when none reaches it. Returns
    * `(shortlistS, measuredRecall)`. Run it on a bounded query sample;
    * the exact-truth pass scans the corpus once per sweep.
    */
  def autoTuneMiningShortlist(
      corpus: DataFrame, queries: DataFrame, positives: DataFrame,
      rankedShortlist: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      posIdCol: String = "pos_id",
      k: Int = 10, excludeAbove: Double = 0.95,
      recallTarget: Double = 0.9,
      dials: Seq[Int] = Seq.empty,
      exactTruth: Option[DataFrame] = None): (Int, Double) =
    pickChosen(
      miningShortlistSweep(corpus, queries, positives, rankedShortlist,
        idCol, vecCol, queryIdCol, posIdCol, k, excludeAbove,
        recallTarget, dials, exactTruth),
      "shortlist_s", recallTarget, "autoTuneMiningShortlist")

  /** Reciprocal-rank fusion of per-query rankings — the standard hybrid-
    * retrieval combiner (BM25 + dense is the classic pair): fused
    * score(q, d) = sum over rankings of 1/(k0 + rank_r(q, d)), absent
    * docs contributing nothing. Fusing RANKS makes incomparable score
    * scales (BM25 mass vs cosine vs ADC distance) composable with no
    * calibration, and k0 (=60, the published default) damps the head so
    * one ranking's top hit cannot dominate alone.
    *
    * Each input frame carries `(query_id, doc_id, rank)`. Per-row
    * contributions are IEEE doubles rounded to 6dp and DECIMAL-summed
    * (the bm25Search term-score convention), so fused scores are
    * bit-reproducible at any parallelism and SQL-replayable. Ranking on
    * the [[graft.plans.GroupTopK]] heap; (score desc, doc_id asc) is a
    * total order. Scale shape: one union of k-bounded ranking frames +
    * one (query, doc)-keyed partial-agg shuffle — never corpus-sized.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10, k0: Int = 60)
      : DataFrame = {
    require(rankings.nonEmpty, "at least one ranking required")
    require(k >= 1, "k must be >= 1")
    require(k0 >= 1, "k0 must be >= 1")
    val contribs = rankings.map(_.select(col("query_id"), col("doc_id"),
        round(lit(1.0) / (lit(k0) + col("rank").cast("double")), 6)
          .cast("decimal(18,6)").as("__c")))
      .reduce(_.unionByName(_))
    val fused = contribs.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).cast("double").as("rrf_score"))
    graft.plans.GroupTopK(fused, Seq("query_id"),
        Seq("rrf_score" -> false, "doc_id" -> true), k, rankName = "rank")
      .select(col("query_id"), col("doc_id"), col("rrf_score"),
        col("rank").cast("int").as("rank"))
  }

  /** THE shortlist sizing rule for both rerank families —
    * [[Pq.adcRerankTopK]] (q297) delegates here and the mining probe
    * (q305) calls it directly, so there is exactly one copy of
    * S = max(10k, ceil(frac * N)) capped at Int.MaxValue. Encoded in code
    * because the dilution is MEASURED (RecallBench: fixed S = 100 read
    * recall-vs-exact-mining 0.42 at 1x falling to 0.21 at 25x, and ADC
    * rerank 0.78 -> 0.56 the round before; the derived size holds both
    * curves flat). `frac` defaults to [[Pq.DefaultShortlistFrac]]'s
    * measured shell fraction.
    */
  def miningShortlistSize(corpusCount: Long, k: Int,
      frac: Double = Pq.DefaultShortlistFrac): Int = {
    require(k >= 1, "k must be >= 1")
    require(corpusCount >= 0, "corpusCount must be >= 0")
    require(frac > 0.0 && frac <= 1.0, "frac must be in (0, 1]")
    math.min(math.max(math.ceil(frac * corpusCount).toLong, 10L * k),
      Int.MaxValue.toLong).toInt
  }

  /** Exact per-group mean embedding (class centroids / topic vectors),
    * flat shape `(groupCols..., dim, mean_v)` with 1-based dims. Per-dim
    * sums route through DECIMAL (the repo-wide `dsum` convention), so group
    * means are bit-reproducible at any parallelism and SQL-oracle-exact —
    * a raw double sum would drift with partial-agg order. Scale stays well
    * below double precision (~15 sig digits): at scale 14 the two engines'
    * double->decimal rounding routes (shortest-string vs multiplicative)
    * disagree in the last digit. posexplode +
    * groupBy is all map-side-combinable aggregation.
    */
  def meanVectors(
      df: DataFrame, groupCols: Seq[String], vecCol: String,
      decimalScale: Int = 6): DataFrame = {
    require(groupCols.nonEmpty, "groupCols required")
    val g = groupCols.map(col)
    df.select((g :+ posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v"))): _*)
      .groupBy((g :+ ((col("pos") + 1).as("dim"))): _*)
      .agg((sum(col("v").cast(s"decimal(28,$decimalScale)")).cast("double") /
        count(lit(1))).as("mean_v"))
  }

  /** Deterministic Rademacher (±1) hyperplanes for [[lshTopKPortable]]:
    * sign(t,b,i) = low bit of the first MD5 byte of "t:b:i". MD5 is
    * engine-independent, so ANY engine (or an interpolated literal table)
    * reproduces the exact same planes — unlike seeded PRNG planes, which tie
    * the buckets to one generator implementation.
    */
  def portablePlanes(tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables, bits, dim) { (t, b, i) =>
      md.reset()
      val h = md.digest(s"$t:$b:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  /** Dim guard shared by the LSH faces: fail fast on a mismatch —
    * zip_with null-pads, a null dot product makes every bucket bit "0",
    * and the LSH silently degenerates into a full queries x corpus
    * candidate set (an O(n*q) blowup, not an error). Samples a NON-NULL
    * vector from each side (size(NULL) is NULL — reading it would NPE
    * inside the guard instead of raising the intended message).
    */
  private def requireDim(
      df: DataFrame, vecCol: String, dim: Int, side: String): Unit = {
    val s = df.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).limit(1).collect()
    // "lsh:" not a face name — the guard is shared by lshTopKPortable,
    // lshTopK and lshTablesSweep (both plane families; ADVICE r18: the
    // old hard-coded prefix misreported seeded-family mismatches)
    require(s.isEmpty || s(0).getInt(0) == dim,
      s"lsh: dim=$dim but $side $vecCol has ${s(0).getInt(0)} elements")
  }

  /** `(out, vout, tbl, bh)` bucket rows of the PORTABLE Rademacher family
    * — one row per (vector, table). Shared by [[lshTopKPortable]] and the
    * [[lshTablesSweep]] single-probe path, so the swept candidate sets
    * can never drift from the deployed face's.
    */
  private def portableBucketed(
      df: DataFrame, id: String, vecCol: String, out: String, vout: String,
      tables: Int, bits: Int, dim: Int): DataFrame = {
    val planes = portablePlanes(tables, bits, dim)
    // the native sign-bucket kernel computes the SAME sequential
    // left-to-right double dot product and the same `>= 0.0` sign rule as
    // the portable contract (see the lshTopKPortable scaladoc), and the
    // packed-long bucket is a bijection of the bit string — candidate
    // sets are bit-identical while the 128-dot-per-row projection leaves
    // the interpreted zip_with/aggregate path (measured 1.4 s of
    // single-core CPU for a 2k x 16-table probe; guide §4)
    val bs = (0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        graft.expressions.VectorExpressions
          .hyperplaneSignBucket(col(vecCol), planes(t)).as("bh")))
    df.select(col(id).as(out), col(vecCol).as(vout),
      explode(array(bs: _*)).as("bb"))
      .select(col(out), col(vout), col("bb.tbl").as("tbl"), col("bb.bh").as("bh"))
  }

  /** [[lshTopK]] with FULLY CROSS-ENGINE-REPRODUCIBLE buckets: Rademacher
    * planes from [[portablePlanes]], projection = the sequential
    * left-to-right double dot product (both Spark's `aggregate` fold and
    * SQL engines' list dot evaluate in index order, so the bits — and
    * therefore the candidate sets and the final top-k — are bit-identical),
    * bucket key = the bit string. This makes an LSH ANN query verifiable by
    * a differential SQL oracle, not just recall-tested.
    */
  def lshTopKPortable(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, dim: Int,
      k: Int = 10, tables: Int = 4, bits: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    requireDim(corpus, vecCol, dim, "corpus")
    // the queries side degenerates the same way — guard both
    requireDim(queries, vecCol, dim, "queries")
    val c = portableBucketed(corpus, idCol, vecCol, "neighbor_id", "c_vec",
      tables, bits, dim)
    val q = portableBucketed(queries, queryIdCol, vecCol, "query_id", "q_vec",
      tables, bits, dim)
    val cand = c.join(q, Seq("tbl", "bh"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select("query_id", "q_vec", "neighbor_id", "c_vec")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
    cosineTopKRank(cand, k)
  }

  /** `(out, vout, tbl, bh)` bucket rows of the SEEDED hyperplane family —
    * the [[portableBucketed]] twin for [[lshTopK]]; each table's seed
    * depends only on its index, so dial-t buckets are the first t tables
    * of any larger dial (the sweep-nesting property).
    */
  private def seededBucketed(
      df: DataFrame, id: String, vecCol: String, out: String, vout: String,
      tables: Int, bits: Int, dim: Int): DataFrame = {
    val bs = (0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        vectors.hyperplaneBucket(col(vecCol), dim, bits,
          seed = 0x51_7C_C1_B7_27_22_0A_95L + t).as("bh"))
    }
    df.select(col(id).as(out), col(vecCol).as(vout),
      explode(array(bs: _*)).as("bb"))
      .select(col(out), col(vout), col("bb.tbl").as("tbl"), col("bb.bh").as("bh"))
  }

  /** Approximate top-k via hyperplane LSH: queries and corpus are bucketed
    * with identical deterministic hyperplanes across `tables` independent
    * tables; candidates = bucket collisions in any table; exact cosine
    * re-rank keeps the best `k` per query. Recall grows with `tables` and
    * shrinks with `bits`; no stage is quadratic.
    *
    * The `tables = 16` default is the MEASURED knee (RecallBench, graded
    * planted twins at 1x/10x/25x of sf0.1): 8 tables read recall@10 0.52
    * vs 0.73 at 16, scale-flat, with candidate cost ~doubling — the
    * multi-table trade bought where it pays (round-16 verdict #6: the
    * default should be the measured dial, not the first one tried). Use
    * [[autoTuneLshTables]] with `portable = false` to pick the dial for
    * a RECALL TARGET measured on your own corpus — that flag sweeps
    * THIS seeded family; the default portable sweep measures the q98
    * Rademacher face, whose dial does not transfer here.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, dim: Int,
      k: Int = 10, tables: Int = 16, bits: Int = 8,
      excludeSelf: Boolean = true): DataFrame = {
    val c = seededBucketed(corpus, idCol, vecCol, "neighbor_id", "c_vec",
      tables, bits, dim)
    val q = seededBucketed(queries, queryIdCol, vecCol, "query_id", "q_vec",
      tables, bits, dim)
    val cand = c.join(q, Seq("tbl", "bh"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select("query_id", "q_vec", "neighbor_id", "c_vec")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
    cosineTopKRank(cand, k)
  }

  /** The sweep-truth rule shared by ALL dial sweeps (nProbe, LSH
    * tables, mining shortlist): an injected precomputed
    * `(query_id, neighbor_id)` exact frame wins — the sweeps' dominant
    * cost is their exact truth pass, so a caller tuning several
    * families over one corpus (RecallBench) pays it once — otherwise
    * the family's own exact face runs once and pins its result.
    *
    * The injected frame must be the SAME truth family the sweep's own
    * exact face would compute: plain brute-force cosine top-k for the
    * nProbe/LSH sweeps, but the MINING list (positive-anti-joined,
    * margin-excluded [[hardNegatives]]) for the mining-shortlist sweep
    * — injecting cosine top-k there scores dials against the wrong
    * target and pickChosen returns a plausible-looking wrong dial with
    * no error.
    */
  private[ext] def sweepTruth(inject: Option[DataFrame])
      (exact: => DataFrame): DataFrame =
    inject.getOrElse(
      exact.select(col("query_id"), col("neighbor_id")).localCheckpoint())

  /** Shared measured-recall sweep kernel (round-16 verdict #6): run an
    * ANN face at each dial value, score it against EXACT truth pairs,
    * and emit one row per dial — `(<dialName>, n_truth, n_hit, recall,
    * chosen)` with `chosen` marking the SMALLEST dial whose measured
    * recall reaches `recallTarget` (all-false when none does — the
    * caller decides the fallback). Recall = n_hit / n_truth rounded
    * half-up to 6 dp over exact integer counts, so the whole sweep is
    * replayable in a SQL oracle. Cost: one exact-truth pass (the caller
    * builds and checkpoints it — sample-bounded) plus one ANN run and
    * one count per dial; every count is |sample| * k rows, never
    * corpus-sized.
    */
  private[ext] def recallSweep(
      truth: DataFrame, dials: Seq[Int], run: Int => DataFrame,
      recallTarget: Double, dialName: String): DataFrame = {
    require(dials.nonEmpty, "at least one dial value required")
    require(dials == dials.sorted && dials.distinct == dials,
      s"dials must be strictly ascending, got $dials")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      "recallTarget must be in (0, 1]")
    val spark = truth.sparkSession
    val nTruth = truth.count()
    // an empty truth set gives the sweep no signal — "recall 1.0,
    // choose the smallest dial" would be a confident answer measured
    // against nothing (and the SQL replays would divide by zero where
    // the engine silently special-cased). Loud, like every other gate.
    require(nTruth > 0L,
      "recallSweep: exact truth set is empty — the sample queries have " +
        "no true neighbors to measure against (empty query sample, or " +
        "excludeSelf removed every candidate); widen the sample")
    val measured = dials.map { d =>
      val nHit = run(d).select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id")).count()
      val recall =
        new java.math.BigDecimal(nHit)
          .divide(new java.math.BigDecimal(nTruth), 6,
            java.math.RoundingMode.HALF_UP).doubleValue()
      (d, nTruth, nHit, recall)
    }
    val chosenDial = measured.find(_._4 >= recallTarget).map(_._1)
    val rows = measured.map { case (d, nt, nh, r) =>
      org.apache.spark.sql.Row(d, nt, nh, r, chosenDial.contains(d))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(dialName,
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_truth",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_hit",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("recall",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("chosen",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Measured LSH `tables` sweep against exact sampled truth. `portable
    * = true` (default) sweeps the q98 portable Rademacher face at each
    * dial (planes for dial t are the FIRST t of the largest dial's
    * plane set, so the dials nest and a SQL oracle replays the whole
    * sweep from one interpolated plane table — the q296 contract);
    * `portable = false` sweeps [[lshTopK]]'s seeded-plane family
    * instead. THE SWEPT FACE MUST BE THE FACE YOU DEPLOY: the two
    * families hash differently, so a dial measured on one does not
    * transfer to the other (a round-17 review finding — the tuner
    * previously measured only the portable face while advertising
    * itself as lshTopK's dial-picker). The seeded sweep is measured
    * the same way but is not SQL-replayable (its planes live in the
    * native expression, not an interpolatable table). One row per
    * dial: `(n_tables, n_truth, n_hit, recall, chosen)`; see
    * [[recallSweep]] for the scoring contract.
    */
  def lshTablesSweep(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, dim: Int,
      k: Int = 10, bits: Int = 8, recallTarget: Double = 0.9,
      dials: Seq[Int] = Seq(2, 4, 8, 16),
      excludeSelf: Boolean = true, portable: Boolean = true,
      exactTruth: Option[DataFrame] = None): DataFrame = {
    // `exactTruth` injects a precomputed `(query_id, neighbor_id)` exact
    // top-k frame — the sweep's dominant cost is this brute-force pass,
    // so a caller tuning BOTH plane families over the same corpus
    // (RecallBench) should pay it once, not per family
    val truth = sweepTruth(exactTruth)(
      bruteForceTopK(corpus, queries, idCol, vecCol, queryIdCol,
        k, excludeSelf))
    // ONE probe at the deepest dial serves every dial (the nesting both
    // plane families guarantee: a table's planes depend only on its
    // index, so dial-t candidates are exactly the pairs whose FIRST
    // colliding table is < t). Re-running the full bucket-join pipeline
    // per dial re-paid the probe AND re-planned a growing expression
    // tree each time — measured ~4 s of driver planning plus
    // 0.3/0.5/0.7/1.5 s probe stages for the 2/4/8/16 battery sweep
    // where one probe + three filters now suffice. The collision frame
    // is checkpointed: dials' rank/score passes must not re-run it.
    requireDim(corpus, vecCol, dim, "corpus")
    requireDim(queries, vecCol, dim, "queries")
    val maxDial = dials.max
    def buckets(df: DataFrame, id: String, out: String, vout: String) =
      if (portable)
        portableBucketed(df, id, vecCol, out, vout, maxDial, bits, dim)
      else
        seededBucketed(df, id, vecCol, out, vout, maxDial, bits, dim)
    val c = buckets(corpus, idCol, "neighbor_id", "c_vec")
    val q = buckets(queries, queryIdCol, "query_id", "q_vec")
    val collisions = c.join(q, Seq("tbl", "bh"))
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("tbl")).as("__tbl"),
        first(col("q_vec")).as("q_vec"), first(col("c_vec")).as("c_vec"))
      .withColumn("cosine", vectors.cosine(col("q_vec"), col("c_vec")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("__tbl"))
      .localCheckpoint()
    recallSweep(truth, dials,
      t => cosineTopKRank(collisions.where(col("__tbl") < t), k),
      recallTarget, "n_tables")
  }

  /** Pick the smallest LSH table count whose MEASURED recall@k on
    * `queries` (vs exact truth on the same corpus) reaches
    * `recallTarget` — the [[lshTablesSweep]] knee. Pass `portable =
    * false` to tune [[lshTopK]]'s seeded family (the dial only
    * transfers to the face it was measured on). Falls back to the
    * largest dial with a stderr warning when no dial reaches the
    * target (raise the dial ceiling or lower `bits`). Returns
    * `(tables, measuredRecall)`.
    */
  def autoTuneLshTables(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, dim: Int,
      k: Int = 10, bits: Int = 8, recallTarget: Double = 0.9,
      dials: Seq[Int] = Seq(2, 4, 8, 16),
      excludeSelf: Boolean = true, portable: Boolean = true,
      exactTruth: Option[DataFrame] = None): (Int, Double) =
    pickChosen(
      lshTablesSweep(corpus, queries, idCol, vecCol, queryIdCol, dim, k,
        bits, recallTarget, dials, excludeSelf, portable, exactTruth),
      "n_tables", recallTarget, "autoTuneLshTables")

  /** Shared chosen-row extraction for the autoTune faces: the smallest
    * chosen dial, or the largest dial (loudly) when the sweep never
    * reached the target.
    */
  private[ext] def pickChosen(
      sweep: DataFrame, dialName: String, recallTarget: Double,
      what: String): (Int, Double) = {
    val rows = sweep.collect() // O(dials) rows by construction
    rows.find(_.getAs[Boolean]("chosen")) match {
      case Some(r) => (r.getAs[Int](dialName), r.getAs[Double]("recall"))
      case None =>
        val last = rows.last
        System.err.println(s"[graft] WARN $what: no dial in " +
          s"${rows.map(_.getAs[Int](dialName)).mkString("[", ",", "]")} " +
          s"reached recall target $recallTarget (best " +
          s"${last.getAs[Double]("recall")} at ${last.getAs[Int](dialName)})" +
          " — returning the largest dial; raise the dial ceiling")
        (last.getAs[Int](dialName), last.getAs[Double]("recall"))
    }
  }

  /** Sparse text cosine via an INVERTED INDEX: the k globally most
    * term-similar document pairs under raw-term-frequency cosine, computed
    * as a postings self-join — the classic all-pairs similarity shape
    * (one equi-join per shared term, NEVER doc x doc). Returns
    * `(id_l, id_r, dot, cosine)` with cosine rounded to 6 dp.
    *
    * Terms with document frequency above `maxDf` (stop-like terms — the
    * overwhelming share of join fan-out and of nothing-in-common pairs)
    * are EXCLUDED from the dot product; norms keep every term, so the
    * score is the true-norm cosine of the pruned dot — the standard
    * stop-pruned formulation, replayable exactly in SQL. Join output is
    * bounded by `maxDf * |postings|` — linear in the corpus at fixed
    * `maxDf`. Singleton terms (df = 1) cannot contribute to any pair and
    * are pruned output-neutrally.
    *
    * Exactness: tf and dot are integer sums; cosine is one fixed tree of
    * IEEE double ops (`dot / sqrt(n2_l * n2_r)`) over exact integers —
    * bit-reproducible cross-engine. Ordering is on the ROUNDED cosine
    * with `(id_l, id_r)` tie-break, so the top-k cut is deterministic.
    */
  def sparseCosineTopK(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, maxDf: Int = 100): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxDf >= 2, "maxDf must be at least 2")
    val tf = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), explode(text.tokens(col(textCol))).as("term"))
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val keep = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf && col("__df") >= 2)
      .select(col("term"))
    val bounded = tf.join(keep, Seq("term"), "leftsemi")
    val norms = tf.groupBy(col("doc")).agg(sum(col("tf") * col("tf")).as("n2"))
    val l = bounded.select(col("term"), col("doc").as("id_l"), col("tf").as("tf_l"))
    val r = bounded.select(col("term"), col("doc").as("id_r"), col("tf").as("tf_r"))
    l.join(r, Seq("term")).where(col("id_l") < col("id_r"))
      .groupBy(col("id_l"), col("id_r"))
      .agg(sum(col("tf_l") * col("tf_r")).as("dot"))
      .join(norms.select(col("doc").as("id_l"), col("n2").as("__n2l")), Seq("id_l"))
      .join(norms.select(col("doc").as("id_r"), col("n2").as("__n2r")), Seq("id_r"))
      .withColumn("cosine", round(col("dot").cast("double") /
        sqrt(col("__n2l").cast("double") * col("__n2r").cast("double")), 6))
      .orderBy(col("cosine").desc, col("id_l"), col("id_r")).limit(k)
      .select(col("id_l"), col("id_r"), col("dot"), col("cosine"))
  }
}
