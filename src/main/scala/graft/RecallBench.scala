package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ext.{Ivf, Pq, Similarity, Sq8}
import graft.functions.vectors

/** ANN recall-at-scale harness (dev tooling beside [[ScaleBench]] /
  * SURVEY.md's probe-only curves): the timing curves for the ANN family exist
  * (ScaleBench q24/q98/q118/q168/q264 rows), but recall was only ever
  * SPEC'd at sf0.01 (LshCoverageSpec) — so "the index still finds the
  * neighbors at 25x" was an assertion from bucket math, not a
  * measurement. This harness measures recall@k for every ANN face
  * against the exact brute-force top-k on the same corpus, at 1x / 10x /
  * 25x of sf0.1 (the [[ScaleBench.buildScaled]] rotated-replica
  * embeddings — intra-replica cosines identical, cross-replica ones
  * decorrelated like random vectors).
  *
  * Planted neighbors: recall over ONLY natural neighbors would ride the
  * fixture's accidental cosine structure, so each query (`vec_id < 10`,
  * replica 0 — the q24 probe set) gets five planted twins at graded
  * relative noise (eps in {0.02, 0.05, 0.10, 0.20, 0.40}; per-coordinate
  * sign = low bit of MD5("q:grade:i"), the portablePlanes convention —
  * fully deterministic, no PRNG), giving cosines ~{0.9998, 0.9988,
  * 0.995, 0.981, 0.93}. The exact top-10 then mixes easy planted twins,
  * hard planted twins and natural neighbors, and the truth is recomputed
  * exactly per scale, so "recall" never depends on the planting being in
  * the truth.
  *
  * Metric honesty: the faces do not all rank by cosine — PQ/IVFPQ rank
  * by ADC squared-L2 and SQ8 by the exact 255x-scaled dequantized dot
  * (approximating the raw inner product), and the fixture embeddings are
  * NOT unit-norm, so those faces could lose recall-vs-cosine-truth
  * purely by metric choice with a perfect index.
  * Each face is therefore scored twice: `recall_cos` (vs the cosine
  * exact top-k — what a cosine-semantics user experiences) and
  * `recall_own` (vs the exact top-k under the face's OWN metric on the
  * raw floats — pure index/quantization loss). The per-scale
  * `truth_overlap` rows report |own-metric truth ∩ cosine truth| / (q*k)
  * — the metric-mismatch ceiling that separates the two readings.
  *
  * Usage: `runMain graft.RecallBench <srcDir> [attempts=2] [replicas...=10 25]`
  * Scaled corpora land in /tmp/graft_probe_r<N> (same stamp, built
  * once). One JSON line per (face, scale) with
  * recall_cos / recall_own / min-of-`attempts` wall seconds.
  */
object RecallBench {

  private val NQ = 10 // queries: vec_id < NQ in replica 0 (the q24 probe set)
  private val K = 10 // recall@K
  /** Graded relative-noise levels for the planted twins. */
  private[graft] val PlantEps = Seq(0.02, 0.05, 0.10, 0.20, 0.40)
  /** Planted ids start past every replica offset (buildScaled caps at
    * 100 replicas x 1e8, max standing id < 1e10; the increment-offset
    * lesson recorded in SURVEY.md)
    * — 1e10 collides with nothing in the embeddings keyspace.
    */
  private[graft] val PlantBase = 10000000000L

  /** Deterministic planted twins: for each `(qid, vec)` one row per
    * [[PlantEps]] grade, id = PlantBase + qid * 100 + grade, coordinate i
    * scaled by (1 + eps * sign) with sign = MD5 low bit of "qid:grade:i".
    */
  private[graft] def plantedTwins(
      queries: Seq[(Long, Seq[Double])]): Seq[(Long, Seq[Double])] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    for {
      (qid, v) <- queries
      (eps, g) <- PlantEps.zipWithIndex
    } yield {
      val noisy = v.zipWithIndex.map { case (x, i) =>
        md.reset()
        val h = md.digest(s"$qid:$g:$i"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        x * (1.0 + (if ((h(0) & 1) == 1) eps else -eps))
      }
      (PlantBase + qid * 100 + g, noisy)
    }
  }

  /** recall = |truth ∩ got| / |truth| over (query, neighbor) pairs.
    * Denominator is the TRUTH size (q*k when every query has k exact
    * neighbors), so a face returning extra rows gains nothing.
    */
  private[graft] def recallOf(
      truth: Set[(Long, Long)], got: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else truth.intersect(got).size.toDouble / truth.size

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    // bounded collect: every face returns <= NQ * K = 100 rows
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Exact top-k under the integer-dot or squared-L2 metric — the same
    * broadcast-probe + GroupTopK shape as [[Similarity.bruteForceTopK]],
    * with the score swapped for the face's own metric on the raw floats.
    */
  private def exactTopK(
      corpus: DataFrame, queries: DataFrame, metric: String): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_vec")))
    val base = corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_vec"))
      .join(q).where(col("neighbor_id") =!= col("query_id"))
    val (scored, asc) = metric match {
      case "dot" =>
        (base.withColumn("s", vectors.dot(col("q_vec"), col("c_vec"))), false)
      case "l2" =>
        (base.withColumn("s",
          aggregate(zip_with(col("q_vec").cast("array<double>"),
            col("c_vec").cast("array<double>"), (x, y) => (x - y) * (x - y)),
            lit(0.0), (acc, v) => acc + v)), true)
      case other => throw new IllegalArgumentException(s"metric $other")
    }
    graft.plans.GroupTopK(scored, Seq("query_id"),
        Seq(("s", asc), ("neighbor_id", true)), K, rankName = "rank")
      .select(col("query_id"), col("neighbor_id"))
  }

  private def time[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  private def battery(spark: SparkSession, tag: String, dir: String,
      attempts: Int): Unit = {
    val embSrc = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .where(col("embedding").isNotNull)
    val dim = embSrc.select(size(col("embedding"))).limit(1)
      .collect()(0).getInt(0)
    // queries are replica 0's first NQ vectors (rotation 0 = original
    // sf0.1 coordinates); a 10xNQ-row collect is bounded by contract
    val qRows = embSrc.where(col("vec_id") < NQ)
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Any](1).map {
          case d: Double => d
          case f: Float => f.toDouble
        }.toSeq)
      }.toSeq.sortBy(_._1)
    require(qRows.size == NQ, s"expected $NQ query vectors, got ${qRows.size}")
    val planted = spark.createDataFrame(
      spark.sparkContext.parallelize(
        plantedTwins(qRows).map { case (id, v) => Row(id, v) }, 1),
      StructType(Seq(StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(DoubleType), nullable = false))))
    val corpus = embSrc.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .unionByName(planted)
      .repartition(32).localCheckpoint(true)
    val nCorpus = corpus.count()
    val queries = corpus.where(col("vec_id") < NQ)

    // exact truths (one per ranking metric used by any face)
    val truthCos = pairs(Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "vec_id", k = K))
    val truthDot = pairs(exactTopK(corpus, queries, "dot"))
    val truthL2 = pairs(exactTopK(corpus, queries, "l2"))
    val denom = (NQ * K).toDouble
    println(f"""{"scale":"$tag","corpus_rows":$nCorpus,"truth_overlap":{"dot_vs_cos":${truthDot.intersect(truthCos).size / denom}%.3f,"l2_vs_cos":${truthL2.intersect(truthCos).size / denom}%.3f}}""")

    // models trained/seeded on THIS corpus (planting included — an index
    // is built over whatever the corpus holds)
    val ivfSeed = Ivf.portableSeedModel(corpus, "vec_id", "embedding", k = 8)
    val ivfTrained = Ivf.train(corpus, "vec_id", "embedding", k = 8, iters = 3)
    val pqModel = Pq.portableSeedCodebooks(corpus, "vec_id", "embedding",
      m = 8, c = 16)
    val pqTrained = Pq.train(corpus, "vec_id", "embedding",
      m = 8, c = 16, iters = 3)

    val faces: Seq[(String, Set[(Long, Long)], () => DataFrame)] = Seq(
      // q98 shape (portable Rademacher planes)
      ("lsh_portable", truthCos, () => Similarity.lshTopKPortable(
        corpus, queries, "vec_id", "embedding", "vec_id", dim,
        k = K, tables = 4, bits = 8)),
      // q25 shape (seeded production planes, more tables)
      ("lsh_seeded", truthCos, () => Similarity.lshTopK(
        corpus, queries, "vec_id", "embedding", "vec_id", dim,
        k = K, tables = 8, bits = 8)),
      // the recall dial, measured: double the tables (candidate cost
      // ~doubles, recall rises — multi-table LSH's whole trade)
      ("lsh_seeded_t16", truthCos, () => Similarity.lshTopK(
        corpus, queries, "vec_id", "embedding", "vec_id", dim,
        k = K, tables = 16, bits = 8)),
      // q118 shape (portable seed coarse quantizer)
      ("ivf_seed", truthCos, () => Ivf.topK(ivfSeed, corpus, queries,
        "vec_id", "embedding", "vec_id", k = K, nProbe = 2)),
      // q51 shape (trained k-means quantizer)
      ("ivf_trained", truthCos, () => Ivf.topK(ivfTrained, corpus, queries,
        "vec_id", "embedding", "vec_id", k = K, nProbe = 2)),
      // the IVF recall dial: probe half the cells instead of a quarter
      ("ivf_trained_p4", truthCos, () => Ivf.topK(ivfTrained, corpus, queries,
        "vec_id", "embedding", "vec_id", k = K, nProbe = 4)),
      // q168 shape — ranks by ADC squared-L2
      ("pq_adc", truthL2, () => Pq.adcTopK(pqModel, corpus, queries,
        "vec_id", "embedding", "vec_id", k = K)),
      // q291 shape at the production setting (3 Lloyd steps)
      ("pq_trained", truthL2, () => Pq.adcTopK(pqTrained, corpus, queries,
        "vec_id", "embedding", "vec_id", k = K)),
      // q169 shape — IVF pruning + ADC scoring
      ("ivfpq", truthL2, () => Pq.ivfAdcTopK(ivfSeed, pqModel, corpus,
        queries, "vec_id", "embedding", "vec_id", k = K, nProbe = 2)),
      // q169 with the trained codebooks (coarse quantizer unchanged)
      ("ivfpq_trained", truthL2, () => Pq.ivfAdcTopK(ivfSeed, pqTrained,
        corpus, queries, "vec_id", "embedding", "vec_id", k = K, nProbe = 2)),
      // q292 shape — ADC shortlist + exact cosine re-rank (the remedy
      // for the ADC quantization ceiling; scored vs the COSINE truth
      // because the re-rank metric is cosine)
      ("pq_rerank", truthCos, () => Pq.adcRerankTopK(pqModel, corpus,
        queries, "vec_id", "embedding", "vec_id", k = K, shortlist = 10 * K)),
      // the shortlist dial: rerank recall is bounded by shortlist
      // coverage of the ADC error shell, so a FIXED shortlist dilutes
      // as the corpus grows — 100x k measures the dial's other end
      ("pq_rerank_s1k", truthCos, () => Pq.adcRerankTopK(pqModel, corpus,
        queries, "vec_id", "embedding", "vec_id", k = K, shortlist = 100 * K)),
      // round 17: the DERIVED shortlist (q297 shape — S = max(ceil(
      // 0.02 * corpus), 10k)): the fixed-S dilution measured above,
      // answered in code; recall should hold ~flat as the corpus grows
      // because S grows with it
      ("pq_rerank_scaled", truthCos, () => Pq.adcRerankTopK(pqModel,
        corpus, queries, "vec_id", "embedding", "vec_id", k = K,
        corpusCount = Some(nCorpus))),
      // q264 shape — ranks by the exact 255x-scaled dequantized dot
      // (approximating the raw inner product; scored vs the dot truth)
      ("sq8", truthDot, () => Sq8.topK(corpus, queries,
        "vec_id", "embedding", "vec_id", dim, k = K)))

    faces.foreach { case (name, truthOwn, mk) =>
      val runs = (1 to attempts).map(_ => time(pairs(mk())))
      val sec = runs.map(_._1).min
      val got = runs.head._2
      val rCos = recallOf(truthCos, got)
      val rOwn = recallOf(truthOwn, got)
      println(f"""{"face":"$name","scale":"$tag","corpus_rows":$nCorpus,"recall_cos":$rCos%.3f,"recall_own":$rOwn%.3f,"sec":$sec%.3f}""")
    }

    // round-17 verdict #6: the tuners, run per scale — each sweeps its
    // dial against exact sampled truth on THIS corpus, so these rows
    // show the knee the new defaults encode and whether it moves with
    // scale (a drifting knee would mean the default needs re-derivation)
    // the sweeps' dominant cost is their internal brute-force truth
    // pass — inject the exact cosine truth ALREADY computed above (same
    // corpus/queries/k/excludeSelf) into EVERY cosine-truth tuner, so
    // tuning three families costs zero extra exact passes (round-17
    // review finding, extended to the nProbe tuner in round 18)
    val lshTruth = {
      import spark.implicits._
      truthCos.toSeq.toDF("query_id", "neighbor_id")
    }
    val (tIvf, ivfPick) = time(Ivf.autoTuneNProbe(ivfTrained, corpus,
      queries, "vec_id", "embedding", "vec_id", k = K, recallTarget = 0.9,
      exactTruth = Some(lshTruth)))
    println(f"""{"face":"autotune_ivf_nprobe","scale":"$tag","dial":${ivfPick._1},"recall_cos":${ivfPick._2}%.3f,"sec":$tIvf%.3f}""")
    val (tLsh, lshPick) = time(Similarity.autoTuneLshTables(corpus,
      queries, "vec_id", "embedding", "vec_id", dim, k = K, bits = 8,
      recallTarget = 0.7, dials = Seq(2, 4, 8, 16),
      exactTruth = Some(lshTruth)))
    println(f"""{"face":"autotune_lsh_tables","scale":"$tag","dial":${lshPick._1},"recall_cos":${lshPick._2}%.3f,"sec":$tLsh%.3f}""")
    // the SEEDED family tuned separately (round-17 review finding: a
    // dial measured on the portable Rademacher planes does not transfer
    // to lshTopK's seeded planes — this row is the one lshTopK's
    // tables=16 default must be read against)
    val (tLshS, lshPickS) = time(Similarity.autoTuneLshTables(corpus,
      queries, "vec_id", "embedding", "vec_id", dim, k = K, bits = 8,
      recallTarget = 0.7, dials = Seq(2, 4, 8, 16), portable = false,
      exactTruth = Some(lshTruth)))
    println(f"""{"face":"autotune_lsh_tables_seeded","scale":"$tag","dial":${lshPickS._1},"recall_cos":${lshPickS._2}%.3f,"sec":$tLshS%.3f}""")

    // round 17: the mining faces — recall of the INDEXED hard-negative
    // list (q305 shape: IVF-PQ probe shortlist at S=10K, exact rerank,
    // exclusions) against the EXACT mining list (q304 shape) on the
    // same corpus. Positives = each query's true top-1, the q304
    // convention, so the exclusion is live in both lists; everything
    // after the shortlist is exact, so the gap IS shortlist coverage.
    val positives = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 1)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("pos_id"))
      .localCheckpoint(true)
    val truthMine = pairs(Similarity.hardNegatives(corpus, queries,
      positives, "vec_id", "embedding", "vec_id", k = K))
    val annIdx = graft.ext.AnnIndex.build(corpus, "vec_id", "embedding",
      ivfSeed, pqModel)
    // the dilution contrast pair (the pq_rerank / pq_rerank_scaled
    // convention): a FIXED shortlist at nProbe=2 measured 0.42 -> 0.21
    // as the corpus grew 1x -> 25x, which is why q305 ships the derived
    // size + knee nProbe — both measured here every scale
    def mineRow(name: String, idx: graft.ext.AnnIndex.State, s: Int,
        nProbe: Int, widen: Int = 0): Unit = {
      val runs = (1 to attempts).map(_ => time(pairs(
        Similarity.hardNegativesShortlisted(corpus, queries, positives,
          (if (widen > 0)
            graft.ext.AnnIndex.probeRefined(idx, queries, "embedding",
              "vec_id", k = s, nProbe = nProbe, widen = widen)
          else
            graft.ext.AnnIndex.probe(idx, queries, "embedding", "vec_id",
              k = s, nProbe = nProbe))
            .select(col("query_id"), col("neighbor_id")),
          "vec_id", "embedding", "vec_id", k = K))))
      val r = recallOf(truthMine, runs.head._2)
      println(f"""{"face":"$name","scale":"$tag","corpus_rows":$nCorpus,"shortlist":$s,"n_probe":$nProbe,"widen":$widen,"recall_vs_exact_mining":$r%.3f,"sec":${runs.map(_._1).min}%.3f}""")
    }
    val sDerived = Similarity.miningShortlistSize(nCorpus, K)
    mineRow("mining_indexed_s100", annIdx, 10 * K, nProbe = 2)
    mineRow("mining_indexed_scaled", annIdx, sDerived, nProbe = 4)
    // the remaining gap to 1.0 is the SEED index's pruning+quantization
    // loss, not the mining tail's — the trained-models row isolates it
    // (mining truth sits at similarity ranks 2..K+1, a wider shell than
    // the top-K the other faces chase)
    val idxTrained = graft.ext.AnnIndex.build(corpus, "vec_id", "embedding",
      ivfTrained, pqTrained)
    mineRow("mining_indexed_trained", idxTrained, sDerived, nProbe = 4)
    // nProbe = nCells: NO cell pruning, so this row is pure
    // ADC-shortlist loss — the gap between it and the p4 row is what
    // probing half the cells costs the mining shell
    mineRow("mining_indexed_trained_p8", idxTrained, sDerived, nProbe = 8)
    // round 18 (verdict #6): the SQ8 refine tier between ADC and the
    // exact rerank — ADC cut widened 4x/8x, re-scored against persisted
    // SQ8 codes (the 0.96-scale-flat kernel), cut back to the SAME
    // derived S before the exact stage: the residual these rows chase
    // is pure ADC-shortlist quantization loss, and the exact stage's
    // cost is UNCHANGED (matched-cost contract)
    // refine codes CHECKPOINTED: the production index loads them as
    // persisted parquet (q312's standingAnnIndex path), so re-encoding
    // the corpus per timed run would charge the probe a build cost —
    // the measured wall must be load + re-score, like the probe-only
    // walls recorded in SURVEY.md
    val idxTrainedR = {
      val st = graft.ext.AnnIndex.withRefine(idxTrained, corpus,
        "vec_id", "embedding", dim)
      st.copy(refine = st.refine.map(r =>
        r.copy(codes = r.codes.localCheckpoint(true))))
    }
    mineRow("mining_refined_trained", idxTrainedR, sDerived, nProbe = 4,
      widen = 4)
    mineRow("mining_refined_trained_w8", idxTrainedR, sDerived, nProbe = 4,
      widen = 8)
    // widen saturated at 0.84 with nProbe 4 (w4 == w8 at 100x): the
    // residual is the PRUNED candidate pool, not the SQ8 cut — this row
    // removes pruning entirely (nProbe = nCells) to read the refine
    // tier's own ceiling on the full in-cell pool
    mineRow("mining_refined_trained_p8", idxTrainedR, sDerived, nProbe = 8,
      widen = 4)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val attempts = if (args.length > 1) args(1).toInt else 2
    val replicas = args.drop(2).map(_.toInt).toSeq match {
      case Nil => Seq(10, 25)
      case rs => rs
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.local(cpus.toInt, "graft-recallbench")
    val scales: Seq[(String, String)] = ("1x" -> srcDir) +: replicas.map { r =>
      val out = s"/tmp/graft_probe_r$r"
      ScaleBench.buildScaled(spark, srcDir, out, r)
      s"${r}x" -> out
    }
    scales.foreach { case (tag, dir) => battery(spark, tag, dir, attempts) }
    spark.stop()
  }
}
