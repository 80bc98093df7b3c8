package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.expressions.{PqExpressions, VectorExpressions}

/** Persisted IVF-PQ ANN index — the ANN family's production ingest shape
  * (round 17). The dedup screens already persist their standing state
  * and pay LOAD + PROBE per increment (minhash/containment/resemblance/
  * substring, q284/q285); the ANN faces re-ran cell assignment and PQ
  * encoding over the WHOLE corpus on every query. At 100 TB the index is
  * the artifact: encode the corpus once per generation (one coarse cell
  * id + m uint8-class codes per vector — ~9 bytes at m=8 against 256
  * float bytes, the FAISS IVFADC compression argument, Jégou et al.
  * 2011 §IV), persist codes + frozen models beside the dedup states,
  * and let every increment pay a broadcast equi-join on its probed
  * cells only.
  *
  * Freeze-on-persist contract (the [[Ivf.saveModel]] argument, applied
  * to the composite): PQ codes are only comparable under the codebooks
  * that produced them and cell membership only under the centroids that
  * assigned it, so an increment MUST encode under the LOADED models —
  * [[append]] takes the state, never a fresh trainer. The manifest
  * carries `(nCells, m, c)` through the same [[graft.io.StateStore]] as
  * the dedup states and fails loudly on a mismatched resume.
  *
  * The reference (ETLUtils) has no vector operators — this extends the
  * LLM-pipeline surface like the rest of `graft.ext`.
  */
object AnnIndex {

  /** Build parameters, persisted in the manifest: a resume under ANY
    * different geometry must fail loudly (codes under c=16 read as
    * garbage distances under c=32 — silently wrong ranks, the exact
    * failure class the dedup manifests exist to prevent). `refineDim`
    * = 0 means no SQ8 refine tier; > 0 is the embedding dim of the
    * persisted refine codes.
    */
  final case class Params(nCells: Int, m: Int, c: Int, refineDim: Int = 0) {
    require(nCells >= 1 && m >= 1 && c >= 1, "nCells, m, c must be >= 1")
    require(refineDim >= 0, "refineDim must be >= 0")
    def encoded: String = s"nCells=$nCells;m=$m;c=$c;refine=$refineDim"
  }

  /** The optional SQ8 refine tier riding in the index: frozen
    * per-dimension ranges (the [[Sq8]] quantizer model — exact decimals,
    * text-persisted like centroids) and per-vector byte codes
    * `(vec_id, rcodes)` — ~dim bytes/vector beside PQ's ~m, still 4×
    * under float32. [[probeRefined]] re-scores a WIDENED ADC shortlist
    * against these codes before the caller's exact stage: the FAISS
    * refine architecture (IndexRefine over IVFADC), measured here
    * because the mining shell's residual at 100× was ADC quantization
    * in the shortlist cut, while the SQ8 kernel reads 0.96 scale-flat.
    */
  final case class Refine(
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal],
      codes: DataFrame) {
    require(lo.nonEmpty && lo.size == hi.size, "refine ranges misaligned")
    def dim: Int = lo.size
  }

  /** A standing index: frozen coarse centroids, frozen PQ codebooks, the
    * encoded corpus `codes` frame `(vec_id, cell, codes)`, and the
    * optional SQ8 [[Refine]] tier.
    */
  final case class State(coarse: Ivf.Model, pq: Pq.Model, codes: DataFrame,
      refine: Option[Refine] = None) {
    def params: Params =
      Params(coarse.centroids.length, pq.m, pq.c,
        refine.map(_.dim).getOrElse(0))
  }

  /** Encode a corpus under FROZEN models: `(vec_id, cell, codes)` — one
    * row-local pass (nearest centroid + per-subspace argmin), no
    * shuffle; the scan's output is the ~9-byte index row, never the
    * float vector.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Ivf.Model, pq: Pq.Model): DataFrame =
    corpus.where(col(vecCol).isNotNull).select(
      col(idCol).as("vec_id"),
      element_at(VectorExpressions.nearestCentroids(
        col(vecCol), coarse.centroids, 1), 1).as("cell"),
      PqExpressions.pqEncode(col(vecCol), pq.codebooks).as("codes"))

  /** Build a fresh index state over `corpus` under the given models. */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Ivf.Model, pq: Pq.Model): State =
    State(coarse, pq, encode(corpus, idCol, vecCol, coarse, pq))

  /** Derived default cell count for a corpus of `n` vectors:
    * `max(floor, ⌈√n⌉)` — the FAISS IVF sizing rule (nlist ≈ √N holds
    * per-probe candidate mass at `O(√N · nProbe)` instead of the
    * toward-a-scan degradation of a frozen cell count; Jégou et al.
    * 2011 §V uses the same order). Encoded HERE rather than in probe's
    * scaladoc (the r16 SQ8 / fixed-S lesson: measured scale rules live
    * in code) — round 17's q299 fixture froze nCells=8 while ScaleBench
    * grew the corpus 100× and the probe degraded 64× BY GEOMETRY; under
    * this derivation the same 100× grows nCells 10× and the probed
    * slice stays ~√N.
    *
    * The floor keeps tiny replay fixtures meaningful (at least a few
    * cells to probe); the derivation is exact-integer so an oracle can
    * replay it as `greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT))`.
    */
  def derivedNCells(n: Long, floor: Int = 4): Int = {
    require(n >= 0, "corpus count must be >= 0")
    math.max(floor, math.ceil(math.sqrt(n.toDouble)).toInt)
  }

  /** How far the index's geometry has drifted from the derived sizing:
    * `√N / nCells`, where N is the number of encoded vectors the index
    * now holds. 1.0 (±rounding) right after a derived-sizing build; it
    * GROWS as [[append]] accumulates increments under the frozen cell
    * count, and it is exactly the per-probe candidate-mass multiplier
    * vs a freshly-derived index (probe cost ~ N·nProbe/nCells =
    * drift · √N·nProbe). The round-17 fixture that froze nCells=8 under
    * a 100×-grown corpus sat at drift ≈ 56 and measured a 64× probe
    * wall — the advisory threshold below (4×) is two doublings of data
    * under frozen geometry, the point where a rebuild (re-derive cells,
    * re-encode) repays its cost in probe walls. Costs one count scan of
    * the codes frame; [[save]] computes it for free off the checkpoint
    * it already pays for and warns on stderr past the threshold —
    * append-only maintenance stays legitimate, but a drifted index can
    * no longer persist silently.
    */
  def sizingDrift(state: State): Double =
    sizingDriftOf(state.codes.count(), state.coarse.centroids.length)

  /** Advisory threshold: drift past 4 (= corpus 16× the cell count's
    * design size) warns at persist time.
    */
  private[ext] val SizingDriftWarnAt = 4.0

  private[ext] def sizingDriftOf(n: Long, nCells: Int): Double =
    math.sqrt(n.toDouble) / nCells

  private def warnOnSizingDrift(drift: Double, where: String): Unit =
    if (drift > SizingDriftWarnAt) System.err.println(
      f"[graft] AnnIndex.$where: sizing drift $drift%.1f — the corpus " +
        f"has outgrown the frozen cell count by ${drift * drift}%.0f×; " +
        "probe walls scale with drift (measured 64× at drift ≈ 56). " +
        "Rebuild with derived sizing (buildPortable/buildTrained) to " +
        "restore the √N probe contract")

  /** SQ8 refine codes for `corpus` under FROZEN ranges — the refine
    * tier's [[encode]]: one row-local projection, no shuffle.
    */
  private def encodeRefine(corpus: DataFrame, idCol: String, vecCol: String,
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal])
      : DataFrame =
    corpus.where(col(vecCol).isNotNull).select(col(idCol).as("vec_id"),
      Sq8.codes(col(vecCol), lo, hi).as("rcodes"))

  /** Attach an SQ8 refine tier to a built state: ranges fitted on
    * `corpus` — which MUST be the state's own corpus (codes and refine
    * codes must describe the same vectors; there is no cross-check, the
    * vec_ids simply would not join) — and codes encoded under them.
    * `refineDim = 0` returns the state unchanged.
    */
  def withRefine(state: State, corpus: DataFrame, idCol: String,
      vecCol: String, refineDim: Int): State =
    if (refineDim == 0) state
    else {
      val (lo, hi) = Sq8.collectRanges(corpus, vecCol, refineDim)
      state.copy(refine = Some(Refine(lo, hi,
        encodeRefine(corpus, idCol, vecCol, lo, hi))))
    }

  /** Build a portable-seeded index SIZED TO THE CORPUS: one count scan,
    * nCells = [[derivedNCells]] unless explicitly overridden (oracle
    * replay fixtures that must freeze geometry across scales pass
    * `Some(k)`; production callers pass None and cannot accidentally
    * freeze a cell count while the corpus grows). Seed models keep the
    * md5-portable convention so the whole index replays in SQL.
    * `refineDim > 0` adds the SQ8 [[Refine]] tier (pass the embedding
    * dim).
    */
  def buildPortable(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, c: Int, nCells: Option[Int] = None,
      refineDim: Int = 0): State = {
    val base = corpus.where(col(vecCol).isNotNull)
    val k = nCells.getOrElse(derivedNCells(base.count()))
    withRefine(build(base, idCol, vecCol,
      Ivf.portableSeedModel(base, idCol, vecCol, k),
      Pq.portableSeedCodebooks(base, idCol, vecCol, m, c)),
      base, idCol, vecCol, refineDim)
  }

  /** Build a TRAINED index sized to the corpus: Lloyd-refined coarse
    * quantizer ([[Ivf.train]]) and PQ codebooks ([[Pq.train]]) with the
    * same derived-nCells default as [[buildPortable]] — the production
    * build path (RecallBench: trained models lift recall@10 from ~0.5
    * to ≥0.9 at matched probe cost).
    */
  def buildTrained(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, c: Int, nCells: Option[Int] = None,
      coarseIters: Int = 5, pqIters: Int = 3,
      maxTrainRows: Long = 1000000L, refineDim: Int = 0): State = {
    val base = corpus.where(col(vecCol).isNotNull)
    val k = nCells.getOrElse(derivedNCells(base.count()))
    withRefine(build(base, idCol, vecCol,
      Ivf.train(base, idCol, vecCol, k, coarseIters, maxTrainRows),
      Pq.train(base, idCol, vecCol, m, c, pqIters)),
      base, idCol, vecCol, refineDim)
  }

  /** Append an increment under the state's FROZEN models: encode the new
    * vectors and union their codes on — centroids and codebooks are
    * untouched, so standing codes stay valid and [[probe]] results are
    * provenance-invariant (append-then-probe == rebuild-then-probe,
    * AnnIndexSpec). Id uniqueness is the caller's contract, as for the
    * dedup states: a re-appended id would simply appear twice among
    * candidates.
    */
  def append(state: State, increment: DataFrame, idCol: String,
      vecCol: String): State =
    state.copy(
      codes = state.codes.unionByName(
        encode(increment, idCol, vecCol, state.coarse, state.pq)),
      // refine codes under the state's FROZEN ranges, like everything
      // else (an out-of-range increment coordinate clamps — the Sq8
      // quantizer is total by construction)
      refine = state.refine.map(r => r.copy(codes = r.codes.unionByName(
        encodeRefine(increment, idCol, vecCol, r.lo, r.hi)))))

  /** Probe the standing index with `queries`: [[Pq.ivfAdcProbe]] over
    * the persisted codes — the query side (dist tables + probed cells)
    * broadcasts, the codes side streams, and only rows in probed cells
    * are scored. `(query_id, neighbor_id, adc_dist, rank)`.
    *
    * Cost shape: ~`|queries| * |corpus| * nProbe / nCells` ADC
    * scorings. The `nCells ≈ √N` sizing that keeps this at
    * `O(√N · nProbe)` is CODE, not guidance: [[derivedNCells]] is the
    * default for [[buildPortable]]/[[buildTrained]], so only an
    * explicit override can freeze a cell count while the corpus grows
    * (round 17 measured that degradation at 64× under a frozen
    * nCells=8 fixture across a 100× corpus).
    */
  def probe(state: State, queries: DataFrame, vecCol: String,
      queryIdCol: String, k: Int = 10, nProbe: Int = 4,
      excludeSelf: Boolean = false): DataFrame =
    Pq.ivfAdcProbe(state.coarse, state.pq, state.codes, queries,
      vecCol, queryIdCol, k, nProbe, excludeSelf)

  /** [[probe]] with the SQ8 refine stage between ADC and the cut: the
    * ADC ranking is taken `widen`× deeper, those candidates re-score
    * against the persisted refine codes (exact-decimal scaled dot — the
    * [[Sq8.topK]] kernel, measured 0.96 recall scale-flat where ADC
    * reads ~0.75 at the mining shell), and the top `k` BY SQ8 SCORE are
    * returned. The widened ADC stage costs nothing extra in scoring
    * (the probe already scores every candidate in probed cells; only
    * the cut deepens); the refine stage touches `widen·k` rows of
    * ~dim-byte codes per query — never the float corpus. Downstream
    * exact reranks (mining, retrieval) stay at depth `k`, so the
    * refine either lifts shortlist coverage at matched exact-stage
    * cost or RecallBench records the negative result.
    *
    * Output `(query_id, neighbor_id, sq8_score, rank)`; `sq8_score` is
    * the exact decimal rounded to 6 dp (the Sq8 display convention), so
    * the whole stage replays in SQL.
    *
    * Measured dial guidance (RecallBench 100×, 200k vectors, mining
    * shell): at nProbe 4 the refine lifts recall 0.75 → 0.84 and
    * SATURATES (widen 4 == widen 8 — the residual is the pruned
    * candidate pool, not the SQ8 cut); with the pool unpruned
    * (nProbe = nCells) refined mining reads **0.97** where unrefined
    * reads 0.76. So: spend `nProbe` on pool width (tune it with
    * [[Ivf.autoTuneNProbe]]), keep `widen` ≈ 4. Probe wall with
    * persisted codes stays flat (2.0–2.2 s at 100× vs 0.85–1.5 s
    * unrefined; the probe-only record in SURVEY.md).
    */
  def probeRefined(state: State, queries: DataFrame, vecCol: String,
      queryIdCol: String, k: Int = 10, nProbe: Int = 4,
      widen: Int = 4, excludeSelf: Boolean = false): DataFrame = {
    val r = state.refine.getOrElse(throw new IllegalArgumentException(
      "probeRefined needs an index built with refineDim > 0 — this " +
        "state has no SQ8 refine tier (probe() is the unrefined face)"))
    require(widen >= 1, "widen must be >= 1")
    require(k.toLong * widen <= Int.MaxValue, "widen * k overflows")
    Sq8.requireScoreBounds(r.lo, r.hi, r.dim, "AnnIndex.probeRefined")
    val pairs = probe(state, queries, vecCol, queryIdCol, k * widen,
      nProbe, excludeSelf).select(col("query_id"), col("neighbor_id"))
    // probe-side length guard in the row path (the Sq8.topK contract: a
    // short probe would null its element_at lookups and silently
    // mis-rank)
    val qd = col(vecCol).cast("array<double>")
    val qGuard = when(size(qd) === lit(r.dim), qd)
      .otherwise(raise_error(concat(
        lit("AnnIndex.probeRefined: probe vector with length "),
        size(qd).cast("string"),
        lit(s" != ${r.dim} — mixed embedding models?")))
        .cast("array<double>"))
    val q = broadcast(queries.where(col(vecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        Sq8.dequant255FromVec(qGuard, r.lo, r.hi).as("__qd")))
    val scored = broadcast(pairs)
      .join(r.codes.select(col("vec_id").as("neighbor_id"),
        Sq8.dequant255FromCodes(col("rcodes"), r.lo, r.hi).as("__cd")),
        Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("__score",
        graft.expressions.VectorExpressions.scaledDotProduct(
          col("__qd"), col("__cd")))
    graft.plans.GroupTopK(scored, Seq("query_id"),
        Seq(("__score", false), ("neighbor_id", true)), k,
        rankName = "rank")
      .select(col("query_id"), col("neighbor_id"),
        round(col("__score"), 6).cast("double").as("sq8_score"),
        col("rank").cast("int").as("rank"))
  }

  /** Persist: codes as parquet, models as the exact-text formats their
    * own save/load pairs use ([[Ivf.saveModel]] / [[Pq.saveCodebooks]]
    * — `java.lang.Double.toString` round-trips bit-identically), all
    * written into one fresh version of the [[graft.io.StateStore]] and
    * committed by its pointer swap only after every part lands — a crash
    * mid-save leaves the previous index served. The manifest params
    * DERIVE from the state, so the manifest cannot state anything but the
    * truth (a review pass removed the caller-supplied params this
    * require'd against). The codes frame is localCheckpoint'ed first so
    * the sizing count and the write share one encode.
    *
    * `dir` is LOCAL-FILESYSTEM scratch, like the dedup state dirs: the
    * store's pointer swap is `java.nio`-based, so although the model
    * writers go through the Hadoop FileSystem API, a remote
    * `hdfs://`/`s3://` dir would persist models the loader's local
    * pointer check can never see (state silently rebuilt every run).
    * Fail loudly instead of that.
    */
  def save(spark: SparkSession, state: State, dir: String): Unit = {
    requireLocalDir(dir)
    val codes = state.codes.localCheckpoint(true)
    warnOnSizingDrift(sizingDriftOf(codes.count(),
      state.coarse.centroids.length), s"save($dir)")
    graft.io.StateStore.save(dir, state.params.encoded) { v =>
      codes.write.parquet(s"$v/codes")
      Ivf.saveModel(spark, state.coarse, s"$v/centroids.txt")
      Pq.saveCodebooks(spark, state.pq, s"$v/codebooks.txt")
      state.refine.foreach { r =>
        r.codes.write.parquet(s"$v/refine_codes")
        // two lines, lo then hi, exact toPlainString decimals — the
        // saveModel text convention for the Sq8 range model
        java.nio.file.Files.write(
          new java.io.File(v, "refine_ranges.txt").toPath,
          (r.lo.map(_.toPlainString).mkString(",") + "\n" +
            r.hi.map(_.toPlainString).mkString(",") + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
  }

  /** The state store only sees the local filesystem (see [[save]]):
    * a URI-schemed dir would split the state across two filesystems and
    * read as forever-absent — the silent re-encode-every-run failure
    * this guard turns into an error.
    */
  private def requireLocalDir(dir: String): Unit =
    require(!dir.matches("^[a-zA-Z][a-zA-Z0-9+.-]*://.*"),
      s"AnnIndex state dir must be a local path (got $dir): the state " +
        "store is local-filesystem based — stage the index " +
        "locally, or sync the directory to remote storage as files")

  /** Load a state previously written by [[save]]: None when no index was
    * committed at `dir`; loud when the stored parameters differ from
    * `expect`; the loaded model shapes are re-validated against the
    * manifest (a hand-edited model file cannot silently disagree with
    * the declared geometry).
    */
  def load(spark: SparkSession, dir: String, expect: Params)
      : Option[State] = {
    requireLocalDir(dir)
    val withR = expect.refineDim > 0
    val parts = "codes" +: (if (withR) Seq("refine_codes") else Nil)
    graft.io.StateStore.load(dir, parts, "ann index", expect.encoded,
        "codes are only comparable under the models that produced them " +
          "— probing with a different geometry silently mis-ranks " +
          "every candidate").map { v =>
      val refine =
        if (!withR) None
        else {
          val lines = new String(java.nio.file.Files.readAllBytes(
            new java.io.File(v.part("refine_ranges.txt")).toPath),
            java.nio.charset.StandardCharsets.UTF_8)
            .split("\n").filter(_.nonEmpty)
          require(lines.length == 2,
            s"refine_ranges.txt at $dir: expected 2 lines, got ${lines.length}")
          def parse(s: String) =
            s.split(",").map(new java.math.BigDecimal(_)).toSeq
          Some(Refine(parse(lines(0)), parse(lines(1)),
            // byte-gated widen-into-cache (the Dedup.loadStateFrame
            // rationale): small persisted codes are one parquet split,
            // serializing every probe's ADC/refine scan onto one task
            Dedup.loadStateFrame(spark, v.part("refine_codes"))))
        }
      val st = State(
        Ivf.loadModel(spark, v.part("centroids.txt")),
        Pq.loadCodebooks(spark, v.part("codebooks.txt")),
        Dedup.loadStateFrame(spark, v.part("codes")), refine)
      require(st.params == expect,
        s"ann index at $dir: loaded model shapes ${st.params} disagree " +
          s"with the manifest $expect — the state files are inconsistent")
      st
    }
  }
}
