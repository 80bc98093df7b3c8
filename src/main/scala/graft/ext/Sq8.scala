package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SQ8 scalar quantization of an embedding column — the third ANN memory
  * tier beside IVF (`Ivf.scala`) and PQ (`Pq.scala`): each coordinate is
  * mapped to one byte against per-dimension corpus min/max ranges, cutting
  * vector storage 4× (float32) / 8× (float64) while keeping per-dimension
  * resolution (PQ shares codebooks across dims; SQ8 keeps dims independent,
  * the standard first rung of the FAISS-style quantization ladder).
  *
  * Everything here sits under the STRICT hash oracle — unlike float-cosine
  * ANN (q24's score ties on doubles, q25/q51's recall specs), the SQ8
  * search scores are EXACT DECIMAL dot products of 255x-scaled
  * dequantized codes (see [[topK]]), so ranking, ties, and totals are
  * engine-exact with no rounding convention at all: the first ANN path in
  * the engine whose end-to-end top-k is differentially tested, not
  * recall-tested.
  *
  * Determinism of the quantizer itself follows the covariance convention
  * (`Embeddings.covarianceReport`): coordinates are 6-dp-quantized
  * decimals, ranges are exact decimal min/max, `(x - lo) * 255` is exact
  * decimal arithmetic, and the single floating step per coordinate is one
  * double division + `floor(r + 0.5)` — identical IEEE ops in any engine
  * (floor of a double is exact; HALF_UP via `+ 0.5` avoids engine-specific
  * `round(double)` tie handling).
  *
  * Scale: ranges are an O(dim) frame collected to the driver (the
  * Ivf/Pq/Classifier model bound) and inlined as array literals — corpus
  * and query quantization are row-local projections with NO join; the
  * search is a broadcast nested-loop against the bounded probe set feeding
  * the GroupTopK heap, so the corpus never shuffles.
  */
object Sq8 {

  private val Lo = "__sq8_lo"
  private val Hi = "__sq8_hi"

  /** Per-dimension corpus ranges `(i, lo, hi)` over the 6-dp-quantized
    * coordinates, 0-based dims, exact `decimal(18,6)` bounds. Null vectors
    * are excluded; a wrong-length vector fails loudly (the
    * `covarianceReport` contract — silent truncation would leave tail dims
    * with degenerate ranges).
    */
  def dimRanges(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, "dim must be positive")
    val vecs = df.select(transform(col(vecCol).cast("array<double>"),
        x => round(x, 6).cast("decimal(18,6)")).as("__v"))
      .where(col("__v").isNotNull)
    val bad = vecs.where(size(col("__v")) =!= dim).limit(1).count()
    require(bad == 0,
      s"Sq8.dimRanges: vector with length != $dim present — mixed " +
        "embedding models? (a truncated vector would fake a degenerate dim)")
    vecs.select(posexplode(col("__v")).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
  }

  /** Collected [[dimRanges]] as `(lo, hi)` decimal arrays in dim order —
    * the O(dim) model collect, inlined downstream as literals.
    */
  def collectRanges(df: DataFrame, vecCol: String, dim: Int)
      : (Seq[java.math.BigDecimal], Seq[java.math.BigDecimal]) = {
    val rows = dimRanges(df, vecCol, dim).orderBy("i").collect()
    require(rows.length == dim, s"Sq8.collectRanges: ${rows.length} dims " +
      s"materialized, expected $dim — empty corpus?")
    (rows.map(_.getDecimal(1).stripTrailingZeros.setScale(6)).toSeq,
      rows.map(_.getDecimal(2).stripTrailingZeros.setScale(6)).toSeq)
  }

  /** The per-element quantizer body shared by [[codes]] and the fused
    * dequant in [[topK]]: nesting `element_at(codes(...), i)` inside
    * another transform's lambda would RE-EVALUATE the whole codes array
    * once per consuming element (Catalyst common-subexpression
    * elimination does not cross lambda bodies — measured as a 64x
    * per-row blowup, 45 s vs ~3 s on the 25x RecallBench corpus), so
    * consumers fuse this one-element body into their own lambda instead.
    */
  private def codeAt(v: Column, i: Column,
      loLit: Column, hiLit: Column): Column = {
    val x = round(element_at(v, i + 1), 6).cast("decimal(18,6)")
    val l = element_at(loLit, i + 1)
    val h = element_at(hiLit, i + 1)
    when(h === l, lit(0)).otherwise(
      least(lit(255), greatest(lit(0),
        floor(((x - l) * lit(255)).cast("double") /
          (h - l).cast("double") + lit(0.5)).cast("int"))))
  }

  /** Row-local byte-code array for `vecCol` against range literals:
    * `code_i = clamp(floor((x_i - lo_i) * 255 / (hi_i - lo_i) + 0.5), 0,
    * 255)`; a degenerate dim (`hi == lo`) codes 0. Clamping makes the
    * quantizer total for out-of-range probes (queries quantized against
    * corpus ranges). Codes are `array<int>` (byte semantics, int storage —
    * the arithmetic downstream is long anyway).
    */
  def codes(vecCol: Column,
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal]): Column = {
    require(lo.nonEmpty && lo.size == hi.size, "range literals misaligned")
    val loLit = array(lo.map(l => lit(l).cast("decimal(18,6)")): _*)
    val hiLit = array(hi.map(h => lit(h).cast("decimal(18,6)")): _*)
    val v = vecCol.cast("array<double>")
    transform(sequence(lit(0), lit(lo.size - 1)),
      i => codeAt(v, i, loLit, hiLit))
  }

  /** The [[topK]] magnitude guards, shared with the refine lane
    * ([[graft.ext.AnnIndex.probeRefined]]): the unscaled dequant must fit
    * the long lane and the dim-summed square must fit decimal(38,12).
    */
  private[ext] def requireScoreBounds(
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal],
      dim: Int, where: String): Unit = {
    val maxAbs = (lo ++ hi).map(_.abs.doubleValue).max
    val dBound = 255.0 * (maxAbs + 1e-6) * 1e6
    require(dBound < 3.0e18,
      f"$where: corpus range magnitude $maxAbs%.3g overflows the " +
        "64-bit dequantized lane — rescale the embeddings")
    require(dim * dBound * dBound < 0.9e38,
      f"$where: dim=$dim with range magnitude $maxAbs%.3g overflows " +
        "the decimal(38,12) score — rescale the embeddings")
  }

  /** 255x-scaled exact dequantized long lane from PERSISTED codes
    * (`array<int>`, [[codes]] output): `D_i = 255*lo_i + code_i*rng_i`
    * over the unscaled (×10^6) long range literals — bit-identical to
    * the fused quantize+dequant lane in [[topK]] for any vector whose
    * codes these are, so a score between a persisted-code side and a
    * fresh-vector side is EXACTLY the score [[topK]] would produce.
    * Caller must have checked [[requireScoreBounds]].
    */
  def dequant255FromCodes(codesCol: Column,
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal]): Column = {
    require(lo.nonEmpty && lo.size == hi.size, "range literals misaligned")
    val loU = array(lo.map(l =>
      lit(l.scaleByPowerOfTen(6).longValueExact)): _*)
    val rngU = array(lo.zip(hi).map { case (l, h) =>
      lit(h.subtract(l).scaleByPowerOfTen(6).longValueExact) }: _*)
    transform(sequence(lit(0), lit(lo.size - 1)), i =>
      lit(255L) * element_at(loU, i + 1) +
        element_at(codesCol, i + 1).cast("long") * element_at(rngU, i + 1))
  }

  /** The fused quantize+dequant long lane for a FRESH vector column under
    * the corpus ranges — [[topK]]'s query-side lane, exposed for the
    * refine stage (probe vectors score against persisted corpus codes).
    */
  def dequant255FromVec(vecCol: Column,
      lo: Seq[java.math.BigDecimal], hi: Seq[java.math.BigDecimal]): Column = {
    require(lo.nonEmpty && lo.size == hi.size, "range literals misaligned")
    val loDec = array(lo.map(l => lit(l).cast("decimal(18,6)")): _*)
    val hiDec = array(hi.map(h => lit(h).cast("decimal(18,6)")): _*)
    val loU = array(lo.map(l =>
      lit(l.scaleByPowerOfTen(6).longValueExact)): _*)
    val rngU = array(lo.zip(hi).map { case (l, h) =>
      lit(h.subtract(l).scaleByPowerOfTen(6).longValueExact) }: _*)
    val v = vecCol.cast("array<double>")
    transform(sequence(lit(0), lit(lo.size - 1)), i =>
      lit(255L) * element_at(loU, i + 1) +
        codeAt(v, i, loDec, hiDec).cast("long") * element_at(rngU, i + 1))
  }

  /** Per-document quantization report (the SQ8 fidelity card):
    * `(idCol, sum_code, min_code, max_code, recon_err)` where the code
    * stats are integer-exact and `recon_err` is the EXACT decimal sum of
    * per-dim `|x_i - round(dequant_i, 6)|` (dequant = `lo + code/255 *
    * range`, one fixed double tree) cast to double — order-free, so the
    * report hash-matches any engine. A corpus whose recon_err is large on
    * many rows is telling you SQ8's per-dim resolution is not enough and
    * the PQ tier is the right one.
    */
  def quantizeReport(
      df: DataFrame, idCol: String, vecCol: String, dim: Int): DataFrame = {
    val (lo, hi) = collectRanges(df, vecCol, dim)
    val loLit = array(lo.map(l => lit(l).cast("decimal(18,6)")): _*)
    val hiLit = array(hi.map(h => lit(h).cast("decimal(18,6)")): _*)
    val v = col(vecCol).cast("array<double>")
    val cs = codes(col(vecCol), lo, hi).as("__c")
    val withCodes = df.where(v.isNotNull)
      .select(col(idCol), v.as("__v"), cs)
    // per-dim |x - dequant| as exact decimals; the accumulator is pinned
    // back to decimal(28,6) per step (the projectOnto precision-cap rule)
    val errs = transform(sequence(lit(0), lit(dim - 1)), i => {
      val x = round(element_at(col("__v"), i + 1), 6).cast("decimal(18,6)")
      val l = element_at(loLit, i + 1)
      val h = element_at(hiLit, i + 1)
      val c = element_at(col("__c"), i + 1)
      val deq = when(h === l, l.cast("double")).otherwise(
        l.cast("double") + c.cast("double") / lit(255.0) * (h - l).cast("double"))
      abs(x - round(deq, 6).cast("decimal(18,6)"))
    })
    withCodes.select(col(idCol),
      aggregate(col("__c"), lit(0L), (acc, e) => acc + e).as("sum_code"),
      array_min(col("__c")).as("min_code"),
      array_max(col("__c")).as("max_code"),
      aggregate(errs, lit(java.math.BigDecimal.ZERO).cast("decimal(28,6)"),
        (acc, e) => (acc + e).cast("decimal(28,6)"))
        .cast("double").as("recon_err"))
  }

  /** SQ8 ANN top-k: quantize corpus AND probes against the CORPUS ranges,
    * score candidates by the EXACT 255x-scaled dequantized dot (see the
    * Scoring paragraph — the raw code dot measurably mis-ranks),
    * rank `(score desc, neighbor asc)` on the GroupTopK heap. The probe
    * side is broadcast (the `bruteForceTopK` contract: corpus huge, probe
    * set bounded); the corpus streams once with no shuffle before the
    * heap's ≤k-rows-per-(query, partition) exchange.
    *
    * Scoring: the DEQUANTIZED dot product, computed exactly. The first
    * shipped face scored the raw integer dot of the code arrays, and
    * measuring it (RecallBench, round 16) showed recall 0.29-0.34
    * against the exact-dot truth where every other face cleared 0.5:
    * codes are AFFINE per dimension (`(x - lo) * 255 / range`), so their
    * dot ranks by a range-whitened, lo-shifted inner product — a
    * different similarity, not an approximation of the raw dot. The
    * faithful SQ8-IP scoring (the FAISS convention) is the dot of the
    * dequantized values `lo + code/255 * range`; multiplying each
    * coordinate by the global constant 255 clears the division, so
    * `D_i = 255 * lo_i + code_i * (hi_i - lo_i)` is EXACT at decimal
    * scale 6 and `score = sum_i D_q,i * D_c,i` (exact at scale 12) is
    * 255^2 times the dequantized dot — same ranking, zero floating
    * steps, so the top-k stays hash-oracle-exact with no rounding
    * convention while now tracking the true inner product to
    * quantization error (RecallBench after: recall_own 0.98+ at every
    * scale). The hot loop is the native 128-bit
    * [[graft.expressions.VectorExpressions.ScaledDotProduct]] over
    * unscaled-long dequants (driver-guarded magnitude bounds), and the
    * displayed `score` is the exact decimal rounded to 6 dp then cast
    * once to double (identical in any engine).
    */
  def topK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String, dim: Int,
      k: Int = 10, excludeSelf: Boolean = true): DataFrame = {
    val (lo, hi) = collectRanges(corpus, vecCol, dim)
    // probe-side length guard IN THE ROW PATH (corpus side is validated
    // inside collectRanges): a short probe would null its element_at
    // lookups, null the integer dot and silently mis-rank. raise_error
    // costs no extra action, where a count-based pre-check would
    // re-execute the whole queries plan once per call just to validate
    // it (the projectOnto guard pattern). The isNotNull WHERE runs
    // upstream, so the guard fires only for present vectors.
    val qd = col(vecCol).cast("array<double>")
    val qGuard = when(size(qd) === lit(dim), qd)
      .otherwise(raise_error(concat(
        lit("Sq8.topK: probe vector with length "), size(qd).cast("string"),
        lit(s" != $dim — mixed embedding models? " +
          "(a null dot product would silently mis-rank)")))
        .cast("array<double>"))
    // 255x-scaled exact dequantized coordinates: D_i = 255*lo_i +
    // code_i*(hi_i - lo_i). Every term has decimal scale 6, so the
    // UNSCALED value (D_i * 10^6) is an exact integer and rides as a
    // plain long; a degenerate dim (hi == lo, code 0) dequantizes to
    // 255*lo — its exact value, constant across rows. The scoring loop
    // is then the native 128-bit ScaledDotProduct expression (one
    // static call inside WholeStageCodegen) instead of an interpreted
    // per-element decimal lambda — identical exact decimal(38,12)
    // values, measured ~10x cheaper per candidate.
    // the long lane and the decimal(38,12) output must both hold the
    // worst case: |D_unscaled| < 2^63 and dim * D^2 < 10^38 (the sum's
    // unscaled bound). Any real embedding corpus sits orders of
    // magnitude inside both; fail loudly rather than wrap. The fused
    // quantize+dequant lane is the shared [[dequant255FromVec]] (the
    // per-element CODE stays inside one lambda — see codeAt's scaladoc
    // for the measured 64x blowup a nested codes() would pay).
    requireScoreBounds(lo, hi, dim, "Sq8.topK")
    def dequant255(v: Column): Column = dequant255FromVec(v, lo, hi)
    val c = corpus.where(col(vecCol).isNotNull)
      .select(col(idCol).as("neighbor_id"),
        dequant255(col(vecCol).cast("array<double>")).as("__cd"))
    val q = broadcast(queries.where(col(vecCol).isNotNull)
      .select(col(queryIdCol).as("query_id"),
        dequant255(qGuard).as("__qd")))
    val scored = c.join(q)
      .where(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("__score",
        graft.expressions.VectorExpressions.scaledDotProduct(
          col("__qd"), col("__cd")))
    // ranking on the FULL exact decimal; the displayed score rounds to
    // 6 dp in decimal BEFORE the double cast — a scale-12 decimal's
    // double conversion is engine-specific at the last ulp (DuckDB
    // divides unscaled/10^12 in doubles; the JVM parses), while at
    // scale 6 both routes are a single exact division
    graft.plans.GroupTopK(scored, Seq("query_id"),
        Seq(("__score", false), ("neighbor_id", true)), k, rankName = "rank")
      .select(col("query_id"), col("neighbor_id"),
        round(col("__score"), 6).cast("double").as("score"),
        col("rank").cast("int").as("rank"))
  }
}
