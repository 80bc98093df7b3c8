package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-derived corpus statistics. The underlying KMV ("k minimum
  * values") aggregate is [[graft.expressions.BottomKAgg]] — a bounded
  * TypedImperativeAggregate whose shuffle traffic is at most k longs per
  * (group, partition) — so these estimators run at any group cardinality
  * without ever materializing per-group distinct sets.
  */
object Sketches {

  /** Count-Min sketch row-local bucket positions: ONE md5 per value, its
    * 32 hex chars sliced into four independent 32-bit hashes, each mod
    * `w` — d is fixed at 4 (error prob e^-4 ~ 1.8%), reproducible in any
    * engine with md5 + substring (the corpus-wide portable-hash idiom).
    */
  def cmsBuckets(c: Column, w: Int): Column = {
    val h = md5(c.cast("string"))
    transform(sequence(lit(0), lit(3)), j =>
      (conv(h.substr(j * lit(8) + 1, lit(8)), 16, 10).cast("long") % w)
        .cast("int"))
  }

  /** Production twin of [[cmsBuckets]]: four seeded `xxhash64` rows —
    * no string materialization, no md5, stays in codegen. Different hash
    * family, so it is spec-tested rather than SQL-oracled; the md5 twin
    * keeps the differential gate (the q134/q138 native/portable pattern).
    */
  def cmsBucketsNative(c: Column, w: Int): Column =
    transform(sequence(lit(0), lit(3)), j =>
      pmod(xxhash64(c, j), lit(w.toLong)).cast("int"))

  /** Build the Count-Min sketch of `valueCol` as a `(j, bucket, cnt)`
    * frame (4*w rows; absent cells are zero). Cormode & Muthukrishnan
    * 2005: est(x) = min_j cnt[j][bucket_j(x)] >= true(x), and
    * est(x) <= true(x) + 2N/w with probability >= 1 - e^-4 per probe.
    * `native = true` swaps the portable md5 bucket hash for the seeded
    * xxhash64 twin (build and probe must agree on the flag).
    *
    * Scale: posexplode + count IS the fixed-size sketch build — hash
    * partial aggregation bounds pre-shuffle state at 4*w rows per
    * partition (the map-side sketch), the exchange carries at most 4*w
    * rows per partition, and everything stays in whole-stage codegen. No
    * custom aggregate needed: Catalyst's partial agg is the sketch merge.
    */
  def cmsSketch(
      df: DataFrame, valueCol: String, w: Int,
      native: Boolean = false): DataFrame = {
    require(w > 0, "w must be positive")
    val buckets =
      if (native) cmsBucketsNative(col(valueCol), w)
      else cmsBuckets(col(valueCol), w)
    df.where(col(valueCol).isNotNull)
      .select(posexplode(buckets).as(Seq("j", "bucket")))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Estimate each probe value's frequency from a [[cmsSketch]] frame:
    * `(valueCol, n_est)`. The sketch is 4*w rows — broadcast; a probe
    * cell missing from the sketch counts 0 (min over the 4 rows).
    */
  def cmsEstimate(
      sketch: DataFrame, probes: DataFrame, valueCol: String,
      w: Int, native: Boolean = false): DataFrame = {
    val buckets =
      if (native) cmsBucketsNative(col(valueCol), w)
      else cmsBuckets(col(valueCol), w)
    probes
      .select(col(valueCol),
        posexplode(buckets).as(Seq("j", "bucket")))
      .join(broadcast(sketch), Seq("j", "bucket"), "left")
      .groupBy(col(valueCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
  }

  /** The portable KMV hash of a value (md5 32-bit prefix, any engine). */
  private[graft] def kmvHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** The portable HLL hash: md5 60-bit prefix (15 hex chars — the widest
    * slice that stays a positive signed BIGINT in every engine, the q70
    * band-hash idiom). p low-order bits index the register; the remaining
    * 60-p bits feed the leading-zero rank.
    */
  private[graft] def hllHash(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Per-group HyperLogLog register maxima (Flajolet et al. 2007):
    * `(groupCols..., register, max_rho)`, one row per NON-EMPTY register
    * (absent registers are zero), `register = h mod 2^p`,
    * `rho = (60-p) + 1 - bitlength(h div 2^p)` — the 1-based position of
    * the first set bit in the suffix field (suffix 0 ⇒ `(60-p)+1`).
    *
    * All integer math: `bitlength` is `length(bin(x))` in both Spark and
    * DuckDB, so the ENTIRE sketch (not just a summary of it) sits under
    * the hash oracle — the same registers any engine rebuilds from md5.
    * The float estimator stays out of the oracled frame and is
    * spec-asserted instead ([[hllEstimate]], the q167 split of exact
    * sufficient statistics vs libm-derived score).
    *
    * Scale: `max` is associative and order-insensitive, so Catalyst's
    * hash partial aggregation IS the sketch merge — pre-shuffle state and
    * exchange traffic are bounded at 2^p rows per (group, partition)
    * regardless of input cardinality (the CMS argument, q145), and the
    * whole build stays in whole-stage codegen. Merging sketches of two
    * corpora is `unionByName` + the same groupBy/max. Against KMV (q130):
    * same O(1) state, but HLL's standard error 1.04/sqrt(m) costs 6 bits
    * per register vs KMV's 64 bits per sample slot — the cheaper sketch
    * when distinct counts are the only question.
    */
  def hllRegisters(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, "p must be in [4, 16]")
    val m = 1 << p
    val h = hllHash(col(valueCol))
    val width = 60 - p
    val rest = shiftrightunsigned(h, p)
    val rho = when(rest === 0, lit(width + 1))
      .otherwise(lit(width + 1) - length(bin(rest)))
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ pmod(h, lit(m.toLong)).cast("int").as("register")
        :+ rho.cast("int").as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("register"): _*)
      .agg(max(col("rho")).as("max_rho"))
  }

  /** Distinct-count estimates from a [[hllRegisters]] frame:
    * `(groupCols..., n_est)`. Raw estimate `alpha_m * m^2 / sum(2^-rho_j)`
    * (empty registers contribute 2^0 = 1 each); small-range correction
    * switches to linear counting `m * ln(m / V)` when the raw estimate is
    * below 2.5m and V > 0 registers are empty — the published two-regime
    * estimator. Double math ⇒ spec-asserted (SketchesSpec), not oracled;
    * the oracled artifact is the register frame itself.
    */
  def hllEstimate(registers: DataFrame, groupCols: Seq[String], p: Int = 6): DataFrame = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m)
    }
    val zeros = lit(m) - count(lit(1))
    val invSum = sum(pow(lit(2.0), -col("max_rho"))) + zeros.cast("double")
    val raw = lit(alpha * m.toLong * m) / invSum
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m).cast("double") / zeros.cast("double")))
      .otherwise(raw)
    registers.groupBy(groupCols.map(col): _*)
      .agg(round(est, 2).as("n_est"))
  }

  /** Bar-Yossef estimate over a sketch column NAMED `bk` (all-integer —
    * `div`, not float division, so it hash-matches SQL engines).
    */
  private[graft] def kmvEstimate(k: Int): Column =
    when(size(col("bk")) < k, size(col("bk")).cast("long"))
      .otherwise(expr(s"CAST(${(k - 1).toLong * 4294967296L} div element_at(bk, $k) AS BIGINT)"))

  /** Per-group distinct-count estimate from the KMV sketch, next to the
    * exact count for audit: `(groupCols..., n_exact, n_est)`.
    *
    * Estimator (Bar-Yossef et al. 2002): with h uniform on [0, 2^32) and
    * h_(k) the k-th smallest DISTINCT hash, D ~ (k-1) * 2^32 / h_(k);
    * relative error ~ 1/sqrt(k-2). A group with fewer than k distinct
    * hashes has an exact sketch — the estimate IS its size. All integer
    * math (floor division), so the estimate hash-matches any engine that
    * reproduces the md5-prefix hash — no float drift (q130).
    *
    * Scale: the exact count here is for the oracle/audit column; at 100 TB
    * drop it (`withExact = false`) and the whole statistic is one bounded
    * map-side-combinable aggregation — the point of carrying a sketch.
    */
  def kmvDistinctCount(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Int = 16, withExact: Boolean = true): DataFrame = {
    require(k >= 3, "k must be >= 3 (estimator needs k-1 >= 2)")
    val h = kmvHash(col(valueCol))
    val est = kmvEstimate(k)
    val aggs =
      if (withExact)
        Seq(countDistinct(col(valueCol)).as("n_exact"),
          graft.expressions.BottomKAgg.bottomKHashes(h, k).as("bk"))
      else Seq(graft.expressions.BottomKAgg.bottomKHashes(h, k).as("bk"))
    val out = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .withColumn("n_est", est)
    val keep = groupCols.map(col) ++
      (if (withExact) Seq(col("n_exact")) else Nil) :+ col("n_est")
    out.select(keep: _*)
  }

  /** Per-group quantile estimates from the bounded
    * [[graft.expressions.BottomKSample]] sketch:
    * `(groupCols..., q, n_sample, est)` for each requested quantile.
    *
    * `hashKey` must be row-unique (an id, not the value) so the k
    * smallest [[kmvHash]]es form a uniform row sample; `est` is the
    * NEAREST-RANK-LOWER element `sample[floor(q * (n-1))]` of the
    * value-sorted sample — an exact element pick, no interpolation, so
    * the estimate is bit-identical to the SQL rebuild
    * (`row_number() OVER (ORDER BY hv, v) <= k`, then the same element
    * pick — q154). Sampling error on the quantile RANK is the binomial
    * O(sqrt(q(1-q)/k)) (property-tested in QuantileSketchSpec).
    *
    * `interpolate = true` switches the pick to the `percentile` /
    * `quantile_cont` convention users expect from q37: linear
    * interpolation between the two bracketing sample elements at
    * position `p = q * (n-1)` — `v[floor(p)] + (p - floor(p)) *
    * (v[floor(p)+1] - v[floor(p)])`, upper index clamped at n. Still
    * SQL-replayable: per-row double math is IEEE-identical across
    * engines (house float-parity note), with the house 6-dp round on the
    * derived value (q160).
    *
    * Scale: ONE map-side-combinable aggregation whose state and shuffle
    * are O(k) pairs per (group, partition) — the bounded replacement for
    * exact `percentile`, which shuffles every value (q37). The 100 TB
    * per-group profiling statistic the exact aggregate cannot provide.
    */
  def quantileSketch(
      df: DataFrame, groupCols: Seq[String], hashKey: Column,
      valueCol: String, k: Int, qs: Seq[Double],
      interpolate: Boolean = false): DataFrame = {
    val sample = graft.expressions.BottomKSample.bottomKSample(
      kmvHash(hashKey), col(valueCol).cast("double"), k)
    // hashKey nulls must go too: a group whose keys are ALL null would
    // otherwise produce an empty sample and element_at(..., 1) would throw
    quantilePicks(
      df.where(col(valueCol).isNotNull && hashKey.isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(sample.as("__vals")),
      groupCols, qs, interpolate)
  }

  /** The quantile pick over a frame holding a value-sorted sample array in
    * `__vals`: one output row per (group, q) — shared by the batch
    * [[quantileSketch]] and the streaming
    * [[graft.streaming.EventStreams.quantileEstimateStreaming]] face (the
    * sample is a set function of the group, so batch and streamed sketches
    * are bit-identical and both sit under the same SQL oracle).
    */
  private[graft] def quantilePicks(
      grouped: DataFrame, groupCols: Seq[String], qs: Seq[Double],
      interpolate: Boolean): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "quantiles must be within [0, 1]")
    val n = size(col("__vals"))
    val est =
      if (!interpolate)
        element_at(col("__vals"), floor(col("q") * (n - 1)).cast("int") + 1)
      else {
        val p = col("q") * (n - 1)
        val lo = floor(p).cast("int")
        val vl = element_at(col("__vals"), lo + 1)
        val vu = element_at(col("__vals"), least(lo + 2, n))
        round(vl + (p - floor(p)) * (vu - vl), 6)
      }
    grouped
      .select(groupCols.map(col) :+
        explode(array(qs.map(lit): _*)).as("q") :+ col("__vals"): _*)
      .select(groupCols.map(col) ++ Seq(col("q"),
        n.cast("long").as("n_sample"), est.as("est")): _*)
  }

  /** KMV set-OVERLAP estimate between two corpora's distinct `valueCol`
    * sets (Beyer et al. 2007): each side reduces to its k smallest
    * portable hashes, the union sketch is the k smallest of the merged
    * samples, and `jaccard_est = |union sketch ∩ both sides| / |union
    * sketch|` — the classic KMV Jaccard estimator, with
    * `union_est` from the union sketch's kth value and
    * `inter_est = jaccard_est * union_est`. Returns ONE row:
    * `(n_a_sample, n_b_sample, union_est, jaccard_est, inter_est)`.
    *
    * The cross-corpus dedup-planning question ("how much of B have we
    * already got in A?") answered with two O(k) aggregations — each side
    * is one map-side-combinable bottom-k pass, the merge is row-local
    * array math on a 1x1 crossJoin of the two single-row sketches. Below
    * k distinct values the estimates are exact. Same [[kmvHash]] family
    * as q130, so any engine with md5 replays every value bit-for-bit.
    */
  def kmvOverlap(
      a: DataFrame, b: DataFrame, valueCol: String, k: Int = 64): DataFrame = {
    require(k >= 3, "k must be >= 3 (estimator needs k-1 >= 2)")
    def sketch(df: DataFrame, out: String): DataFrame =
      df.agg(graft.expressions.BottomKAgg
        .bottomKHashes(kmvHash(col(valueCol)), k).as(out))
    val merged = slice(array_sort(array_union(col("bka"), col("bkb"))), 1, k)
    val one = sketch(a, "bka").crossJoin(sketch(b, "bkb"))
      .withColumn("__m", merged)
      .withColumn("__msz", size(col("__m")))
      .withColumn("__shared",
        size(array_intersect(col("__m"),
          array_intersect(col("bka"), col("bkb")))))
      .withColumn("union_est",
        when(col("__msz") < k, col("__msz").cast("long"))
          .otherwise(expr(
            s"CAST(${(k - 1).toLong * 4294967296L} div element_at(__m, $k) AS BIGINT)")))
      .withColumn("jaccard_est",
        round(col("__shared").cast("double") / col("__msz"), 6))
    one.select(size(col("bka")).cast("long").as("n_a_sample"),
      size(col("bkb")).cast("long").as("n_b_sample"),
      col("union_est"), col("jaccard_est"),
      round(col("jaccard_est") * col("union_est"), 2).as("inter_est"))
  }
}
