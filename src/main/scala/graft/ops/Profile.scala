package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact per-column profiling — the engine-side `summary()` an ETL user
  * runs before trusting a new table: row count, null count, distinct count,
  * min/max (as strings, so one schema fits every column type).
  *
  * One wide aggregation computes every column's stats in a SINGLE pass over
  * the data (`count_distinct` for several columns plans as expand +
  * partial aggregation — still one scan); the tall (column-per-row) shape
  * comes from unpivoting the 1-row wide result, not from per-column jobs.
  * `describe`/`summary` built-ins are approximate for quantiles and skip
  * distinct counts; this is the exact, oracle-comparable variant.
  */
object Profile {

  /** Profile `cols` (default: all columns) of `df`: one row per column with
    * `(column, n_rows, n_nulls, n_distinct, min_value, max_value)`;
    * min/max/distinct ignore nulls, string-rendered.
    */
  def apply(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val targets = if (cols.nonEmpty) cols else df.columns.toIndexedSeq
    targets.foreach(c => require(df.columns.contains(c), s"column $c not found"))
    def bq(c: String) = col(s"`$c`")
    val aggs = targets.flatMap { c =>
      Seq(
        count(when(bq(c).isNull, 1)).as(s"__nn_$c"),
        countDistinct(bq(c)).as(s"__nd_$c"),
        min(bq(c)).cast("string").as(s"__mn_$c"),
        max(bq(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__rows")
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // backquotes: profiled column names may contain dots, which bare col()
    // would parse as struct access on the alias
    val rows = targets.map { c =>
      struct(lit(c).as("column"), col("__rows").as("n_rows"),
        col(s"`__nn_$c`").as("n_nulls"), col(s"`__nd_$c`").as("n_distinct"),
        col(s"`__mn_$c`").as("min_value"), col(s"`__mx_$c`").as("max_value"))
    }
    wide.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  /** Fixed-width histogram of numeric `colName`: bucket `i` covers
    * `[i*width, (i+1)*width)`, values below 0 clamp into bucket 0 and values
    * at or above `maxBucket*width` into the last bucket (open-ended tails —
    * no row is ever dropped). Returns `(bucket, n, sum_value)` for NON-EMPTY
    * buckets, sum decimal-routed for cross-engine parity.
    *
    * Scale: one codegen'd projection + one map-side-combinable aggregation
    * on at most `maxBucket+1` keys — shuffle volume is O(buckets), not rows.
    */
  def histogram(
      df: DataFrame, colName: String, width: Double, maxBucket: Int,
      sumScale: Int = 4): DataFrame = {
    require(width > 0, "width must be positive")
    require(maxBucket > 0, "maxBucket must be positive")
    val c = col(colName)
    df.where(c.isNotNull)
      .groupBy(least(greatest(floor(c / width), lit(0)), lit(maxBucket.toLong))
        .cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(c.cast(s"decimal(18,$sumScale)")).cast("double").as("sum_value"))
  }

  /** Deterministic PAIRWISE-COMPLETE Pearson correlation for every pair
    * of `valueCols`, optionally per group:
    * `(groupCols..., col_x, col_y, n, corr)`. Each pair's statistics use
    * exactly the rows where BOTH columns are non-null (the standard
    * `pairwise.complete.obs` convention), so `n` is per-pair; a pair with
    * zero complete rows or zero variance yields null.
    *
    * Spark's `corr` aggregate accumulates co-moments in floating point,
    * so its value depends on partitioning and merge order — it cannot be
    * hash-compared across runs, let alone engines. This formulation
    * routes the five raw sums (x, y, xy, x^2, y^2) through EXACT decimal
    * aggregation — products taken in decimal, so no double-rounds-to-
    * decimal boundary cases — and derives
    * `(n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))` in double
    * as a per-group SCALAR: every step is order-independent, making the
    * result bit-stable across partitionings and engines (q150's oracle
    * replays the identical expression in DuckDB, FILTER clauses included).
    *
    * Input domain (`intMoments = true`, the default): values are cast to
    * `decimal(18, sumScale)` then to a scaled long, and the scaled
    * magnitude must stay below 2^31 (~2.1e5 at the default scale) so
    * every product fits a 64-bit long — a row above the bound FAILS
    * LOUDLY (codegen'd `assert_true`, the factorLevels fail-fast
    * convention) with the remedy in the message: set
    * `intMoments = false` for the decimal-moment path, whose domain is
    * `10^(18-sumScale)` (1e14 at the default scale; larger values null
    * out under non-ANSI cast and the row counts as incomplete for every
    * pair that column touches).
    *
    * Scale: ONE pass, one map-side-combinable aggregation, TALL from the
    * start — each row explodes into |pairs| structs keyed by a pair
    * ordinal, and the aggregation is plain moment sums over
    * `(groupCols..., pair)`. The wide alternative (6·|pairs| conditional
    * agg columns) generates O(|pairs|) codegen that at 3 value columns
    * already took a two-digit-second janino compile and at 20 would not
    * compile at all; here generated code size is CONSTANT in |pairs|.
    * The pair key is an int (names rejoined from a literal array after
    * the agg). Still one plan branch, one Exchange, single-scan by
    * construction — locked by PlanAuditSpec.
    *
    * The integer-moment fast path (the q130/q145 all-integer idea, taken
    * further): decimal sums of decimal products run through BigDecimal
    * once the accumulator leaves Spark's 18-digit compact-long range —
    * measured 2.3-2.4 s on the q150 shape. Instead each scaled-long
    * product (|p| < 2^62 by the domain guard) is decomposed into three
    * base-2^21 digits `p = (p>>42)*2^42 + ((p>>21)&m)*2^21 + (p&m)`
    * (exact for negatives: arithmetic shift floors, masked digits are
    * non-negative) and each digit column is summed as a PRIMITIVE long —
    * the whole aggregation stays in codegen'd long arithmetic, no
    * BigDecimal anywhere in the hot path (measured 1.2 s, ~2x). Digit
    * sums stay exact for n < 2^42 complete rows PER (group, pair) —
    * ~4e12, comfortably past the 100 TB shape — and recombine EXACTLY in
    * decimal(38,0) at the |groups|·|pairs|-row scalar stage. The
    * correlation formula is scale-invariant, so feeding it 10^sumScale-
    * scaled sums changes nothing mathematically; double rounding at the
    * reassembled magnitudes differs from the decimal path only at the
    * ~1e-15 level the house 6-dp round already absorbs (the q150 oracle
    * is unchanged and still hash-matches).
    */
  def correlationMatrix(
      df: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
      sumScale: Int = 4, intMoments: Boolean = true): DataFrame = {
    require(valueCols.size >= 2, "need at least two value columns")
    valueCols.foreach(c =>
      require(df.columns.contains(c), s"column $c not found"))
    val pairs = for {
      i <- valueCols.indices; j <- valueCols.indices if i < j
    } yield (i, j)
    val nameX = array(pairs.map { case (i, _) => lit(valueCols(i)) }: _*)
    val nameY = array(pairs.map { case (_, j) => lit(valueCols(j)) }: _*)
    def finish(g: DataFrame): DataFrame = {
      val n = col("n").cast("double")
      val den = sqrt((n * col("sxx") - col("sx") * col("sx")) *
        (n * col("syy") - col("sy") * col("sy")))
      g.select(groupCols.map(col) ++ Seq(
        element_at(nameX, col("pi") + 1).as("col_x"),
        element_at(nameY, col("pi") + 1).as("col_y"),
        col("n"),
        when(den > 0.0,
          (n * col("sxy") - col("sx") * col("sy")) / den).as("corr")): _*)
    }
    if (!intMoments) {
      def d(i: Int) = col(s"__d$i")
      def sq(i: Int) = col(s"__s$i")
      // stage 1: cast once per column; stage 2: square once per column
      // (shared by every pair that column appears in)
      val casted = df.select(groupCols.map(col) ++
        valueCols.zipWithIndex.map { case (c, i) =>
          col(c).cast(s"decimal(18,$sumScale)").as(s"__d$i") }: _*)
      val squared = casted.select(col("*") +:
        valueCols.indices.map(i => (d(i) * d(i)).as(s"__s$i")): _*)
      val pairStructs = pairs.zipWithIndex.map { case ((i, j), p) =>
        val both = d(i).isNotNull && d(j).isNotNull
        struct(lit(p).as("pi"),
          when(both, d(i)).as("x"), when(both, d(j)).as("y"),
          when(both, sq(i)).as("xx"), when(both, sq(j)).as("yy"),
          (d(i) * d(j)).as("xy")) // null when either side is — no branch
      }
      val g = squared
        .select(groupCols.map(col) :+
          explode(array(pairStructs: _*)).as("__p"): _*)
        .groupBy(groupCols.map(col) :+ col("__p.pi").as("pi"): _*)
        .agg(count(col("__p.x")).as("n"),
          sum(col("__p.x")).cast("double").as("sx"),
          sum(col("__p.y")).cast("double").as("sy"),
          sum(col("__p.xx")).cast("double").as("sxx"),
          sum(col("__p.yy")).cast("double").as("syy"),
          sum(col("__p.xy")).cast("double").as("sxy"))
      return finish(g)
    }
    val lim = 1L << 31
    val mask = (1L << 21) - 1
    def l(i: Int) = col(s"__l$i")
    // scaled-long cast with the loud domain guard: assert_true returns
    // null when the condition holds (nulls pass — they are the decimal
    // path's null-cast semantics too), so the when() wrapper is a no-op
    // carrier that keeps the assertion in the projection
    val casted = df.select(groupCols.map(col) ++
      valueCols.zipWithIndex.map { case (c, i) =>
        val scaled = (col(c).cast(s"decimal(18,$sumScale)") *
          math.pow(10, sumScale).toLong).cast("long")
        when(assert_true(scaled.isNull || abs(scaled) < lim,
            lit(s"correlationMatrix(intMoments=true) domain: |$c| must stay " +
              s"below ${lim / math.pow(10, sumScale).toLong} " +
              s"(scaled 2^31); use intMoments = false for wider magnitudes"))
            .isNull, scaled).as(s"__l$i") }: _*)
    def hi42(c: Column) = shiftright(c, 42)
    def mid21(c: Column) = shiftright(c, 21).bitwiseAND(lit(mask))
    def lo21(c: Column) = c.bitwiseAND(lit(mask))
    val pairStructs = pairs.zipWithIndex.map { case ((i, j), p) =>
      val both = l(i).isNotNull && l(j).isNotNull
      val xx = l(i) * l(i); val yy = l(j) * l(j); val xy = l(i) * l(j)
      val fields = Seq(lit(p).as("pi"),
        when(both, shiftright(l(i), 21)).as("x_h"),
        when(both, lo21(l(i))).as("x_l"),
        when(both, shiftright(l(j), 21)).as("y_h"),
        when(both, lo21(l(j))).as("y_l")) ++
        Seq(("xx", xx), ("yy", yy)).flatMap { case (nm, c) =>
          Seq(when(both, hi42(c)).as(s"${nm}_h"),
            when(both, mid21(c)).as(s"${nm}_m"),
            when(both, lo21(c)).as(s"${nm}_l")) } ++
        Seq(hi42(xy).as("xy_h"), mid21(xy).as("xy_m"), lo21(xy).as("xy_l"))
      struct(fields: _*)
    }
    val sums =
      Seq("x_h", "x_l", "y_h", "y_l", "xx_h", "xx_m", "xx_l",
        "yy_h", "yy_m", "yy_l", "xy_h", "xy_m", "xy_l")
        .map(f => sum(col(s"__p.$f")).as(s"s_$f"))
    val g = casted
      .select(groupCols.map(col) :+
        explode(array(pairStructs: _*)).as("__p"): _*)
      .groupBy(groupCols.map(col) :+ col("__p.pi").as("pi"): _*)
      .agg(count(col("__p.x_l")).as("n"), sums: _*)
    // exact recombination in decimal(38,0) on |groups|*|pairs| rows, then
    // ONE correctly-rounded cast to double per sum
    def dec(c: Column) = c.cast("decimal(38,0)")
    def lin2(h: String, lo: String) =
      (dec(col(h)) * lit(1L << 21) + dec(col(lo))).cast("double")
    def lin3(h: String, m: String, lo: String) =
      (dec(col(h)) * lit(1L << 42) + dec(col(m)) * lit(1L << 21) +
        dec(col(lo))).cast("double")
    finish(g.select(groupCols.map(col) ++ Seq(col("pi"), col("n"),
      lin2("s_x_h", "s_x_l").as("sx"), lin2("s_y_h", "s_y_l").as("sy"),
      lin3("s_xx_h", "s_xx_m", "s_xx_l").as("sxx"),
      lin3("s_yy_h", "s_yy_m", "s_yy_l").as("syy"),
      lin3("s_xy_h", "s_xy_m", "s_xy_l").as("sxy")): _*))
  }

  /** Per-group simple OLS fit `y = intercept + slope*x`: returns one row
    * per group with `(groupCols..., n, slope, intercept, r2)`, the fit
    * coefficients rounded to 6 dp — the "is this metric drifting over
    * time" trend report run per source/type/segment.
    *
    * Exactness contract: the five sufficient-statistic sums route through
    * `decimal(18,scale)` (products `decimal(37, 2*scale)`, sums
    * `decimal(38, 2*scale)`), so they are EXACT and merge-order-free; the
    * closed-form slope/intercept/r2 is then a fixed tree of per-row IEEE
    * double ops over those exact sums — bit-reproducible in any engine
    * that replays the same tree. Inputs must satisfy `|x|,|y| < 1e14`
    * (decimal(18,4) domain); with 38-digit headroom the sums stay exact
    * past 1e12 rows per group at |x*y| <= 1e12 — the 100 TB envelope for
    * bounded metrics like hour indexes and event values.
    *
    * Scale: ONE map-side-combinable aggregation (six partial sums per
    * group), shuffle volume O(groups); the coefficient math runs on the
    * already-tiny group frame. Rows with a null x or y are excluded
    * (pairwise-complete, the [[correlationMatrix]] convention).
    */
  def trendOls(
      df: DataFrame, groupCols: Seq[String], xCol: String, yCol: String,
      scale: Int = 4): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val xd = col(xCol).cast(s"decimal(18,$scale)")
    val yd = col(yCol).cast(s"decimal(18,$scale)")
    val g = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(xd).as("__sx"), sum(yd).as("__sy"),
        sum(xd * xd).as("__sxx"), sum(yd * yd).as("__syy"),
        sum(xd * yd).as("__sxy"))
    def d(c: String) = col(c).cast("double")
    val n = col("n").cast("double")
    val covn = n * d("__sxy") - d("__sx") * d("__sy")
    val varxn = n * d("__sxx") - d("__sx") * d("__sx")
    val varyn = n * d("__syy") - d("__sy") * d("__sy")
    val slope = covn / varxn
    g.select(groupCols.map(col) ++ Seq(col("n"),
      // + 0.0 normalizes signed zero on the sign-capable readouts
      // (near-zero slope/intercept; the q260 convention)
      (round(slope, 6) + lit(0.0)).as("slope"),
      (round((d("__sy") - slope * d("__sx")) / n, 6) + lit(0.0)).as("intercept"),
      round((covn * covn) / (varxn * varyn), 6).as("r2")): _*)
  }

  /** Equal-frequency binning: assign every row its `n`-quantile bucket of
    * `valCol` within its group (rank-based `ntile`, ties broken by
    * `tieCol` for a deterministic total order) and report per-bin
    * `(groupCols..., bin, n, lo, hi)` — the feature-engineering
    * discretizer and the exact equi-depth histogram.
    *
    * One window exchange on the group key; the per-bin aggregation reuses
    * that partitioning (bin is a refinement of the group hash), so the
    * whole report is a single shuffle. `ntile` is rank arithmetic — no
    * value interpolation — so results are engine-exact by construction.
    */
  def quantileBins(
      df: DataFrame, groupCols: Seq[String], valCol: String, n: Int,
      tieCol: String): DataFrame = {
    require(n >= 2, "n must be at least 2")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valCol), col(tieCol))
    df.where(col(valCol).isNotNull)
      .withColumn("bin", ntile(n).over(w))
      .groupBy(groupCols.map(col) :+ col("bin"): _*)
      .agg(count(lit(1)).as("n"),
        min(col(valCol)).as("lo"), max(col(valCol)).as("hi"))
  }

  /** Percentile-rank normalization within groups: each row's `valCol`
    * mapped to `(rank - 1) / (n - 1)` (SQL `percent_rank`, ties share a
    * rank) — the scale-free feature normalization that survives outliers
    * and arbitrary score distributions. Appends `pct_rank` rounded to
    * 6 dp (0.0 for single-row groups, the SQL convention). One group
    * exchange; rank arithmetic only, no value interpolation — exact in
    * any engine.
    */
  def percentRankNormalize(
      df: DataFrame, groupCols: Seq[String], valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col(valCol))
    df.where(col(valCol).isNotNull)
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
  }

  /** Per-group rank buckets (the CCNet head/middle/tail primitive):
    * bucket `i` of `nBuckets` holds the rows whose 6-dp-rounded
    * percent rank falls in `[i/n, (i+1)/n)` (top rank clamps into the
    * last bucket). Chosen over `ntile` DELIBERATELY: ntile splits equal
    * counts and therefore separates TIED values by arbitrary order —
    * engine- and partitioning-dependent — while percent-rank thresholds
    * keep ties together, so the assignment replays exactly in any
    * engine. Appends `bucket` (int); null `valCol` rows are dropped
    * (the [[percentRankNormalize]] contract).
    */
  def rankBuckets(
      df: DataFrame, groupCols: Seq[String], valCol: String,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, "need at least 2 buckets")
    percentRankNormalize(df, groupCols, valCol)
      .withColumn("bucket",
        least(floor(col("pct_rank") * nBuckets), lit(nBuckets - 1)).cast("int"))
      .drop("pct_rank")
  }

  /** Exponentially-weighted moving average per series with alpha = 1/2:
    * `s_1 = x_1; s_t = (x_t + s_(t-1)) / 2` over `(orderCol)` order within
    * each group. Alpha is FIXED at one half on purpose: halving a double
    * is an exponent shift (exact), so the only rounding in the recursion
    * is the single IEEE addition per step — the smoothed series is
    * bit-reproducible in any engine that replays the same recursion
    * (arbitrary alphas would compound multiply-rounding into
    * engine-dependent last ulps). Returns `(groupCols..., orderCol,
    * valCol, ewma)`.
    *
    * Scale: the input here is an already-aggregated series frame (points
    * per group = days/hours — thousands, not rows of the raw fact table);
    * the scan runs row-local per group after ONE group exchange via a
    * sorted collect + the native O(n) prefix-scan expression
    * ([[graft.expressions.ScanExpressions.ewmaHalfScan]] — the previous
    * `aggregate`+`concat` fold copied the whole emitted prefix per
    * element, O(n^2) per group; ADVICE r11), never a per-row window
    * chain. The heavy lifting (daily totals from 100 TB of raw events)
    * happens upstream in a map-side-combinable aggregation.
    */
  def ewmaHalf(
      df: DataFrame, groupCols: Seq[String], orderCol: String,
      valCol: String): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val pts = df.where(col(valCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(
        struct(col(orderCol).as("o"), col(valCol).cast("double").as("x"))))
        .as("__pts"))
    // the s-series comes from the native scan over the x values (same
    // IEEE recursion, bit-identical output); zip it back onto the sorted
    // points positionally
    val folded = zip_with(
      col("__pts"),
      graft.expressions.ScanExpressions.ewmaHalfScan(
        transform(col("__pts"), e => e.getField("x"))),
      (p, sv) => struct(p.getField("o").as("o"), p.getField("x").as("x"),
        sv.as("s")))
    pts.select(groupCols.map(col) :+ explode(folded).as("__e"): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__e.o").as(orderCol), col("__e.x").as(valCol),
        col("__e.s").as("ewma")): _*)
  }

  /** Day-of-week seasonal residual screen: for each `(groupCols, day)`
    * point, the COUNT-SCALED residual `n_wd * x - sum_wd(x)` against the
    * series' same-weekday baseline — positive when the point sits above
    * its weekday mean. Scaling by the weekday count instead of dividing
    * keeps the arithmetic exact decimal end to end (the q150 long-scaled
    * moment convention: no mean division, no engine-dependent decimal
    * quotient). Returns `(groupCols..., day, x, wd, n_wd,
    * scaled_resid)` with `scaled_resid = n_wd*x - sum_wd` as DOUBLE cast
    * from the exact decimal.
    *
    * Scale: one group-key aggregation for the weekday sums (map-side
    * combinable, O(groups x 7) rows) broadcast back onto the series —
    * the fact-table reduction to daily points happens upstream.
    */
  def weekdayResiduals(
      df: DataFrame, groupCols: Seq[String], dayCol: String,
      valCol: String, scale: Int = 4): DataFrame = {
    require(groupCols.nonEmpty, "need at least one group column")
    val xd = col(valCol).cast(s"decimal(18,$scale)")
    val wd = pmod(col(dayCol).cast("long") + 4, lit(7)) // epoch day 0 = Thursday
    val pts = df.where(col(valCol).isNotNull)
      .withColumn("wd", wd)
    val base = pts.groupBy(groupCols.map(col) :+ col("wd"): _*)
      .agg(count(lit(1)).as("n_wd"), sum(xd).as("__swd"))
    pts.join(broadcast(base), groupCols :+ "wd")
      .select(groupCols.map(col) ++ Seq(col(dayCol), col(valCol),
        col("wd"), col("n_wd"),
        (col("n_wd") * xd - col("__swd")).cast("double").as("scaled_resid")): _*)
  }

  /** Two-sample Kolmogorov–Smirnov drift between sides `sideA` and
    * `sideB` of `sideCol`, per group: the max ECDF gap as the EXACT
    * integer `d_scaled = max |i*m - j*n|` (i, j cumulative counts at each
    * distinct value; n, m side totals) plus the rounded `ks = d_scaled /
    * (n*m)`. Rank arithmetic only — no floating ECDFs — so the statistic
    * is engine-exact; the continuous-distribution complement of the
    * chi-square drift test (which needs binned categories). Ties follow
    * the ECDF-jump convention: the gap is evaluated AT each distinct
    * value with ties fully counted.
    *
    * Scale: one (group, value) pre-aggregation shrinks the window input
    * to distinct values (map-side combinable), then ONE window exchange
    * on the group key. A global (ungrouped) KS is a total-order statistic
    * and inherits a single-partition window over the DISTINCT-value
    * frame — bounded by value cardinality, not row count.
    */
  def ksDrift(
      df: DataFrame, groupCols: Seq[String], sideCol: String,
      valCol: String, sideA: String, sideB: String): DataFrame = {
    require(sideA != sideB, "sides must differ")
    ksFromCounts(
      ksSideCounts(df, groupCols, sideCol, valCol, sideA, sideB), groupCols)
  }

  /** The distinct-value side counts [[ksDrift]] windows over —
    * `(groupCols..., __v, __ca, __cb)`. Split out because the counts are
    * ADDITIVE (a Complete-mode streaming aggregation of them equals the
    * batch frame under any cut), which makes the KS monitor streamable
    * with the q204/q209 pattern.
    */
  def ksSideCounts(
      df: DataFrame, groupCols: Seq[String], sideCol: String,
      valCol: String, sideA: String, sideB: String): DataFrame =
    df.where(col(sideCol).isin(sideA, sideB) && col(valCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(valCol).as("__v"): _*)
      .agg(count(when(col(sideCol) === sideA, 1)).as("__ca"),
        count(when(col(sideCol) === sideB, 1)).as("__cb"))

  /** The ECDF-gap scan over pre-built side counts (see [[ksSideCounts]]). */
  def ksFromCounts(per: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(g: _*)
    val cum = per
      .withColumn("__i", sum(col("__ca")).over(wOrd))
      .withColumn("__j", sum(col("__cb")).over(wOrd))
      .withColumn("__n", sum(col("__ca")).over(wAll))
      .withColumn("__m", sum(col("__cb")).over(wAll))
    cum.groupBy(g: _*)
      .agg(max(col("__n")).as("n_a"), max(col("__m")).as("n_b"),
        max(abs(col("__i") * col("__m") - col("__j") * col("__n")))
          .as("d_scaled"))
      .select(g ++ Seq(col("n_a"), col("n_b"), col("d_scaled"),
        when(col("n_a") === 0 || col("n_b") === 0, lit(null).cast("double"))
          .otherwise(round(col("d_scaled").cast("double") /
            (col("n_a") * col("n_b")), 6)).as("ks")): _*)
  }

  /** Exact two-class AUC per group via the rank-sum (Mann–Whitney U)
    * statistic with full tie handling — the classifier-quality readout a
    * curation run publishes next to its filter thresholds. All rank
    * arithmetic is integer-exact (the [[ksDrift]] convention): for each
    * distinct score `v` with `c_v` rows (`y_v` of them positive) and
    * inclusive cumulative count `cc_v`, the doubled positive rank sum is
    * `r2 = Σ y_v * (2*cc_v - c_v + 1)` (ties take the doubled average
    * rank, which is that integer), `u2 = r2 - n_pos*(n_pos+1)` is twice
    * the U statistic, and `auc = u2 / (2*n_pos*n_neg)` rounded to 6 dp —
    * the only floating step. A single-class group reports null AUC.
    *
    * Returns `(groupCols..., n_pos, n_neg, u2, auc)`. `u2` is a long:
    * past ~3e9 rows per group it would overflow — the same documented
    * bound the other long-scaled rank statistics carry.
    *
    * Scale: one map-side-combinable (group, score) aggregation shrinks
    * the window input to distinct scores, then ONE window exchange on
    * the group key; empty `groupCols` degrades to a single-partition
    * window over the distinct-score frame — bounded by score
    * cardinality, not rows (the global-KS caveat).
    */
  def aucExact(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      positive: Column): DataFrame =
    aucFromCounts(aucCounts(df, groupCols, scoreCol, positive), groupCols)

  /** The distinct-score counts [[aucExact]] windows over —
    * `(groupCols..., __v, __c, __y)`. Split out because the counts are
    * ADDITIVE (the [[ksSideCounts]] argument), which makes the AUC
    * monitor streamable: a Complete-mode aggregation of them equals the
    * batch frame under any stream cut.
    */
  def aucCounts(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      positive: Column): DataFrame =
    df.where(col(scoreCol).isNotNull)
      .groupBy(groupCols.map(col) :+ col(scoreCol).as("__v"): _*)
      .agg(count(lit(1)).as("__c"),
        count(when(positive, 1)).as("__y"))

  /** Threshold-based average precision (the PR-AUC companion to
    * [[aucExact]] — the readout that matters when positives are rare,
    * e.g. a contamination or PII screen): over distinct scores
    * DESCENDING, `AP = (1/n_pos) * Σ_v ΔTP_v * P_v` with
    * `P_v = TP_v / (TP_v + FP_v)` evaluated at each threshold with ties
    * fully counted (the tie-robust definition that needs no
    * interpolation choice). TP/FP are exact integer cumulative counts;
    * each per-threshold term is ONE fixed double tree over exact
    * integers rounded to 12 dp, the terms sum as exact decimals
    * (order-free — the giniFeatureScores convention), and the final
    * divide-by-n_pos rounds to 6 dp. Single-class groups report null.
    *
    * Returns `(groupCols..., n_pos, n_neg, ap)`. Scale: identical shape
    * to [[aucExact]] — one map-side-combinable distinct-score
    * aggregation, one group-keyed window exchange.
    */
  def averagePrecision(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      positive: Column): DataFrame = {
    val g = groupCols.map(col)
    val per = aucCounts(df, groupCols, scoreCol, positive)
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = per
      .withColumn("__tp", sum(col("__y")).over(wDesc))
      .withColumn("__n", sum(col("__c")).over(wDesc))
    val term = round(col("__y").cast("double") * col("__tp") / col("__n"), 12)
      .cast("decimal(32,12)")
    cum.groupBy(g: _*)
      .agg(sum(col("__y")).as("n_pos"),
        sum(col("__c") - col("__y")).as("n_neg"),
        sum(term).as("__s"))
      .select(g ++ Seq(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0 || col("n_neg") === 0,
          lit(null).cast("double"))
          .otherwise(round(col("__s").cast("double") / col("n_pos"), 6))
          .as("ap")): _*)
  }

  /** The rank-sum scan over pre-built score counts (see [[aucCounts]]). */
  def aucFromCounts(per: DataFrame, groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__v"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = per.withColumn("__cc", sum(col("__c")).over(wOrd))
    val agg0 = cum.groupBy(g: _*)
      .agg(sum(col("__y")).as("n_pos"),
        sum(col("__c") - col("__y")).as("n_neg"),
        sum(col("__y") * (lit(2) * col("__cc") - col("__c") + 1)).as("__r2"))
    val u2 = col("__r2") - col("n_pos") * (col("n_pos") + 1)
    agg0.select(g ++ Seq(col("n_pos"), col("n_neg"),
      u2.cast("long").as("u2"),
      when(col("n_pos") === 0 || col("n_neg") === 0,
        lit(null).cast("double"))
        .otherwise(round(u2.cast("double")
          / (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc")): _*)
  }

  /** Gini split scores of categorical features against a BINARY target —
    * "which metadata field best predicts the quality label": for each
    * feature, the dataset's base Gini impurity, the feature-conditioned
    * weighted impurity, and their difference (the gain a single-split
    * decision stump would achieve). The log-free impurity is chosen over
    * entropy deliberately: with exactly two classes it is ONE fixed
    * four-op double tree per row (`1 - p1² - p0²`), bit-reproducible in
    * any engine, where `ln` is libm-dependent in its last ulp.
    *
    * Per-value terms are rounded to 6 dp and summed as exact decimals
    * (order-free); `gain = round(base - weighted, 6)`. Returns one row
    * per feature: `(feature, n, base_gini, weighted_gini, gain)`.
    *
    * Scale: per feature ONE map-side-combinable (value, target-count)
    * aggregation — shuffle O(distinct values); the scalar base row
    * broadcasts. Features are scored independently (a Scala-level union,
    * |features| is a handful).
    */
  def giniFeatureScores(
      df: DataFrame, features: Seq[String], target: Column): DataFrame = {
    require(features.nonEmpty, "need at least one feature")
    def gini2(n1: Column, n: Column): Column = {
      val p1 = n1.cast("double") / n
      val p0 = (n - n1).cast("double") / n
      round(lit(1.0) - p1 * p1 - p0 * p0, 6)
    }
    val base = df.agg(count(lit(1)).as("__N"),
      count(when(target, 1)).as("__K"))
      .select(col("__N"), gini2(col("__K"), col("__N")).as("__base"))
    val perFeature = features.map { f =>
      df.groupBy(col(f).cast("string").as("__v"))
        .agg(count(lit(1)).as("__nv"), count(when(target, 1)).as("__n1"))
        .crossJoin(broadcast(base))
        .select(col("__N"), col("__base"),
          round((col("__nv").cast("double") / col("__N")) *
            gini2(col("__n1"), col("__nv")), 6).as("__term"))
        .groupBy(col("__N"), col("__base"))
        .agg(sum(col("__term").cast("decimal(18,6)")).cast("double")
          .as("__weighted"))
        .select(lit(f).as("feature"), col("__N").as("n"),
          col("__base").as("base_gini"), col("__weighted").as("weighted_gini"),
          // + 0.0: a zero-gain feature lands -0.0 in DuckDB otherwise
          (round(col("__base") - col("__weighted"), 6) + lit(0.0)).as("gain"))
    }
    perFeature.reduce(_ unionByName _)
  }

  /** Per-group percentile gate — the FineWeb-style "drop each source's
    * shortest X%" rule: rows whose within-group `percent_rank` of
    * `valCol` (ties share a rank, the [[percentRankNormalize]] semantics)
    * is at least `minPct` survive. Rank arithmetic only, one group
    * exchange; the cut adapts per group, so a verbose source and a terse
    * one each lose their own bottom tail instead of sharing one global
    * threshold.
    */
  def percentileGate(
      df: DataFrame, groupCols: Seq[String], valCol: String,
      minPct: Double): DataFrame = {
    require(minPct >= 0 && minPct <= 1, "minPct must be in [0, 1]")
    percentRankNormalize(df, groupCols, valCol)
      .where(col("pct_rank") >= minPct)
      .drop("pct_rank")
  }

  /** Join-key skew pre-flight report — "will this key explode a shuffle
    * join": the `topK` hottest keys with exact row counts, each row
    * carrying the global key stats and its own skew factor
    * `round(n_rows * n_keys / total_rows, 6)` (1.0 = perfectly uniform;
    * the factor is how many times its uniform share the key holds —
    * exactly the multiplier that lands on one reducer). Returns
    * `(rnk, key, n_rows, n_keys, total_rows, skew)`.
    *
    * One map-side-combinable count aggregation; the top-k is a
    * TakeOrdered (no global sort), the two global stats are a second
    * O(keys) aggregation broadcast onto k rows.
    */
  def joinSkewReport(
      df: DataFrame, keyCol: String, topK: Int = 5): DataFrame = {
    require(topK >= 1, "topK must be positive")
    // O(keys) frame feeding two consumers (global stats + top-k) — the
    // checkpoint stops the corpus count pass running twice; its size is
    // the same order the aggregation's shuffle files already hold
    val counts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint()
    val stats = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("n_rows")).as("total_rows"))
    val top = counts.orderBy(col("n_rows").desc, col("key")).limit(topK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_rows").desc, col("key"))).cast("long"))
    top.crossJoin(broadcast(stats))
      .select(col("rnk"), col("key"), col("n_rows"), col("n_keys"),
        col("total_rows"),
        round(col("n_rows").cast("double") * col("n_keys") /
          col("total_rows"), 6).as("skew"))
  }

  /** Classifier calibration curve — "when the score says top decile,
    * how often is the label actually positive": rows bin into `bins`
    * score quantiles (rank-based `ntile` with a tie column, the
    * [[quantileBins]] discretizer) and each bin reports its size,
    * positive count and rate, plus the score range. The reliability
    * artifact every quality-classifier gate ships next to its
    * threshold choice. Rank arithmetic + exact counts; the only double
    * is the final per-row rate division, rounded.
    *
    * Scale: the exact global ntile is a total-order window (one ranged
    * sort — the same cost class as [[graft.ext.Selection.budgetSelect]]'s
    * order, which range-partitions at volume); for approximate bins at
    * extreme scale, cut on [[graft.ext.Sketches]] quantile estimates
    * instead and keep this exact form for the audited slice.
    */
  def calibrationReport(
      df: DataFrame, scoreCol: String, label: Column, bins: Int,
      tieCol: String): DataFrame = {
    require(bins >= 2, "bins must be at least 2")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol), col(tieCol))
    df.where(col(scoreCol).isNotNull)
      .withColumn("bin", ntile(bins).over(w))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), count(when(label, 1)).as("n_pos"),
        min(col(scoreCol)).as("score_lo"), max(col(scoreCol)).as("score_hi"))
      .withColumn("pos_rate",
        round(col("n_pos").cast("double") / col("n"), 6))
  }

  /** Keep rows whose `colName` lies within the exact [`loQ`, `hiQ`]
    * quantiles (linear interpolation, the `percentile`/`quantile_cont`
    * convention) — the standard outlier trim before corpus statistics
    * ("drop the shortest 5% and longest 5% of documents").
    *
    * Scale: thresholds come from ONE exact-percentile aggregation (sort-
    * based partial agg, distributed), broadcast back as a 1-row frame — the
    * filter itself is a codegen'd per-row compare. No global sort of the
    * data and no driver-side collect of anything bigger than two doubles.
    */
  def quantileTrim(
      df: DataFrame, colName: String, loQ: Double, hiQ: Double): DataFrame = {
    require(0.0 <= loQ && loQ <= hiQ && hiQ <= 1.0, "need 0 <= loQ <= hiQ <= 1")
    val c = col(colName)
    val bounds = df.agg(
      percentile(c, lit(loQ)).as("__lo"),
      percentile(c, lit(hiQ)).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .where(c >= col("__lo") && c <= col("__hi"))
      .drop("__lo", "__hi")
  }

  /** Full per-group moment MATRIX over arbitrary named feature columns in
    * ONE fixed-buffer aggregation pass — [[graft.expressions.GramMoments]]
    * promoted from the embedding-covariance internals (q260) to a public
    * feature-matrix operator: the value columns assemble into a
    * `decimal(18,sumScale)` vector per row and every `n / sx_i / sxy_ij`
    * moment accumulates in a single mergeable buffer per group, so the
    * exchange carries ONE fixed-size buffer per (group, partition)
    * whatever `d` is. [[correlationMatrix]]'s pair-explode formulation
    * writes d(d-1)/2 structs per input row into the shuffle — fine at
    * d = 3, the dominant cost at feature-report widths (d = 20 → 190
    * structs/row); this is the same-fixed-buffer scale path, measured
    * ~flat on the q260 battery (25x rows → 1.3x wall).
    *
    * Semantics: LISTWISE-complete — a row contributes either all
    * features or none (any-null rows are excluded before the pass),
    * the standard covariance-matrix contract and the price of one
    * shared `n` per group. [[correlationMatrix]] remains the
    * pairwise-complete production pair path; on null-free columns the
    * two agree exactly. A value outside `decimal(18,sumScale)` casts to
    * null and fails loudly inside the aggregate (a silent skip would
    * bias every moment it touches).
    *
    * Returns one row per group and ordered feature pair `i <= j`:
    * `(groupCols..., col_x, col_y, n, cov, corr)` — `cov` the population
    * covariance `(n·sxy − sx·sy)/n²`, `corr` Pearson (null when either
    * variance is zero), both derived from the exact decimal sums in one
    * fixed IEEE double tree, 6-dp-rounded with signed-zero normalized
    * (the covarianceReport conventions).
    */
  def featureMomentsMatrix(
      df: DataFrame, groupCols: Seq[String], valueCols: Seq[String],
      sumScale: Int = 4): DataFrame = {
    require(valueCols.nonEmpty, "need at least one value column")
    // a duplicated value column would SILENTLY yield a degenerate gram
    // matrix (corr 1.0 rows for the duplicate pair) — fail loudly instead
    require(valueCols.distinct.size == valueCols.size,
      s"valueCols must be distinct, got: ${valueCols.mkString(", ")}")
    (groupCols ++ valueCols).foreach(c =>
      require(df.columns.contains(c), s"column $c not found"))
    val d = valueCols.size
    val complete = valueCols.map(col(_).isNotNull).reduce(_ && _)
    val vec = array(valueCols.map(c =>
      col(c).cast(s"decimal(18,$sumScale)")): _*)
    val m = df.where(complete)
      .select(groupCols.map(col) :+ vec.as("__v"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(graft.expressions.GramMoments.gramMoments(col("__v"), d).as("__m"))
      .where(col("__m.n") > 0)
    // fan each group's single moment row out to its d(d+1)/2 pairs; the
    // row-major upper-triangle index of (i, j) is i*d - i(i-1)/2 + (j-i)
    // (the covarianceReport identity; i(i-1) is even, the halving exact)
    val pairIdx = explode(flatten(transform(sequence(lit(0), lit(d - 1)), i =>
      transform(sequence(i, lit(d - 1)), j =>
        struct(i.as("i"), j.as("j"))))))
    def triOf(i: Column, j: Column): Column =
      ((i * lit(d) - (i * (i - 1)) / 2 + (j - i)) + 1).cast("int")
    val nameArr = array(valueCols.map(lit(_)): _*)
    val base = m
      .select(groupCols.map(col) ++ Seq(col("__m"), pairIdx.as("__p")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__p.i").as("__i"), col("__p.j").as("__j"),
        col("__m.n").as("n"),
        col("__m.sx").as("__sxa"), col("__m.sxy").as("__sxya")): _*)
      .select(groupCols.map(col) ++ Seq(
        element_at(nameArr, col("__i") + 1).as("col_x"),
        element_at(nameArr, col("__j") + 1).as("col_y"),
        col("n"),
        element_at(col("__sxa"), col("__i") + 1).as("__sx"),
        element_at(col("__sxa"), col("__j") + 1).as("__sy"),
        element_at(col("__sxya"), triOf(col("__i"), col("__j"))).as("__sxy"),
        element_at(col("__sxya"), triOf(col("__i"), col("__i"))).as("__sxx"),
        element_at(col("__sxya"), triOf(col("__j"), col("__j"))).as("__syy")): _*)
    // one fixed IEEE double tree over the exact decimal sums (the
    // decimal -> double casts are correctly rounded in Spark; emitting
    // only the 6-dp-rounded derived stats keeps the oracle exact)
    val (nD, sxD, syD) = (col("n").cast("double"),
      col("__sx").cast("double"), col("__sy").cast("double"))
    val (sxyD, sxxD, syyD) = (col("__sxy").cast("double"),
      col("__sxx").cast("double"), col("__syy").cast("double"))
    val covn = nD * sxyD - sxD * syD
    val den = sqrt((nD * sxxD - sxD * sxD) * (nD * syyD - syD * syD))
    base.select(groupCols.map(col) ++ Seq(
      col("col_x"), col("col_y"), col("n"),
      (round(covn / (nD * nD), 6) + lit(0.0)).as("cov"),
      when(den > 0.0, round(covn / den, 6) + lit(0.0)).as("corr")): _*)
  }
}
