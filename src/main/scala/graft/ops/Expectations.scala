package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level data-quality expectations — the validation half of an ETL
  * boundary. The reference validates implicitly (type coercion at the ffdf
  * boundary, `stopifnot` guards, `R/ffsql.R:979-980`); a 100 TB pipeline
  * needs the explicit form: declare named predicates, tag every row with
  * the rules it fails, and route clean rows onward while quarantining the
  * rest WITH their reasons — reject-and-continue, not fail-the-job.
  *
  * Scale: evaluation is one codegen'd projection per row (a `when` chain
  * inside `array_compact`) — row-local, no shuffle, no UDF; checking 1000
  * rules costs one pass. Cross-row expectations (uniqueness, referential
  * integrity) are aggregation problems, not row tags — use
  * [[graft.ext.Dedup.exact]] / anti-joins for those.
  */
object Expectations {

  /** One named expectation: `predicate` must hold for the row to pass.
    * A NULL predicate counts as a VIOLATION — under three-valued logic a
    * null-ridden row would otherwise pass every check silently, which is
    * the opposite of what a quality gate is for.
    */
  final case class Rule(name: String, predicate: Column)

  /** Append `outCol`: the array of failed rule names, in rule order (empty
    * array = clean row).
    */
  def check(df: DataFrame, rules: Seq[Rule],
      outCol: String = "violations"): DataFrame = {
    require(rules.nonEmpty, "at least one rule required")
    require(rules.map(_.name).distinct.length == rules.length,
      "rule names must be unique")
    val tags = rules.map(r =>
      when(!coalesce(r.predicate, lit(false)), lit(r.name)))
    df.withColumn(outCol, array_compact(array(tags: _*)))
  }

  /** Split into (pass, quarantine): pass rows have every rule holding (and
    * no extra column); quarantine rows carry their failed rule names in
    * `outCol`.
    */
  def split(df: DataFrame, rules: Seq[Rule],
      outCol: String = "violations"): (DataFrame, DataFrame) = {
    val checked = check(df, rules, outCol)
    (checked.where(size(col(outCol)) === 0).drop(outCol),
      checked.where(size(col(outCol)) > 0))
  }

  /** Referential-integrity audit: child key tuples with no matching parent
    * row, one output row per orphan KEY with its child row count (the audit
    * artifact a pipeline quarantines on), not the raw orphan rows. `keys`
    * maps child column -> parent column.
    *
    * A NULL child key is an orphan (it matches no parent under `=`),
    * consistent with [[Rule]]'s null-is-violation stance — SQL's permissive
    * NULL-FK convention would let null-ridden rows slide through the gate.
    *
    * Scale: one LEFT ANTI equi-join — Catalyst broadcasts the parent side
    * when small (the dimension-snapshot case), else shuffles both sides on
    * the key; the groupBy then reuses the join's clustering. Never a
    * cartesian.
    */
  def orphans(child: DataFrame, parent: DataFrame,
      keys: Seq[(String, String)], countCol: String = "n_rows"): DataFrame = {
    require(keys.nonEmpty, "at least one key pair required")
    val cond = keys.map { case (c, p) => child(c) === parent(p) }.reduce(_ && _)
    child.join(parent, cond, "left_anti")
      .groupBy(keys.map { case (c, _) => col(c) }: _*)
      .agg(count(lit(1)).as(countCol))
  }

  /** k-anonymity audit over quasi-identifier columns: every combination
    * whose row count is below `k` — the groups a privacy review must
    * suppress or generalize before release (each is re-identifiable to
    * fewer than k individuals). Returns `(quasiCols..., n)` for the
    * violating combos only; an empty result certifies k-anonymity.
    * One map-side-combinable aggregation, shuffle O(distinct combos).
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(k >= 2, "k must be at least 2")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .where(col("n") < k)
  }

  /** Candidate-key audit: key tuples appearing more than once, with their
    * multiplicities — empty result proves the claimed key IS a key. One
    * map-side-combinable aggregation; the HAVING filter runs post-merge.
    */
  def duplicateKeys(df: DataFrame, keys: Seq[String],
      countCol: String = "n_rows"): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(countCol))
      .where(col(countCol) > 1)
  }

  /** Filter-ensemble agreement matrix — "do my quality screens agree,
    * and where do they fight": for every unordered pair of boolean
    * signals, the confusion counts (`n_both`, `n_only_a`, `n_only_b`,
    * `n_neither`) and the rounded agreement rate. Two filters that agree
    * ~1.0 are redundant; a pair with heavy one-sided counts is where the
    * ensemble's decisions actually come from — the report that justifies
    * dropping or keeping each screen.
    *
    * Scale: ALL pairs come from ONE aggregation pass — each signal pair's
    * four counters are conditional counts in the same map-side-combinable
    * `agg`, so the corpus is scanned once regardless of |signals| (the
    * signal count is a handful; the 4·C(k,2) counter columns are
    * driver-side schema, not data).
    */
  def signalAgreement(
      df: DataFrame, signals: Seq[(String, Column)]): DataFrame = {
    require(signals.size >= 2, "need at least two signals")
    require(signals.map(_._1).distinct.size == signals.size,
      "signal names must be unique")
    val pairs = for {
      i <- signals.indices; j <- signals.indices if i < j
    } yield (signals(i), signals(j))
    val aggs = pairs.zipWithIndex.flatMap { case (((_, a), (_, b)), k) =>
      Seq(count(when(a && b, 1)).as(s"__bb$k"),
        count(when(a && !b, 1)).as(s"__ab$k"),
        count(when(!a && b, 1)).as(s"__ba$k"),
        count(when(!a && !b, 1)).as(s"__nn$k"))
    }
    // ONE materialized row; per-pair projections below must not replay
    // the corpus aggregation
    val counted = df.agg(aggs.head, aggs.tail: _*).localCheckpoint()
    val rows = pairs.zipWithIndex.map { case (((na, _), (nb, _)), k) =>
      counted.select(lit(na).as("signal_a"), lit(nb).as("signal_b"),
        col(s"__bb$k").as("n_both"), col(s"__ab$k").as("n_only_a"),
        col(s"__ba$k").as("n_only_b"), col(s"__nn$k").as("n_neither"),
        round((col(s"__bb$k") + col(s"__nn$k")).cast("double") /
          (col(s"__bb$k") + col(s"__ab$k") + col(s"__ba$k") + col(s"__nn$k")),
          6).as("agreement"))
    }
    rows.reduce(_ unionByName _)
  }

  /** l-diversity audit, the [[kAnonymityAudit]] companion (Machanavajjhala
    * et al., ICDE 2006): a k-anonymous group still leaks its sensitive
    * attribute when every member SHARES it — this reports quasi-identifier
    * groups whose sensitive column holds fewer than `l` DISTINCT values,
    * with the group size and the distinct count. Release gates should
    * require both audits empty.
    *
    * One (quasi..., sensitive) pre-aggregation then a reaggregation on
    * the same hash partitioning — exact distinct counts without a
    * count-distinct expansion.
    */
  def lDiversityAudit(
      df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier column")
    require(l >= 2, "l must be at least 2")
    df.groupBy(quasiCols.map(col) :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("__n"))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__n")).as("n"), count(lit(1)).as("n_sensitive"))
      .where(col("n_sensitive") < l)
  }

  /** Functional-dependency violation profile — "does `lhs` determine
    * `rhs` in this data, and where not": for every `lhs` value bound to
    * more than one distinct `rhs`, the row count, the distinct-`rhs`
    * count, the majority `rhs` (ties break on value) and the number of
    * MINORITY rows (what a repair to the majority would rewrite). The
    * classic data-quality profiler step before declaring a constraint.
    *
    * Two aggregations sharing the lhs hash partitioning plus a
    * [[graft.plans.GroupTopK]] k=1 majority pick — no self-joins, no
    * distinct expansion.
    */
  def fdViolations(
      df: DataFrame, lhsCols: Seq[String], rhsCol: String): DataFrame = {
    require(lhsCols.nonEmpty, "need at least one determinant column")
    val pairs = df.groupBy(lhsCols.map(col) :+ col(rhsCol): _*)
      .agg(count(lit(1)).as("__n"))
    val top = graft.plans.GroupTopK(pairs, lhsCols,
      Seq(("__n", false), (rhsCol, true)), 1, "__r")
      .select(lhsCols.map(col) :+ col(rhsCol).as("majority") :+
        col("__n").as("__maj_n"): _*)
    pairs.groupBy(lhsCols.map(col): _*)
      .agg(sum(col("__n")).as("n_rows"), count(lit(1)).as("n_rhs"))
      .where(col("n_rhs") > 1)
      .join(top, lhsCols)
      .select(lhsCols.map(col) ++ Seq(col("n_rows"), col("n_rhs"),
        col("majority"), (col("n_rows") - col("__maj_n")).as("minority_rows")): _*)
  }
}
