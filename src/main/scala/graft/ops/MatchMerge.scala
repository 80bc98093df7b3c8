package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Lookup (equi) join with unique-key right side — the reference's
  * `matchmerge` (`R/matchmerge.R:95-182`) re-expressed as a Spark broadcast
  * hash join.
  *
  * Semantics preserved from the reference:
  *  - inner (`allX=false`, default) or left-outer (`allX=true`) only; right /
  *    full outer are deliberately not provided (`R/matchmerge.R:27-29`).
  *  - the right key must be unique; duplicates raise an error
  *    (`R/matchmerge.R:149-153,156-160`) unless `checkDuplicates=false`.
  *    This makes the join cardinality-preserving enrichment.
  *  - `addColumns` projects which right-side columns are appended (default:
  *    all non-key columns, `R/matchmerge.R:95`).
  *  - name collisions on appended columns get `suffix`
  *    (`R/matchmerge.R:166-171`; reference default ".y" — ours defaults to
  *    "_y" because dots in Spark column names collide with struct access).
  *  - output column order: all of x's columns, then the appended y columns
  *    (`R/matchmerge.R:165-178`).
  *
  * Divergences (deliberate, documented):
  *  - multi-column keys use a true multi-column equi-join, NOT the
  *    reference's space-`paste` concatenation (`R/matchmerge.R:114-126`),
  *    which is collision-prone ("a b"+"c" vs "a"+"b c"). Set
  *    `pasteCompat=true` to reproduce the reference's byte behavior exactly.
  *  - row order: Spark DataFrames are unordered; callers needing the
  *    reference's x-order preservation should carry an ordinal column and
  *    sort after the join (see `graft.ops.NaLocfPlusOne` for the ordinal
  *    pattern).
  *
  * Scale design: `match()` over an in-memory right side is exactly a
  * broadcast hash join. We hint `broadcast(y)` by default (lookup semantics
  * imply a bounded dimension); pass `broadcastRhs=false` for a large right
  * side and Catalyst/AQE picks a shuffled hash or sort-merge join.
  */
object MatchMerge {

  def apply(
      x: DataFrame,
      y: DataFrame,
      byX: Seq[String],
      byY: Seq[String],
      allX: Boolean = false,
      addColumns: Seq[String] = Nil,
      suffix: String = "_y",
      checkDuplicates: Boolean = true,
      broadcastRhs: Boolean = true,
      pasteCompat: Boolean = false): DataFrame = {
    require(byX.nonEmpty, "join keys required")
    require(byX.length == byY.length, "byX and byY should have the same length")
    // the collision-rename loop appends `suffix` until the name is free —
    // an empty suffix would never terminate
    require(suffix.nonEmpty, "suffix must be non-empty")
    byX.foreach(c => require(x.columns.contains(c), s"column $c not in x"))
    byY.foreach(c => require(y.columns.contains(c), s"column $c not in y"))

    val addCols: Seq[String] =
      if (addColumns.nonEmpty) addColumns
      else y.columns.filterNot(byY.contains).toIndexedSeq
    addCols.foreach(c => require(y.columns.contains(c), s"column $c not in y"))

    // backquote all name-based refs so column names may contain dots
    def bq(n: String): Column = col(s"`$n`")
    val yProj = y.select((byY ++ addCols).distinct.map(bq): _*)

    if (checkDuplicates) {
      // Reference guard `R/matchmerge.R:149-160`: error when the right key
      // has duplicates. A broadcast y is bounded by contract, so its keys
      // are collected and checked on the driver: one job, no shuffle. A
      // large y (or a collated string key) keeps the grouped form, an
      // aggregate shuffle plus a result job.
      def grouped = yProj.groupBy(byY.map(bq): _*).count()
        .where(col("count") > 1).limit(1).collect().nonEmpty
      val dup =
        if (broadcastRhs)
          ColumnBridge.hasRepeatedRow(yProj.select(byY.map(bq): _*)).getOrElse(grouped)
        else grouped
      if (dup)
        throw new IllegalArgumentException(
          "Key of y contains doubles: matchmerge requires a unique right-side key")
    }

    // Rename appended y columns that collide with x columns (suffix rule);
    // re-apply the suffix until the name is free of BOTH x's columns and the
    // names already assigned (x may itself contain e.g. "b" AND "b_y").
    val taken = scala.collection.mutable.Set[String](x.columns.toIndexedSeq: _*)
    val outNames: Seq[(String, String)] = addCols.map { c =>
      var n = c
      while (taken.contains(n)) n = n + suffix
      taken += n
      c -> n
    }
    val yRenamed = outNames.foldLeft(yProj) { case (d, (o, n)) =>
      if (o != n) d.withColumnRenamed(o, n) else d
    }

    val xa = x.alias("mm_l")
    val yb = (if (broadcastRhs) broadcast(yRenamed) else yRenamed).alias("mm_r")

    // backquotes let appended names contain dots (e.g. the reference's
    // ".y"-suffixed columns) without being parsed as struct access
    def lcol(n: String): Column = col(s"mm_l.`$n`")
    def rcol(n: String): Column = col(s"mm_r.`$n`")

    val cond: Column =
      if (pasteCompat && byX.length > 1) {
        // Reference-exact: single string key via space concatenation
        // (`R/matchmerge.R:117,122`) — collision-prone, compat only.
        concat_ws(" ", byX.map(lcol): _*) === concat_ws(" ", byY.map(rcol): _*)
      } else {
        byX.zip(byY).map { case (a, b) => lcol(a) === rcol(b) }.reduce(_ && _)
      }

    val joined = xa.join(yb, cond, if (allX) "left" else "inner")
    val out = x.columns.map(lcol) ++ outNames.map { case (_, n) => rcol(n) }
    joined.select(out.toIndexedSeq: _*)
  }

  /** Computed-key mode — the reference's `by.iskey=FALSE` path
    * (`R/matchmerge.R:127-134`), where `by.x`/`by.y` are key VECTORS computed
    * by the caller rather than column names. The Spark analog takes arbitrary
    * `Column` expressions per side (e.g. `lower(col("email"))`,
    * `col("k1") * 1000 + col("k2")`).
    *
    * Implemented by projecting the expressions to temporary key columns and
    * delegating to [[apply]] — same uniqueness guard, suffix rule, and
    * broadcast plan; the temporary keys are dropped from the output.
    * `addColumns` defaults to ALL of y's columns (with computed keys there
    * are no name-keys to exclude, matching the reference's vector-key case).
    */
  def exprKeys(
      x: DataFrame,
      y: DataFrame,
      byX: Seq[Column],
      byY: Seq[Column],
      allX: Boolean = false,
      addColumns: Seq[String] = Nil,
      suffix: String = "_y",
      checkDuplicates: Boolean = true,
      broadcastRhs: Boolean = true): DataFrame = {
    require(byX.nonEmpty, "join keys required")
    require(byX.length == byY.length, "byX and byY should have the same length")
    val kx = byX.indices.map(i => s"__graft_mm_kx_$i")
    val ky = byY.indices.map(i => s"__graft_mm_ky_$i")
    val x2 = byX.zip(kx).foldLeft(x) { case (d, (c, n)) => d.withColumn(n, c) }
    val y2 = byY.zip(ky).foldLeft(y) { case (d, (c, n)) => d.withColumn(n, c) }
    val add = if (addColumns.nonEmpty) addColumns else y.columns.toIndexedSeq
    apply(x2, y2, kx, ky, allX = allX, addColumns = add, suffix = suffix,
      checkDuplicates = checkDuplicates, broadcastRhs = broadcastRhs)
      .drop(kx: _*)
  }

  /** Vector-y mode of the reference (`R/matchmerge.R:99-106,175-178`): the
    * lookup side is a single key -> value mapping and the appended column is
    * renamed to `as`.
    */
  def lookup(
      x: DataFrame,
      y: DataFrame,
      byX: Seq[String],
      byY: Seq[String],
      valueCol: String,
      as: String,
      allX: Boolean = false,
      checkDuplicates: Boolean = true): DataFrame = {
    val y2 = y.select((byY :+ valueCol).map(n => col(s"`$n`")): _*)
      .withColumnRenamed(valueCol, as)
    apply(x, y2, byX, byY, allX = allX, addColumns = Seq(as),
      checkDuplicates = checkDuplicates)
  }
}
