package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** `ExpressionUtils` is `private[sql]`; this bridge (placed under the
  * `org.apache.spark.sql` namespace, the standard extension-point pattern)
  * exposes the two conversions a library defining custom Catalyst
  * expressions needs.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst expression.
    * [[expression]] wraps lazily in a `ColumnNodeExpression`, which is fine
    * inside a plan (the analyzer unwraps it) but useless when the TEXT of
    * the expression is needed (`.sql` renders the wrapper, not the tree) —
    * e.g. to generate a SQL-UDF body from a Column implementation.
    */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `NormalizeFloatingNumbers.normalize` is `private[sql]`: custom plan
    * nodes must normalize their own float/double grouping keys (-0.0 ==
    * 0.0, canonical NaN) because the optimizer rule only rewrites built-in
    * Aggregate/Window/Join keys.
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** `Dataset.ofRows` is `private[sql]`: the one constructor a library
    * needs to hand a CUSTOM LogicalPlan to the session (analyzer, optimizer
    * and planner then treat it like any built-in node).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The Hadoop configuration Spark's file sources use in `spark`: the
    * SparkContext's, overlaid with the session's SQL conf, so a filesystem
    * setting made with `spark.conf.set` is in it. `SessionState` is
    * `private[sql]`.
    */
  def sessionHadoopConf(spark: SparkSession): Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Runs `df`'s plan afresh (a new execution, as `df.write` would start)
    * as one SQL execution named `name`, hands the resulting row RDD to
    * `probe`, and returns a frame that reads that same RDD. The plan's
    * broadcasts and (under AQE) shuffle stages run here; an action on the
    * returned frame skips every map stage whose shuffle files already
    * exist, so it pays only the final stage again. Nothing is cached.
    * (`Dataset.localCheckpoint` builds its frame the same way, minus the
    * block copy.)
    */
  def executeOnce[T](df: DataFrame, name: String)(
      probe: RDD[InternalRow] => T): (DataFrame, T) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val ds = classic.Dataset.ofRows(spark, df.asInstanceOf[classic.Dataset[_]].logicalPlan)
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd
      val out = probe(rdd)
      (ofRows(spark, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), out)
    }
  }

  /** Whether `df` holds two rows that `groupBy` on all of its columns would
    * put in one group: nulls equal each other, -0.0 equals 0.0, NaN equals
    * NaN, binary compares by content. One collect of `df` to the driver and
    * no shuffle, so `df` must be small. `None` when a column type is not
    * binary-stable (a non-binary collation), where byte equality of the
    * rows is not grouping equality.
    */
  def hasRepeatedRow(df: DataFrame): Option[Boolean] = {
    val qe = df.asInstanceOf[classic.Dataset[_]].queryExecution
    val out = qe.analyzed.output
    if (!out.forall(a => UnsafeRowUtils.isBinaryStable(a.dataType))) None
    else {
      val rows = SQLExecution.withNewExecutionId(qe, Some("collect")) {
        qe.executedPlan.executeCollect()
      }
      val key = UnsafeProjection.create(out.zipWithIndex.map { case (a, i) =>
        normalizeFloats(BoundReference(i, a.dataType, a.nullable))
      })
      val seen = new java.util.HashSet[UnsafeRow](rows.length * 2)
      Some(rows.exists(r => !seen.add(key(r).copy())))
    }
  }
}
