package graft.io

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Chunked DataFrame-to-database sink — the reference's `write.dbi.ffdf` /
  * `write.jdbc.ffdf` / `write.odbc.ffdf` (`R/ffsql.R:972-1010`, `:1060-1098`,
  * `:1150-1180`) unified into one operator over Spark's JDBC writer.
  *
  * Reference semantics preserved:
  *  - non-empty input required (`stopifnot(nrow(x) > 0)`, `R/ffsql.R:980`).
  *    The check and the write share one run of the input plan: the
  *    probe takes one row from the plan's final stage, and the write reuses
  *    the broadcasts and shuffle files of that run. Only the final stage
  *    runs twice (for a plan without a shuffle, that is the source scan).
  *  - chunked inserts: `by` rows per round-trip (`bit::chunk`,
  *    `R/ffsql.R:991`) -> JDBC `batchsize`.
  *  - first-chunk `overwrite` then forced append for the rest
  *    (`R/ffsql.R:1001-1006`) is EXACTLY Spark's `SaveMode.Overwrite`
  *    (truncate/recreate once on the driver, then parallel partition
  *    inserts). Default (no flag) errors if the table exists, like
  *    `dbWriteTable`'s default.
  *
  * Divergence (documented, `SURVEY.md §2.2`): the reference's single
  * connection preserves row order; Spark writes partitions in parallel.
  * `orderedBy=Some(col)` restores reference behavior (global sort + ONE
  * writing partition) — parity mode for modest data; at scale leave unset.
  */
object WriteSql {

  def apply(
      df: DataFrame,
      url: String,
      table: String,
      props: Properties = new Properties(),
      overwrite: Boolean = false,
      append: Boolean = false,
      batchSize: Int = 1000,
      numPartitions: Int = 0,
      orderedBy: Option[String] = None,
      requireNonEmpty: Boolean = true): Unit = {
    GraftDerbyDialect.ensureRegistered()
    require(!(overwrite && append), "overwrite and append are exclusive")
    // Reference semantic `stopifnot(nrow(x) > 0)`, checked before any DDL.
    // The probe and the written frame share the plan's RDD, so the write
    // skips the map stages (scans, shuffles, broadcasts) already run and
    // pays only the final stage again. Nothing is cached.
    val input =
      if (!requireNonEmpty) df
      else {
        val (shared, empty) = ColumnBridge.executeOnce(df, "WriteSql")(_.isEmpty())
        require(!empty, "nothing to write: input has zero rows")
        shared
      }

    val arranged = orderedBy match {
      case Some(c) => input.orderBy(col(c)).coalesce(1)
      case None if numPartitions > 0 => input.repartition(numPartitions)
      case None => input
    }
    val mode =
      if (overwrite) SaveMode.Overwrite
      else if (append) SaveMode.Append
      else SaveMode.ErrorIfExists

    arranged.write
      .mode(mode)
      .option("batchsize", batchSize.toString)
      .jdbc(url, table, props)
  }
}
