package graft.io

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}

/** The reader of parquet this library wrote itself: staged micro-batch
  * directories, streaming sinks and persisted state parts.
  *
  * `spark.read.parquet` of a directory infers its schema in a one-task
  * Spark job that reads one footer: with `mergeSchema` off, the first
  * data file by sorted path, where the schema Spark stored under
  * [[SchemaKey]] wins over the converted parquet schema. For a directory
  * Spark wrote, the driver reads that same key directly and hands it to
  * the reader as a known schema, so the read runs no job and yields the
  * same schema and rows. It lists and opens through the session's Hadoop
  * configuration, as Spark's file sources do, so filesystem settings made
  * with `spark.conf.set` hold for it too.
  *
  * Anything else goes through `spark.read.parquet` unchanged, so its
  * schema, or its error, stays Spark's: a file without the key (parquet
  * written by another tool), a directory with summary files or
  * subdirectories (partitioned layouts), an empty directory, a missing
  * path, an unreadable footer, or a session with `mergeSchema` on.
  */
private[graft] object LibraryParquet {

  /** The footer key under which Spark's parquet writer stores the
    * DataFrame schema as JSON.
    */
  private val SchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The schema Spark's inference would take from `path`, when the driver
    * can read it from the footer the way that inference would.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (spark.conf.getOption("spark.sql.parquet.mergeSchema")
        .exists(_.trim.equalsIgnoreCase("true"))) None
    else
      try {
        val conf = ColumnBridge.sessionHadoopConf(spark)
        val root = new Path(path)
        val listed = root.getFileSystem(conf).listStatus(root).toSeq
        val visible = listed.filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        val summaries = listed.exists { s =>
          val n = s.getPath.getName
          n.startsWith("_metadata") || n.startsWith("_common_metadata")
        }
        if (summaries || visible.exists(_.isDirectory)) None
        else visible.sortBy(_.getPath.toString).headOption.flatMap { first =>
          val options = HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(first, conf), options)
          val stored =
            try Option(reader.getFileMetaData.getKeyValueMetaData.get(SchemaKey))
            finally reader.close()
          stored.flatMap(json => DataType.fromJson(json) match {
            case s: StructType => Some(s)
            case _ => None
          })
        }
      } catch { case NonFatal(_) => None } // Spark's own read reports it
}
