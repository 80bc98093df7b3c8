package graft.io

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftspec.JobLog

import graft.{SparkSpec, TempDirs}
import graft.ext.Dedup
import graft.streaming.CorpusStreams

/** [[LibraryParquet.read]] equals `spark.read.parquet` on every layout the
  * library writes, without the schema-inference job, and falls back to
  * `spark.read.parquet` for anything else.
  */
class LibraryParquetSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** The reader's frame, read with no Spark job, has Spark's schema and rows. */
  private def assertSameAsSpark(path: String): Unit = {
    val (schema, log) = JobLog.of(spark)(LibraryParquet.read(spark, path).schema)
    assert(log.jobs == 0, s"schema read of $path ran ${log.jobs} job(s)")
    val want = spark.read.parquet(path)
    assert(schema == want.schema, s"at $path")
    assert(rows(LibraryParquet.read(spark, path)) == rows(want), s"at $path")
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "columnar storage layouts for analytic query engines"))

  test("a saved minhash state's two parts read without a job") {
    val dir = TempDirs.make("graft_lp_state").toString
    val st = Dedup.minhashState(docs.toDF("doc_id", "text"), "doc_id", "text")
    Dedup.saveMinhashState(st, dir, st.params)
    val v = StateStore.load(dir, Seq("sets", "buckets"), "minhash state",
      st.params.encoded, "spec").getOrElse(fail("state not committed"))
    assertSameAsSpark(v.part("sets"))
    assertSameAsSpark(v.part("buckets"))
  }

  test("a stageIdSlices directory, its empty slice included, reads without a job") {
    val src = s"${TempDirs.make("graft_lp_src")}/docs"
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(src)
    assertSameAsSpark(src)
    assertSameAsSpark(CorpusStreams.stageIdSlices(spark, src, "doc_id", Seq(2L, 100L)))
  }

  test("a sink after two appends and an empty-frame write read without a job") {
    val sink = s"${TempDirs.make("graft_lp_sink")}/sink"
    Seq(1L, 2L).toDF("doc_id").write.mode("append").parquet(sink)
    Seq(3L).toDF("doc_id").write.mode("append").parquet(sink)
    assertSameAsSpark(sink)
    val empty = s"${TempDirs.make("graft_lp_empty")}/empty"
    spark.range(0).select(col("id").as("doc_id"), lit("x").as("text"))
      .write.parquet(empty)
    assertSameAsSpark(empty)
  }

  test("a filesystem set only in the session's conf is read without a job") {
    val dir = s"${TempDirs.make("graft_lp_alias")}/docs"
    docs.toDF("doc_id", "text").write.parquet(dir)
    val key = s"fs.${AliasLocalFileSystem.Scheme}.impl"
    spark.conf.set(key, classOf[AliasLocalFileSystem].getName)
    try {
      assert(spark.sparkContext.hadoopConfiguration.get(key) == null)
      assertSameAsSpark(s"${AliasLocalFileSystem.Scheme}://$dir")
    } finally spark.conf.unset(key)
  }

  test("parquet without Spark's schema key falls back to Spark's inference") {
    val dir = TempDirs.make("graft_lp_plain")
    val schema = MessageTypeParser.parseMessageType(
      "message doc { required int64 doc_id; optional binary text (UTF8); }")
    val w = ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    val groups = new SimpleGroupFactory(schema)
    try docs.foreach { case (id, t) =>
      w.write(groups.newGroup().append("doc_id", id).append("text", t))
    } finally w.close()
    val got = LibraryParquet.read(spark, dir.toString)
    val want = spark.read.parquet(dir.toString)
    assert(got.schema == want.schema)
    assert(rows(got) == rows(want))
    assert(rows(got) == docs.map { case (id, t) => Row(id, t).toString }.sorted)
  }

  test("partitioned and empty directories fall back to Spark's schema or error") {
    val parted = s"${TempDirs.make("graft_lp_parted")}/parted"
    docs.toDF("doc_id", "text").withColumn("p", col("doc_id") % 2)
      .write.partitionBy("p").parquet(parted)
    val got = LibraryParquet.read(spark, parted)
    val want = spark.read.parquet(parted)
    assert(got.schema == want.schema && got.schema.fieldNames.contains("p"))
    assert(rows(got) == rows(want))

    val empty = TempDirs.make("graft_lp_none").toString
    val sparkErr = intercept[Exception](spark.read.parquet(empty))
    val ourErr = intercept[Exception](LibraryParquet.read(spark, empty))
    assert(ourErr.getClass == sparkErr.getClass)
    assert(ourErr.getMessage == sparkErr.getMessage)
  }
}

/** The local filesystem under a scheme of its own, which a session maps to
  * this class only through its SQL conf.
  */
class AliasLocalFileSystem extends RawLocalFileSystem {
  override def getScheme: String = AliasLocalFileSystem.Scheme
  override def getUri: URI = URI.create(s"${AliasLocalFileSystem.Scheme}:///")
}

object AliasLocalFileSystem {
  val Scheme = "graftalias"
}
