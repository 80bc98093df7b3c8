package graft.streaming

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class StagedStreamSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("foreachStaged: a body failing on its first batch fails the call " +
      "with the body's message and leaves no conf or cached batch behind") {
    val dir = Files.createTempDirectory("graft_staged_spec")
    try failingBody(s"$dir/ids") finally StagedStream.deleteTree(dir)
  }

  private def failingBody(src: String): Unit = {
    (1L to 10L).toDF("id").coalesce(1).write.parquet(src)
    val staged = CorpusStreams.stageIdSlices(spark, src, "id", cuts = Seq(6L))
    val keys = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    val confBefore = keys.map(spark.conf.getOption)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val e = intercept[Exception] {
      StagedStream.foreachStaged(StagedStream.staged(spark, staged),
          partitions = Some(3), adaptive = Some(false)) { (b, batchId) =>
        seen += batchId
        // materialize the persisted batch, so the release is really tested
        assert(b.count() > 0)
        throw new IllegalStateException(s"body failed on batch $batchId")
      }
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(t => Option(t.getMessage)
        .exists(_.contains("body failed on batch 0"))),
      s"the body's message must surface, got: $e")
    assert(seen.toSeq == Seq(0L), "the failed query must not run on")
    assert(keys.map(spark.conf.getOption) == confBefore)
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore)
    assert(spark.streams.active.isEmpty)
  }

  test("sinkOrTemp keeps a caller's sink; a temp sink is registered for " +
      "the exit cleanup, which deletes a non-empty tree") {
    val owned = Files.createTempDirectory("graft_owned_sink").toString
    try {
      assert(StagedStream.sinkOrTemp(Some(owned), "graft_unused") == owned)
      assert(!StagedStream.tempSinks.contains(Paths.get(owned)))
    } finally StagedStream.deleteTree(Paths.get(owned))

    val sink = StagedStream.sinkOrTemp(None, "graft_sink_spec")
    val p = Paths.get(sink)
    assert(sink.contains("graft_sink_spec") && StagedStream.tempSinks.contains(p))
    // what a sink really holds: part files, checksums, a nested directory
    (1 to 3).toDF("x").write.mode("append").parquet(sink)
    Files.createDirectories(p.resolve("nested/deeper"))
    Files.write(p.resolve("nested/deeper/f.txt"), Array[Byte](1, 2, 3))
    assert(p.toFile.list().length > 1)
    StagedStream.deleteTree(p)
    assert(!Files.exists(p))
    StagedStream.deleteTree(p) // absent: a no-op, as at a second exit pass
    StagedStream.tempSinks.remove(p)
  }
}
