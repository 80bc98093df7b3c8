package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}
import graft.ext.{AnnIndex, Dedup}

class StateStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val docsA = Seq((1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a stitch in time saves nine. a penny saved is a penny earned"))
    .toDF("doc_id", "text")
  private val docsB = Seq((10L, "all that glitters is not gold. fortune favors the bold"),
    (11L, "the early bird catches the worm"))
    .toDF("doc_id", "text")

  /** The frame with an interval column: it materializes fine, but parquet
    * refuses to write the type, so a save whose part carries it dies at
    * that part's write, after every earlier part landed.
    */
  private def poisoned(df: DataFrame): DataFrame =
    df.withColumn("__unwritable", expr("make_interval(0, 0, 0, 1, 0, 0, 0)"))

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Save A, then a save of B that throws mid-write: load must serve A. */
  private def crashKeepsPrevious(kind: String)(saveA: String => Unit,
      saveTornB: String => Unit, loadedIsA: String => Boolean): Unit = {
    val dir = TempDirs.make(s"graft_crash_$kind").toString
    saveA(dir)
    assert(loadedIsA(dir), s"$kind: precondition, A not loadable")
    intercept[Exception](saveTornB(dir))
    assert(loadedIsA(dir), s"$kind: a crash mid-save lost the committed state")
  }

  test("minhash state: a crash mid-save serves the previous state") {
    val p = Dedup.MinhashParams(64, 16, 3)
    val a = Dedup.minhashState(docsA, "doc_id", "text")
    val b = Dedup.minhashState(docsB, "doc_id", "text")
    crashKeepsPrevious("minhash")(
      Dedup.saveMinhashState(a, _, p),
      Dedup.saveMinhashState(b.copy(buckets = poisoned(b.buckets)), _, p),
      d => Dedup.loadMinhashState(spark, d, p).exists(s =>
        same(s.sets, a.sets) && same(s.buckets, a.buckets)))
  }

  test("containment state: a crash mid-save serves the previous state") {
    val p = Dedup.ContainmentParams(3)
    val a = Dedup.containmentState(docsA, "doc_id", "text")
    val b = Dedup.containmentState(docsB, "doc_id", "text")
    crashKeepsPrevious("containment")(
      Dedup.saveContainmentState(a, _),
      Dedup.saveContainmentState(b.copy(dfreq = poisoned(b.dfreq),
        staleDocs = 7L), _),
      d => Dedup.loadContainmentState(spark, d, p).exists(s =>
        same(s.sets, a.sets) && same(s.dfreq, a.dfreq) && s.staleDocs == 0L))
  }

  test("resemblance state: a crash mid-save serves the previous state") {
    val p = Dedup.ResemblanceParams(0.6, 3)
    val a = Dedup.resemblanceState(docsA, "doc_id", "text")
    val b = Dedup.resemblanceState(docsB, "doc_id", "text")
    crashKeepsPrevious("resemblance")(
      Dedup.saveResemblanceState(a, _),
      Dedup.saveResemblanceState(b.copy(dfreq = poisoned(b.dfreq)), _),
      d => Dedup.loadResemblanceState(spark, d, p).exists(s =>
        same(s.sets, a.sets) && same(s.prefix, a.prefix)))
  }

  test("substring index: a crash mid-save serves the previous index") {
    val a = Dedup.exactSubstringWindows(docsA, "doc_id", "text", 3)
    val b = Dedup.exactSubstringWindows(docsB, "doc_id", "text", 3)
    crashKeepsPrevious("substring")(
      Dedup.saveSubstringIndex(a, _),
      Dedup.saveSubstringIndex(b.copy(windows = poisoned(b.windows)), _),
      d => Dedup.loadSubstringIndex(spark, d, 3).exists(s =>
        same(s.windows, a.windows)))
  }

  test("paragraph state: a crash mid-save serves the previous state") {
    val a = Dedup.paragraphHashes(docsA, "doc_id", "text")
    val b = Dedup.paragraphHashes(docsB, "doc_id", "text")
      .withColumn("seg_h", raise_error(lit("injected mid-save")).cast("string"))
    crashKeepsPrevious("paragraph")(
      Dedup.saveParagraphState(a, _),
      Dedup.saveParagraphState(b, _),
      d => Dedup.loadParagraphState(spark, d).exists(s =>
        same(s, a.select("seg_h").distinct())))
  }

  test("ann index: a crash mid-save serves the previous index") {
    def vecs(ids: Range) = ids.map(i => (i.toLong,
      Seq(1.0 + i % 5, 2.0 + (i * 3) % 7, 3.0 + (i * 5) % 11, 1.0 + i % 3)))
      .toDF("vec_id", "embedding")
    val a = AnnIndex.buildPortable(vecs(0 until 24), "vec_id", "embedding",
      m = 2, c = 4, nCells = Some(4), refineDim = 4)
    val b = AnnIndex.buildPortable(vecs(100 until 124), "vec_id", "embedding",
      m = 2, c = 4, nCells = Some(4), refineDim = 4)
    val tornB = b.copy(refine = b.refine.map(r => r.copy(codes = poisoned(r.codes))))
    crashKeepsPrevious("ann")(
      AnnIndex.save(spark, a, _),
      AnnIndex.save(spark, tornB, _),
      d => AnnIndex.load(spark, d, a.params).exists(s =>
        same(s.codes, a.codes) && same(s.refine.get.codes, a.refine.get.codes)))
  }

  test("store: regular-file pointer, only its own versions collected, " +
      "older layouts read as absent") {
    val root = TempDirs.make("graft_store").toString
    def load() = StateStore.load(root, Seq("t"), "test state", "p=1", "none")
    // an old-layout state: params manifest beside the frames, no pointer
    Files.write(new File(root, "_GRAFT_STATE").toPath, "p=1".getBytes)
    Seq(1, 2).toDF("x").write.parquet(s"$root/t")
    assert(load().isEmpty, "a pre-store layout must read as absent")
    Files.write(new File(root, "notes.txt").toPath, "keep".getBytes)
    def save(n: Int) = StateStore.save(root, "p=1", n.toLong) { v =>
      Seq(n).toDF("x").write.parquet(s"$v/t")
    }
    save(1)
    save(2)
    val v = load().getOrElse(fail("committed state not loadable"))
    assert(v.counter == 2L)
    assert(spark.read.parquet(v.part("t")).as[Int].collect().toSeq == Seq(2))
    val pointer = new File(root).listFiles()
      .filter(f => f.getName.startsWith("_GRAFT_") && f.getName != "_GRAFT_STATE")
    assert(pointer.length == 1 && Files.isRegularFile(pointer.head.toPath,
      java.nio.file.LinkOption.NOFOLLOW_LINKS), "the pointer must be a regular file")
    val versions = new File(root).listFiles().filter(_.getName.startsWith("graft_v"))
    assert(versions.map(_.getName).toSeq == Seq(new File(v.dir).getName),
      "superseded versions must be collected")
    // the caller's own files, and the old layout, are left alone
    Seq("notes.txt", "_GRAFT_STATE", "t").foreach(f =>
      assert(new File(root, f).exists(), s"$f was deleted by the store"))
    intercept[IllegalArgumentException] {
      StateStore.load(root, Seq("t"), "test state", "p=2", "none")
    }
  }
}
