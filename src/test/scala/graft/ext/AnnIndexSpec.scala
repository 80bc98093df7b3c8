package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class AnnIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // 4-dim corpus, m=2 subspaces; deterministic spread so coarse cells
  // and PQ codes are exercised without ties
  private def corpus(n: Int, idOffset: Long = 0L) =
    (0 until n).map { i =>
      (idOffset + i.toLong,
        Seq(1.0 + i % 5, 2.0 + (i * 3) % 7, 3.0 + (i * 5) % 11, 1.0 + i % 3))
    }.toDF("vec_id", "embedding")

  private def models(df: org.apache.spark.sql.DataFrame) = (
    Ivf.portableSeedModel(df, "vec_id", "embedding", k = 4),
    Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 2, c = 4))

  test("probe over a built index equals ivfAdcTopK over the source corpus") {
    val c = corpus(40)
    val q = corpus(6, idOffset = 1000L)
    val (coarse, pq) = models(c)
    val viaIndex = AnnIndex.probe(AnnIndex.build(c, "vec_id", "embedding",
        coarse, pq), q, "embedding", "vec_id", k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Pq.ivfAdcTopK(coarse, pq, c, q, "vec_id", "embedding",
        "vec_id", k = 3, nProbe = 2, excludeSelf = false)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(viaIndex == direct)
    assert(viaIndex.nonEmpty)
  }

  test("save/load round trip: bit-identical models and codes, probe unchanged") {
    val dir = TempDirs.make("graft_ann_index_spec").toString
    val c = corpus(40)
    val q = corpus(5, idOffset = 1000L)
    val (coarse, pq) = models(c)
    val params = AnnIndex.Params(nCells = 4, m = 2, c = 4)
    val built = AnnIndex.build(c, "vec_id", "embedding", coarse, pq)
    AnnIndex.save(spark, built, dir)
    val loaded = AnnIndex.load(spark, dir, params).getOrElse(fail("no state"))
    assert(loaded.coarse.centroids.map(_.toSeq).toSeq ==
      coarse.centroids.map(_.toSeq).toSeq)
    assert(loaded.pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    def run(st: AnnIndex.State) =
      AnnIndex.probe(st, q, "embedding", "vec_id", k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(loaded) == run(built))
  }

  test("mismatched params fail loudly; missing/torn state reads as absent") {
    val dir = TempDirs.make("graft_ann_index_mm").toString
    val c = corpus(40)
    val (coarse, pq) = models(c)
    val params = AnnIndex.Params(nCells = 4, m = 2, c = 4)
    assert(AnnIndex.load(spark, dir, params).isEmpty) // nothing there yet
    AnnIndex.save(spark, AnnIndex.build(c, "vec_id", "embedding", coarse, pq),
      dir)
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir, AnnIndex.Params(nCells = 4, m = 2, c = 8))
    }
    assert(ex.getMessage.contains("mis-rank"), ex.getMessage)
    // a remote-schemed state dir fails loudly instead of silently
    // splitting the state across filesystems (load would then read
    // forever-absent and re-encode every run)
    val ex2 = intercept[IllegalArgumentException] {
      AnnIndex.save(spark, AnnIndex.build(c, "vec_id", "embedding", coarse,
        pq), "hdfs://nn/graft_ann")
    }
    assert(ex2.getMessage.contains("local path"), ex2.getMessage)
    assert(AnnIndex.load(spark, dir, params).isDefined) // state intact
    // a torn save (a newer version written but never committed) is
    // never served: the previous index still is
    val torn = new java.io.File(dir, "graft_v99/codes")
    torn.mkdirs()
    java.nio.file.Files.write(new java.io.File(torn, "part-00000.parquet").toPath,
      Array[Byte](1, 2, 3))
    val served = AnnIndex.load(spark, dir, params).getOrElse(fail("index lost"))
    assert(served.codes.count() == 40L)
  }

  test("append under frozen models: probe equals rebuild over the union") {
    val base = corpus(32)
    val extra = corpus(8, idOffset = 500L)
    val q = corpus(5, idOffset = 1000L)
    val (coarse, pq) = models(base) // models frozen on the BASE
    val appended = AnnIndex.append(
      AnnIndex.build(base, "vec_id", "embedding", coarse, pq),
      extra, "vec_id", "embedding")
    val rebuilt = AnnIndex.build(base.unionByName(extra), "vec_id",
      "embedding", coarse, pq)
    def run(st: AnnIndex.State) =
      AnnIndex.probe(st, q, "embedding", "vec_id", k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(appended) == run(rebuilt))
    assert(appended.codes.count() == 40L)
  }

  test("probeRefined: the SQ8 cut over all probed candidates equals Sq8.topK; " +
      "refine tier survives save/load and append") {
    val c = corpus(40)
    val q = corpus(5, idOffset = 1000L)
    val st = AnnIndex.buildPortable(c, "vec_id", "embedding", m = 2, c = 4,
      nCells = Some(4), refineDim = 4)
    assert(st.params == AnnIndex.Params(4, 2, 4, refineDim = 4))
    // nProbe = nCells and widen covering the corpus: every row is an ADC
    // candidate and survives the widened cut, so the refine stage ranks
    // the WHOLE corpus — which must equal the Sq8 kernel's own top-k
    // (same ranges, same exact-decimal scaled dot, same tie order)
    def refined(s: AnnIndex.State) =
      AnnIndex.probeRefined(s, q, "embedding", "vec_id", k = 3,
          nProbe = 4, widen = 40)
        .as[(Long, Long, Double, Int)].collect().toSet
    val viaSq8 = Sq8.topK(c, q, "vec_id", "embedding", "vec_id", dim = 4,
        k = 3, excludeSelf = false)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(refined(st) == viaSq8)
    // narrow widen: output is still k deep, drawn from the ADC top-(w*k)
    val narrow = AnnIndex.probeRefined(st, q, "embedding", "vec_id",
        k = 3, nProbe = 2, widen = 2)
      .groupBy("query_id").count().as[(Long, Long)].collect()
    assert(narrow.nonEmpty && narrow.forall(_._2 <= 3))
    // save/load: ranges + codes round-trip exactly; append under frozen
    // ranges equals rebuild over the union (provenance invariance,
    // refine tier included)
    val dir = TempDirs.make("graft_ann_refine_spec").toString
    AnnIndex.save(spark, st, dir)
    val loaded = AnnIndex.load(spark, dir, st.params)
      .getOrElse(fail("no refined state read back"))
    assert(loaded.refine.get.lo == st.refine.get.lo)
    assert(loaded.refine.get.hi == st.refine.get.hi)
    assert(refined(loaded) == refined(st))
    // an unrefined expectation against a refined dir fails loudly (the
    // geometry-mismatch contract), not silently-without-refine
    val ex = intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir, st.params.copy(refineDim = 0))
    }
    assert(ex.getMessage.contains("mis-rank"), ex.getMessage)
    val extra = corpus(8, idOffset = 500L)
    val appended = AnnIndex.append(st, extra, "vec_id", "embedding")
    assert(appended.refine.get.codes.count() == 48L)
    val rebuilt = st.copy(
      codes = AnnIndex.build(c.unionByName(extra), "vec_id", "embedding",
        st.coarse, st.pq).codes,
      refine = st.refine.map(r => r.copy(codes =
        c.unionByName(extra).select(col("vec_id"),
          Sq8.codes(col("embedding"), r.lo, r.hi).as("rcodes")))))
    assert(refined(appended) == refined(rebuilt))
  }

  test("derivedNCells: ceil(sqrt(n)) with the replay floor, 100x corpus -> 10x cells") {
    assert(AnnIndex.derivedNCells(0L) == 4) // floor
    assert(AnnIndex.derivedNCells(16L) == 4)
    assert(AnnIndex.derivedNCells(17L) == 5)
    assert(AnnIndex.derivedNCells(400L) == 20)
    // the scale property the q299 fixture froze away: cells track sqrt(N),
    // so a 100x corpus probes a ~sqrt(100)=10x-finer partition, not the
    // same 8 cells
    assert(AnnIndex.derivedNCells(40000L) == 200)
    assert(AnnIndex.derivedNCells(1L, floor = 1) == 1)
  }

  test("buildPortable: derived default sizes to the corpus; explicit override wins") {
    val c = corpus(40) // ceil(sqrt(40)) = 7
    val derived = AnnIndex.buildPortable(c, "vec_id", "embedding", m = 2, c = 4)
    assert(derived.params == AnnIndex.Params(nCells = 7, m = 2, c = 4))
    val frozen = AnnIndex.buildPortable(c, "vec_id", "embedding", m = 2,
      c = 4, nCells = Some(4))
    assert(frozen.params == AnnIndex.Params(nCells = 4, m = 2, c = 4))
    // the derived build IS the explicit build at the derived k — one
    // code path, no second encode convention
    val q = corpus(5, idOffset = 1000L)
    val (coarseK7, pq) = (
      Ivf.portableSeedModel(c, "vec_id", "embedding", k = 7),
      Pq.portableSeedCodebooks(c, "vec_id", "embedding", m = 2, c = 4))
    def run(st: AnnIndex.State) =
      AnnIndex.probe(st, q, "embedding", "vec_id", k = 3, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
    assert(run(derived) ==
      run(AnnIndex.build(c, "vec_id", "embedding", coarseK7, pq)))
  }

  test("sizingDrift: ~1 after a derived build, grows as sqrt(N)/nCells under append") {
    val c = corpus(36) // derived nCells = 6, drift = sqrt(36)/6 = 1.0
    val built = AnnIndex.buildPortable(c, "vec_id", "embedding", m = 2, c = 4)
    assert(math.abs(AnnIndex.sizingDrift(built) - 1.0) < 1e-9)
    // 16x the data under the frozen cell count = two doublings = the
    // advisory threshold: drift sqrt(576)/6 = 4.0 exactly
    val grown = (1 to 15).foldLeft(built) { (st, i) =>
      AnnIndex.append(st, corpus(36, idOffset = 10000L * i),
        "vec_id", "embedding")
    }
    assert(math.abs(AnnIndex.sizingDrift(grown) - 4.0) < 1e-9)
    // the drifted index still probes correctly (append semantics are
    // untouched — the advisory is about COST, not correctness)
    val q = corpus(3, idOffset = 999000L)
    val hits = AnnIndex.probe(grown, q, "embedding", "vec_id", k = 3,
      nProbe = 2).count()
    assert(hits == 9L)
  }
}
