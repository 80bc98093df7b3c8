package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class PqSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // m=2 subspaces x subDim=2; codebook j holds two codewords each
  private val cb: Array[Array[Array[Double]]] = Array(
    Array(Array(0.0, 0.0), Array(10.0, 10.0)),
    Array(Array(0.0, 5.0), Array(5.0, 0.0)))
  private val model = Pq.Model(cb)

  test("encode picks the nearest codeword per subspace, ties to index 0") {
    val df = Seq(
      (1L, Seq(1.0, 1.0, 0.0, 4.0)), // sub0 -> cw0, sub1 -> cw0
      (2L, Seq(9.0, 9.0, 4.0, 1.0)), // sub0 -> cw1, sub1 -> cw1
      (3L, Seq(5.0, 5.0, 2.5, 2.5))) // both EQUIDISTANT -> ties to 0
      .toDF("vec_id", "embedding")
    val got = Pq.encode(model, df, "vec_id", "embedding")
      .as[(Long, Seq[Int])].collect().toMap
    assert(got(1L) == Seq(0, 0))
    assert(got(2L) == Seq(1, 1))
    assert(got(3L) == Seq(0, 0))
  }

  test("ADC distance equals L2^2 to the reconstructed (decoded) vector") {
    val corpus = Seq((1L, Seq(1.0, 1.0, 0.0, 4.0)), (2L, Seq(9.0, 9.0, 4.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((7L, Seq(2.0, 3.0, 1.0, 1.0))).toDF("vec_id", "embedding")
    val got = Pq.adcTopK(model, corpus, queries, "vec_id", "embedding",
      "vec_id", k = 2).as[(Long, Long, Double, Int)].collect()
      .map(r => r._2 -> r._3).toMap
    def l2sq(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val q = Seq(2.0, 3.0, 1.0, 1.0)
    // doc1 decodes to cw0|cw0 = (0,0,0,5); doc2 to cw1|cw1 = (10,10,5,0)
    assert(math.abs(got(1L) - l2sq(q, Seq(0, 0, 0, 5))) < 1e-9)
    assert(math.abs(got(2L) - l2sq(q, Seq(10, 10, 5, 0))) < 1e-9)
  }

  test("pre-encoded corpus (codesDf) gives identical results") {
    val corpus = Seq((1L, Seq(1.0, 1.0, 0.0, 4.0)), (2L, Seq(9.0, 9.0, 4.0, 1.0)))
      .toDF("vec_id", "embedding")
    val queries = Seq((7L, Seq(2.0, 3.0, 1.0, 1.0))).toDF("vec_id", "embedding")
    val direct = Pq.adcTopK(model, corpus, queries, "vec_id", "embedding",
      "vec_id", k = 2).as[(Long, Long, Double, Int)].collect().toSet
    val pre = Pq.encode(model, corpus, "vec_id", "embedding")
    val viaIndex = Pq.adcTopK(model, corpus, queries, "vec_id", "embedding",
      "vec_id", k = 2, codesDf = Some(pre))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(direct == viaIndex)
  }

  test("seed codebooks: deterministic, sliced, and dim-checked") {
    val emb = (1 to 40).map { i =>
      (i.toLong, (0 until 8).map(d => (i * 31 + d * 7 % 13).toDouble))
    }.toDF("vec_id", "embedding")
    val m1 = Pq.portableSeedCodebooks(emb, "vec_id", "embedding", m = 4, c = 8)
    val m2 = Pq.portableSeedCodebooks(emb, "vec_id", "embedding", m = 4, c = 8)
    assert(m1.m == 4 && m1.c == 8 && m1.subDim == 2)
    assert(m1.codebooks.flatten.flatten.toSeq == m2.codebooks.flatten.flatten.toSeq)
    val e = intercept[IllegalArgumentException] {
      Pq.portableSeedCodebooks(emb, "vec_id", "embedding", m = 3, c = 8)
    }
    assert(e.getMessage.contains("divide"))
  }

  test("recall sanity on clustered data: PQ top-1 finds the true cluster") {
    // 4 well-separated clusters; queries are cluster members — the
    // nearest neighbor by ADC must come from the same cluster
    val pts = for (cl <- 0 until 4; i <- 0 until 25) yield {
      val base = cl * 100.0
      ((cl * 25 + i).toLong,
        (0 until 8).map(d => base + (i * 13 + d * 5) % 7 * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val model8 = Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 4, c = 16)
    val top1 = Pq.adcTopK(model8, df, df.where(col("vec_id") % 25 === 3),
      "vec_id", "embedding", "vec_id", k = 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(top1.nonEmpty)
    top1.foreach { case (q, n, _, _) =>
      assert(q / 25 == n / 25, s"query $q matched cross-cluster neighbor $n")
    }
  }

  test("ivfAdcTopK with every cell probed equals flat adcTopK") {
    val pts = for (cl <- 0 until 4; i <- 0 until 25) yield {
      val base = cl * 100.0
      ((cl * 25 + i).toLong,
        (0 until 8).map(d => base + (i * 13 + d * 5) % 7 * 0.1))
    }
    val df = pts.toDF("vec_id", "embedding")
    val coarse = Ivf.portableSeedModel(df, "vec_id", "embedding", k = 4)
    val pq = Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 4, c = 16)
    val queries = df.where(col("vec_id") % 25 === 3)
    val flat = Pq.adcTopK(pq, df, queries, "vec_id", "embedding", "vec_id", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    // nProbe = all cells: pruning removes nothing, results must be equal
    val full = Pq.ivfAdcTopK(coarse, pq, df, queries, "vec_id", "embedding",
      "vec_id", k = 3, nProbe = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == flat)
    // nProbe = 1 returns a SUBSET of candidates with identical scores
    val pruned = Pq.ivfAdcTopK(coarse, pq, df, queries, "vec_id", "embedding",
      "vec_id", k = 3, nProbe = 1)
      .as[(Long, Long, Double, Int)].collect()
    val flatScores = flat.map(r => (r._1, r._2) -> r._3).toMap ++
      Pq.adcTopK(pq, df, queries, "vec_id", "embedding", "vec_id", k = 1000)
        .as[(Long, Long, Double, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    pruned.foreach { case (q, n, dist, _) =>
      assert(flatScores((q, n)) == dist, s"score drift for ($q, $n)")
    }
  }

  test("codebooks round-trip bit-identically through save/load") {
    val emb = (1 to 40).map { i =>
      (i.toLong, (0 until 8).map(d => i * 0.37 + d * 1.13))
    }.toDF("vec_id", "embedding")
    val m = Pq.portableSeedCodebooks(emb, "vec_id", "embedding", m = 4, c = 8)
    val dir = TempDirs.make("graft_pq_spec")
    val path = s"$dir/codebooks.txt"
    Pq.saveCodebooks(spark, m, path)
    val loaded = Pq.loadCodebooks(spark, path)
    assert(loaded.m == m.m && loaded.c == m.c && loaded.subDim == m.subDim)
    for (j <- 0 until m.m; cell <- 0 until m.c)
      assert(java.util.Arrays.equals(
        loaded.codebooks(j)(cell), m.codebooks(j)(cell)),
        s"codeword ($j, $cell) drifted through the round trip")
  }

  test("a wrong-dimension vector fails loudly, not silently") {
    val df = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pq.encode(model, df, "vec_id", "embedding").collect()
    }
    assert(e.getMessage != null)
  }

  test("train: deterministic Lloyd steps that never worsen quantization error") {
    val rnd = new scala.util.Random(13)
    // three loose clusters in 4-d so refinement has something to learn
    val rows = (1L to 90L).map { i =>
      val base = (i % 3).toInt * 6.0
      (i, Seq.fill(4)(base + rnd.nextDouble()))
    }
    val df = rows.toDF("vec_id", "embedding").repartition(5)
    val seed = Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 2, c = 4)
    val t1 = Pq.train(df, "vec_id", "embedding", m = 2, c = 4, iters = 2)
    val t2 = Pq.train(df, "vec_id", "embedding", m = 2, c = 4, iters = 2)
    // bit-identical across invocations and partitionings (decimal sums)
    for (j <- 0 until 2; cell <- 0 until 4)
      assert(java.util.Arrays.equals(t1.codebooks(j)(cell), t2.codebooks(j)(cell)),
        s"codeword ($j, $cell) not deterministic")
    // iters = 0 is the seed
    val t0 = Pq.train(df, "vec_id", "embedding", m = 2, c = 4, iters = 0)
    for (j <- 0 until 2; cell <- 0 until 4)
      assert(java.util.Arrays.equals(t0.codebooks(j)(cell), seed.codebooks(j)(cell)))
    // total quantization error (sum over rows/subspaces of the L2^2 to
    // the assigned codeword) must not increase — the Lloyd property the
    // round-16 recall fix rides on
    def err(m: Pq.Model): Double = rows.map { case (_, v) =>
      (0 until m.m).map { j =>
        val sub = v.slice(j * m.subDim, (j + 1) * m.subDim)
        m.codebooks(j).map(w =>
          w.zip(sub).map { case (a, b) => (a - b) * (a - b) }.sum).min
      }.sum
    }.sum
    assert(err(t1) <= err(seed) + 1e-9,
      s"training worsened quantization: ${err(t1)} > ${err(seed)}")
    assert(err(t1) < err(seed) * 0.9,
      "clustered fixture should improve materially")
  }

  test("adcRerankTopK: full-corpus shortlist equals exact brute force") {
    val rnd = new scala.util.Random(23)
    val rows = (1L to 40L).map(i => (i, Seq.fill(8)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("vec_id", "embedding").repartition(3)
    val seed = Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 2, c = 4)
    val queries = df.where($"vec_id" <= 3L)
    // shortlist >= corpus - 1 makes the re-rank a full exact search, so
    // the output must EQUAL bruteForceTopK row for row — the drop-in
    // contract the scaladoc claims
    val got = Pq.adcRerankTopK(seed, df, queries, "vec_id", "embedding",
        "vec_id", k = 4, shortlist = 39)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
        "vec_id", k = 4)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == exact)
    // and a thin shortlist still returns exactly k well-formed rows
    val thin = Pq.adcRerankTopK(seed, df, queries, "vec_id", "embedding",
        "vec_id", k = 2, shortlist = 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(thin.length == 3 * 2 && thin.map(_._4).forall(r => r == 1 || r == 2))
    intercept[IllegalArgumentException] {
      Pq.adcRerankTopK(seed, df, queries, "vec_id", "embedding", "vec_id",
        k = 5, shortlist = 4)
    }
  }

  test("train: an empty cell keeps its previous codeword") {
    // two IDENTICAL vectors both become seeds (c = corpus size), ties
    // assign to the LOWER cell, so the higher twin's cell gets no rows
    // and must retain its seed codeword verbatim
    val rows = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(5.0, 5.0)),
      (3L, Seq(9.0, 1.0)), (4L, Seq(9.0, 1.0)))
    val df = rows.toDF("vec_id", "embedding")
    val seed = Pq.portableSeedCodebooks(df, "vec_id", "embedding", m = 1, c = 4)
    val trained = Pq.train(df, "vec_id", "embedding", m = 1, c = 4, iters = 1)
    val dupCells = (0 until 4).filter(cell =>
      seed.codebooks(0)(cell).toSeq == Seq(9.0, 1.0))
    assert(dupCells.size == 2, s"expected twin seeds, got $dupCells")
    val emptied = dupCells.max
    assert(trained.codebooks(0)(emptied).toSeq == Seq(9.0, 1.0),
      "empty cell must keep its previous codeword")
  }
}
