package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class SimilaritySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(17)
  // 3 well-separated clusters of 10 vectors each around random centroids
  private lazy val clustered = {
    val centroids = Seq.fill(3)(Array.fill(16)(rng.nextGaussian() * 5))
    val rows = for {
      (c, ci) <- centroids.zipWithIndex
      j <- 0 until 10
    } yield ((ci * 10 + j).toLong,
      c.map(x => (x + 0.1 * rng.nextGaussian()).toFloat).toSeq, ci)
    rows.toDF("vec_id", "embedding", "cluster")
  }

  test("hardNegatives: positives and near-positives excluded, hardest " +
      "remaining candidates ranked first") {
    // query 0; 1 = labeled positive (near-identical); 2 = unlabeled
    // near-positive above the margin (must drop); 3/4 = genuinely hard
    // negatives (same direction, clearly below margin); 5 = easy negative
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.05f, 0.0f, 0.0f)),
      (3L, Seq(0.8f, 0.6f, 0.0f, 0.0f)),
      (4L, Seq(0.7f, 0.7f, 0.1f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = rows.where($"vec_id" === 0L)
    val positives = Seq((0L, 1L)).toDF("vec_id", "pos_id")
    val out = Similarity.hardNegatives(rows, queries, positives,
        "vec_id", "embedding", "vec_id", k = 3, excludeAbove = 0.95)
      .orderBy("rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.map(_._2) == Seq(3L, 4L, 5L),
      s"expected hard negatives 3,4 then easy 5 — got $out")
    assert(out.map(_._4) == Seq(1, 2, 3))
    // cosines strictly descending and all below the margin
    assert(out.map(_._3) == out.map(_._3).sorted.reverse)
    assert(out.forall(_._3 < 0.95))
  }

  test("hardNegativesShortlisted: exact rerank + exclusions over the " +
      "candidate set only") {
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.05f, 0.0f, 0.0f)),
      (3L, Seq(0.8f, 0.6f, 0.0f, 0.0f)),
      (4L, Seq(0.7f, 0.7f, 0.1f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = rows.where($"vec_id" === 0L)
    val positives = Seq((0L, 1L)).toDF("vec_id", "pos_id")
    // the shortlist misses 4 (a better negative than 5): recall is the
    // shortlist's, so 4 must NOT appear; 1 (positive, shortlisted) and
    // 2 (margin) must both drop
    val shortlist = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 5L))
      .toDF("query_id", "neighbor_id")
    val out = Similarity.hardNegativesShortlisted(rows, queries, positives,
        shortlist, "vec_id", "embedding", "vec_id", k = 3,
        excludeAbove = 0.95)
      .orderBy("rank")
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.map(_._2) == Seq(3L, 5L), s"got $out")
    assert(out.map(_._4) == Seq(1, 2))
  }

  test("shortlistRerankTopK: equals bruteForceTopK on a full shortlist; " +
      "recall is the shortlist's; excludeSelf off by default") {
    val corpus = clustered
    val queries = clustered.where($"vec_id" < 3L)
    val full = corpus.select($"vec_id".as("neighbor_id"))
      .crossJoin(queries.select($"vec_id".as("query_id")))
    val rerank = Similarity.shortlistRerankTopK(corpus, queries, full,
        "vec_id", "embedding", "vec_id", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "vec_id", k = 5, excludeSelf = false)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rerank == brute)
    // self appears at rank 1 (cosine 1.0) — the retrieval default keeps it
    assert(rerank.exists { case (q, n, _, r) => q == n && r == 1 })
    // a shortlist that misses the true #2 cannot return it: recall is
    // the shortlist's, everything after it exact
    val q0 = brute.filter(_._1 == 0L).toSeq.sortBy(_._4).map(_._2)
    val missing = q0(1)
    val cut = full.where(!($"query_id" === 0L &&
      $"neighbor_id" === missing))
    val out = Similarity.shortlistRerankTopK(corpus, queries, cut,
        "vec_id", "embedding", "vec_id", k = 5)
      .as[(Long, Long, Double, Int)].collect()
    assert(!out.exists(x => x._1 == 0L && x._2 == missing))
    // and the self-exclusion switch drops (q == n) everywhere
    val noSelf = Similarity.shortlistRerankTopK(corpus, queries, full,
        "vec_id", "embedding", "vec_id", k = 5, excludeSelf = true)
      .as[(Long, Long, Double, Int)].collect()
    assert(noSelf.nonEmpty && !noSelf.exists(x => x._1 == x._2))
  }

  test("miningShortlistSweep: dials are prefix cuts of one ranked " +
      "shortlist; chosen = smallest dial reaching the target") {
    val rows = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.999f, 0.01f, 0.0f, 0.0f)),
      (2L, Seq(0.99f, 0.05f, 0.0f, 0.0f)),
      (3L, Seq(0.8f, 0.6f, 0.0f, 0.0f)),
      (4L, Seq(0.7f, 0.7f, 0.1f, 0.0f)),
      (5L, Seq(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val queries = rows.where($"vec_id" === 0L)
    val positives = Seq((0L, 1L)).toDF("vec_id", "pos_id")
    // exact mining truth at k=2 is {3, 4}; the ranked shortlist puts 4
    // LAST, so the shallow dial can only recall 3
    val ranked = Seq((0L, 2L, 1), (0L, 3L, 2), (0L, 5L, 3), (0L, 4L, 4))
      .toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.miningShortlistSweep(rows, queries, positives,
        ranked, "vec_id", "embedding", "vec_id", k = 2,
        recallTarget = 0.9, dials = Seq(2, 4))
      .orderBy("shortlist_s")
      .as[(Int, Long, Long, Double, Boolean)].collect().toSeq
    assert(out == Seq(
      (2, 2L, 1L, 0.5, false),
      (4, 2L, 2L, 1.0, true)))
    val (dial, recall) = Similarity.autoTuneMiningShortlist(rows, queries,
      positives, ranked, "vec_id", "embedding", "vec_id", k = 2,
      recallTarget = 0.9, dials = Seq(2, 4))
    assert(dial == 4 && recall == 1.0)
  }

  test("rrfFuse: both-list docs outrank single-list heads; absent docs " +
      "contribute nothing") {
    // doc 10 is rank 2 in BOTH lists (1/62 + 1/62 ~ 0.032258);
    // docs 11/12 are the single-list heads (1/61 ~ 0.016393 each)
    val a = Seq((1L, 11L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val b = Seq((1L, 12L, 1), (1L, 10L, 2)).toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuse(Seq(a, b), k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect().toSeq
    assert(out.map(_._2) == Seq(10L, 11L, 12L),
      s"consensus doc must win, ties break by doc_id: $out")
    assert(out.head._3 == 0.032258 * 1.0) // 2 * round(1/62, 6)
    assert(out(1)._3 == 0.016393 && out(2)._3 == 0.016393)
    assert(out.map(_._4) == Seq(1, 2, 3))
  }

  test("meanVectors: exact per-group dimension means, 1-based dims") {
    val df = Seq(
      ("a", Seq(1.0f, 3.0f)), ("a", Seq(3.0f, 5.0f)), ("b", Seq(10.0f, 0.0f)))
      .toDF("g", "embedding")
    val out = Similarity.meanVectors(df, Seq("g"), "embedding")
      .orderBy("g", "dim")
      .as[(String, Int, Double)].collect().toSeq
    assert(out == Seq(("a", 1, 2.0), ("a", 2, 4.0), ("b", 1, 10.0), ("b", 2, 0.0)))
  }

  test("dimension mismatch fails loudly instead of truncating") {
    import org.apache.spark.sql.functions.col
    val mixed = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      mixed.select(graft.functions.vectors.cosine(
        col("embedding"), org.apache.spark.sql.functions.array(
          org.apache.spark.sql.functions.lit(1.0),
          org.apache.spark.sql.functions.lit(2.0),
          org.apache.spark.sql.functions.lit(3.0)))).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("dimension mismatch")))
  }

  test("brute-force top-k returns k in-cluster neighbors, ranked by cosine") {
    val q = clustered.where($"vec_id" === 0L)
    val out = Similarity.bruteForceTopK(clustered, q,
      "vec_id", "embedding", "vec_id", k = 5)
      .orderBy("rank").collect()
    assert(out.length == 5)
    // all neighbors of a cluster-0 query are cluster-0 vectors (ids 0..9)
    assert(out.forall(_.getLong(1) < 10))
    // ranks are 1..5 and cosine non-increasing
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 2, 3, 4, 5))
    val cos = out.map(_.getDouble(2)).toSeq
    assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    assert(cos.head > 0.99) // same-cluster vectors are near-identical
  }

  test("IVF top-k achieves high recall vs brute force on clustered data") {
    val queries = clustered.where($"vec_id" % 10 === 0L)
    val exact = Similarity.bruteForceTopK(clustered, queries,
      "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val model = Ivf.train(clustered, "vec_id", "embedding", k = 6, iters = 4)
    assert(model.centroids.length == 6 && model.centroids.head.length == 16)
    val approx = Ivf.topK(model, clustered, queries,
      "vec_id", "embedding", "vec_id", k = 5, nProbe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("IVF training sample cap is deterministic and keeps k centroids") {
    val m1 = Ivf.train(clustered, "vec_id", "embedding", k = 3, iters = 2,
      maxTrainRows = 12)
    val m2 = Ivf.train(clustered, "vec_id", "embedding", k = 3, iters = 2,
      maxTrainRows = 12)
    assert(m1.centroids.length == 3)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    // sampled-model search still returns k ranked neighbors per query
    val q = clustered.where($"vec_id" === 0L)
    val out = Ivf.topK(m1, clustered, q, "vec_id", "embedding", "vec_id",
      k = 5, nProbe = 2)
    assert(out.count() == 5)
  }

  test("trainCapAudit reports the exact deterministic training sample") {
    val n = clustered.count()
    // cap below the corpus: n_trained must equal the count of rows the
    // train() hash filter keeps — replicate it independently here
    val cap = 12L
    val granularity = 1L << 31
    val bound = math.max(1L, (cap.toDouble / n * granularity).toLong)
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val expected = clustered.where(
      pmod(xxhash64($"vec_id"), lit(granularity)) < bound).count()
    val got = Ivf.trainCapAudit(clustered, "vec_id", "embedding", cap)
      .as[(Long, Long, Double)].collect().head
    assert(got._1 == n && got._2 == expected && got._3 == expected.toDouble / n,
      s"got $got")
    assert(got._2 > 0 && got._2 < n, "cap must actually bite in this fixture")
    // cap off (0) and cap above n: nothing dropped, fraction exactly 1
    assert(Ivf.trainCapAudit(clustered, "vec_id", "embedding", 0L)
      .as[(Long, Long, Double)].collect().head == ((n, n, 1.0)))
    assert(Ivf.trainCapAudit(clustered, "vec_id", "embedding", n + 5)
      .as[(Long, Long, Double)].collect().head == ((n, n, 1.0)))
  }

  test("portableSeedModel: deterministic md5-seeded centroids drawn from the corpus") {
    val m1 = Ivf.portableSeedModel(clustered, "vec_id", "embedding", k = 4)
    val m2 = Ivf.portableSeedModel(clustered, "vec_id", "embedding", k = 4)
    assert(m1.centroids.length == 4)
    assert(m1.centroids.map(_.toSeq).toSeq == m2.centroids.map(_.toSeq).toSeq)
    // every seed centroid IS a corpus vector (no iteration moved it)
    val corpusVecs = clustered.select($"embedding".cast("array<double>"))
      .as[Seq[Double]].collect().map(_.toSeq).toSet
    assert(m1.centroids.forall(c => corpusVecs.contains(c.toSeq)))
    // and the machinery over it still returns k ranked rows per query
    val q = clustered.where($"vec_id" === 0L)
    assert(Ivf.topK(m1, clustered, q, "vec_id", "embedding", "vec_id",
      k = 5, nProbe = 2).count() == 5)
  }

  test("IVF model save/load round-trips bit-identically and searches identically") {
    val model = Ivf.train(clustered, "vec_id", "embedding", k = 4, iters = 2)
    val path = TempDirs.make("graft_ivf")
      .resolve("quantizer.txt").toString
    Ivf.saveModel(spark, model, path)
    val loaded = Ivf.loadModel(spark, path)
    // Double.toString round-trips exactly — the centroids must be BIT-equal
    assert(loaded.centroids.map(_.toSeq).toSeq ==
      model.centroids.map(_.toSeq).toSeq)
    val q = clustered.where($"vec_id" === 0L)
    val a = Ivf.topK(model, clustered, q, "vec_id", "embedding", "vec_id",
      k = 5, nProbe = 2).orderBy("rank").collect().toSeq
    val b = Ivf.topK(loaded, clustered, q, "vec_id", "embedding", "vec_id",
      k = 5, nProbe = 2).orderBy("rank").collect().toSeq
    assert(a == b)
  }

  test("LSH top-k achieves high recall vs brute force on clustered data") {
    val queries = clustered.where($"vec_id" % 10 === 0L) // one per cluster
    val exact = Similarity.bruteForceTopK(clustered, queries,
      "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(clustered, queries,
      "vec_id", "embedding", "vec_id", dim = 16, k = 5, tables = 8, bits = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("portablePlanes is deterministic, ±1-valued, and table/bit-distinct") {
    val a = Similarity.portablePlanes(3, 4, 16)
    val b = Similarity.portablePlanes(3, 4, 16)
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq)
    assert(a.flatten.flatten.forall(v => v == 1.0 || v == -1.0))
    // different (table, bit) slots give different planes (no degenerate reuse)
    val distinct = a.flatten.map(_.toSeq).toSet
    assert(distinct.size == 12)
  }

  test("portable LSH buckets match an independent JVM-side sign computation") {
    val planes = Similarity.portablePlanes(2, 4, 16)
    val vecs = clustered.limit(5)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    // reference: sequential left-to-right double fold, same as vectors.dot
    def bucketRef(v: Array[Float], t: Int): String =
      (0 until 4).map { b =>
        var acc = 0.0
        for (i <- 0 until 16) acc += v(i).toDouble * planes(t)(b)(i)
        if (acc >= 0.0) "1" else "0"
      }.mkString
    val got = Similarity.lshTopKPortable(clustered, clustered.limit(5),
      "vec_id", "embedding", "vec_id", dim = 16, k = 3, tables = 2, bits = 4)
    assert(got.count() > 0) // pipeline runs end to end
    // check the bucket expression itself against the reference
    import org.apache.spark.sql.functions.{col, concat, lit, typedLit, when}
    def bucketCol(t: Int) = concat((0 until 4).map { b =>
      when(graft.functions.vectors.dot(col("embedding"),
        typedLit(planes(t)(b).toSeq)) >= 0.0, lit("1")).otherwise(lit("0"))
    }: _*)
    val byId = clustered.limit(5)
      .select($"vec_id", bucketCol(0), bucketCol(1))
      .as[(Long, String, String)].collect()
    byId.foreach { case (id, b0, b1) =>
      val v = vecs.find(_._1 == id).get._2
      assert(b0 == bucketRef(v, 0), s"id=$id table 0")
      assert(b1 == bucketRef(v, 1), s"id=$id table 1")
    }
  }

  test("portable LSH top-k achieves high recall vs brute force on clustered data") {
    val queries = clustered.where($"vec_id" % 10 === 0L)
    val exact = Similarity.bruteForceTopK(clustered, queries,
      "vec_id", "embedding", "vec_id", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopKPortable(clustered, queries,
      "vec_id", "embedding", "vec_id", dim = 16, k = 5, tables = 8, bits = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall")
  }

  test("nProbeSweep measures a monotone dial curve; autoTuneNProbe picks the knee") {
    val queries = clustered.where($"vec_id" % 10 === 0L)
    val model = Ivf.train(clustered, "vec_id", "embedding", k = 6, iters = 4)
    val sweep = Ivf.nProbeSweep(model, clustered, queries,
        "vec_id", "embedding", "vec_id", k = 5, recallTarget = 0.8)
      .orderBy("n_probe")
      .as[(Int, Long, Long, Double, Boolean)].collect().toSeq
    // default ladder doubles from 1 and ends at the cell count
    assert(sweep.map(_._1) == Seq(1, 2, 4, 6))
    // recall is NON-DECREASING in the dial (a bigger probe set is a
    // superset of candidates) and exactly 1.0 at nProbe = cells (the
    // probe set is the whole corpus, re-rank is exact)
    assert(sweep.map(_._4).sliding(2).forall(p => p.head <= p.last),
      s"recall not monotone: $sweep")
    assert(sweep.last._4 == 1.0)
    // chosen = the SMALLEST dial at/above target, exactly once
    val chosen = sweep.filter(_._5)
    assert(chosen.size == 1 &&
      chosen.head._1 == sweep.find(_._4 >= 0.8).get._1)
    // the tuner returns that knee
    val (np, recall) = Ivf.autoTuneNProbe(model, clustered, queries,
      "vec_id", "embedding", "vec_id", k = 5, recallTarget = 0.8)
    assert(np == chosen.head._1 && recall == chosen.head._4)
  }

  test("autoTuneLshTables falls back loudly to the largest dial when the " +
    "target is unreachable") {
    // uniform vectors (no cluster structure): one 16-bit table makes
    // near-singleton buckets, so recall sits far from 1.0
    val rnd = new scala.util.Random(97)
    val uniform = (1L to 80L)
      .map(i => (i, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val queries = uniform.where($"vec_id" <= 5L)
    val (t, recall) = Similarity.autoTuneLshTables(uniform, queries,
      "vec_id", "embedding", "vec_id", dim = 16, k = 5, bits = 16,
      recallTarget = 1.0, dials = Seq(1))
    assert(t == 1 && recall < 1.0,
      s"expected unreachable target to fall back, got ($t, $recall)")
    // and a reachable target returns a chosen dial with measured recall
    val cq = clustered.where($"vec_id" % 10 === 0L)
    val (t2, r2) = Similarity.autoTuneLshTables(clustered, cq,
      "vec_id", "embedding", "vec_id", dim = 16, k = 5, bits = 6,
      recallTarget = 0.8, dials = Seq(2, 4, 8))
    assert(r2 >= 0.8 && Seq(2, 4, 8).contains(t2), s"($t2, $r2)")
  }

  test("lshTablesSweep single-probe dial cuts equal re-running each face " +
    "at its dial (both plane families)") {
    // the sweep now probes ONCE at the deepest dial and derives dial t as
    // the min-collision-table < t cut; this must be row-identical to the
    // deployed faces run per dial, or the tuner measures a different
    // query than the one deployed
    val queries = clustered.where($"vec_id" % 10 === 0L)
    val dials = Seq(2, 4, 8)
    for (portable <- Seq(true, false)) {
      val truth = Similarity.bruteForceTopK(clustered, queries,
        "vec_id", "embedding", "vec_id", k = 5)
        .select("query_id", "neighbor_id")
      val sweep = Similarity.lshTablesSweep(clustered, queries,
          "vec_id", "embedding", "vec_id", dim = 16, k = 5, bits = 6,
          recallTarget = 0.8, dials = dials, portable = portable,
          exactTruth = Some(truth))
        .orderBy("n_tables")
        .as[(Int, Long, Long, Double, Boolean)].collect().toSeq
      val ref = dials.map { t =>
        val face =
          if (portable)
            Similarity.lshTopKPortable(clustered, queries, "vec_id",
              "embedding", "vec_id", dim = 16, k = 5, tables = t, bits = 6)
          else
            Similarity.lshTopK(clustered, queries, "vec_id",
              "embedding", "vec_id", dim = 16, k = 5, tables = t, bits = 6)
        face.select("query_id", "neighbor_id")
          .join(truth, Seq("query_id", "neighbor_id")).count()
      }
      assert(sweep.map(_._3) == ref,
        s"portable=$portable: sweep hits ${sweep.map(_._3)} != per-dial faces $ref")
    }
  }

  test("scaledDotProduct rejects non-long arrays at ANALYSIS time") {
    // the kernel reads long element storage directly; a double array
    // must fail analysis loudly, never score garbage (ADVICE r16)
    val df = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.expressions.VectorExpressions.scaledDotProduct(
        $"a", $"b")).collect()
    }
    assert(ex.getMessage.contains("scaled_dot_product"), ex.getMessage)
    // and the legitimate long-array shape still evaluates exactly
    val ok = Seq((Array(2000000L, 3000000L), Array(4000000L, 5000000L)))
      .toDF("a", "b")
      .select(graft.expressions.VectorExpressions.scaledDotProduct(
        $"a", $"b").cast("string")).as[String].collect().head
    // scale-6 unscaled longs are 2.0/3.0 · 4.0/5.0 → dot = 8 + 15 = 23,
    // carried exactly at decimal(38,12)
    assert(BigDecimal(ok) == BigDecimal("23.000000000000"), ok)
  }

  test("sparseCosineTopK: known dots, full-term norms, df cap excludes stop terms") {
    val docs = Seq(
      (1L, "the alpha beta alpha"), // tf a:2 b:1 the:1, n2 = 6
      (2L, "the alpha beta"),       // tf a:1 b:1 the:1, n2 = 3
      (3L, "the zeta zeta zeta")    // tf z:3 the:1,     n2 = 10
    ).toDF("doc_id", "text")
    // maxDf = 2: 'the' (df 3) is capped out of dots, 'zeta' (df 1) is a
    // singleton; only alpha/beta survive -> the only pair is (1,2) with
    // dot 2*1 + 1*1 = 3; norms keep EVERY term
    val out = Similarity.sparseCosineTopK(docs, "doc_id", "text",
        k = 10, maxDf = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val expected = BigDecimal(3.0 / math.sqrt(6.0 * 3.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq((1L, 2L, 3L, expected)))
  }
}
