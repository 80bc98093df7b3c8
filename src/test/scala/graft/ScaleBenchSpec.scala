package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleBenchSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("buildScaled replicas are isomorphic: token counts, near-dup structure, vector geometry") {
    val dir = TempDirs.make("graft_scale_spec")
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s0", 22L),
      (2L, "alpha beta gamma delta", "en", "s0", 22L), // exact dup of 1
      (3L, "completely different words over here", "de", "s1", 36L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/src/documents.parquet")
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Seq(0.6f, 0.8f, 0.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    emb.write.parquet(s"$dir/src/embeddings.parquet")
    val ord = Seq((7L, 70L, "O", 10.5, new java.sql.Timestamp(0L), "1-URGENT"),
      (8L, 71L, "F", 20.5, new java.sql.Timestamp(0L), "2-HIGH"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    ord.write.parquet(s"$dir/src/orders.parquet")
    ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out", replicas = 3)

    // orders replicate with key-mod geometry intact: the id offset is a
    // multiple of lcm(7,10,20), so % 7 / % 10 / % 20 slices per replica
    // equal the source's (the SCD2/CDC changelog fixtures key on them)
    val bigOrd = spark.read.parquet(s"$dir/out/orders.parquet")
      .select($"o_orderkey").as[Long].collect().toSeq
    assert(bigOrd.length == 6)
    assert(bigOrd.count(_ % 7 == 0) == 3) // key 7's replicas all stay % 7 == 0
    assert(bigOrd.count(_ % 7 != 0) == 3)
    assert(bigOrd.distinct.length == 6)

    val big = spark.read.parquet(s"$dir/out/documents.parquet")
    assert(big.count() == 9) // 3 replicas x 3 docs
    // per-doc token counts preserved (the isomorphism the curves rely on)
    val tokCounts = big.select(size(graft.functions.text.tokens($"text")))
      .as[Int].collect().toSeq
    assert(tokCounts.count(_ == 4) == 6 && tokCounts.count(_ == 5) == 3)
    // intra-replica near-dup structure preserved, cross-replica disjoint:
    // exactly one exact-dup pair per replica, none across
    val texts = big.select($"doc_id", $"text").as[(Long, String)].collect()
    val byText = texts.groupBy(_._2).values.filter(_.length > 1).toSeq
    assert(byText.length == 3 && byText.forall(_.length == 2))
    assert(byText.forall { g =>
      g.map(_._1 / 100000000L).distinct.length == 1 // same replica
    })
    // embeddings: rotation is an isometry — norms and intra-replica dot
    // products preserved exactly (float components merely permuted)
    val bigEmb = spark.read.parquet(s"$dir/out/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .toMap
    assert(bigEmb.size == 6)
    for (r <- 0 until 3) {
      val off = r.toLong * 100000000L
      val (a, b) = (bigEmb(off + 1L), bigEmb(off + 2L))
      assert(a.sortBy(identity) == Seq(0.0f, 0.0f, 0.0f, 1.0f))
      // dot(1, 2) = 0.6 in every replica (pairwise geometry intact)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(dot - 0.6f) < 1e-6)
    }
    // distinct replicas really are rotated differently (decorrelation)
    assert(bigEmb(1L) != bigEmb(100000001L))
  }

  test("100x tier: two-letter tags past 26 replicas, rotate+negate isometry past dim") {
    val dir = TempDirs.make("graft_scale_100x_spec")
    Seq((1L, "alpha beta", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/src/documents.parquet")
    // dim=2 so the rotation family is exhausted at 2 replicas and the
    // negate wrap (replicas 3-4) is reachable in a tiny fixture
    Seq((1L, Seq(1.0f, 0.5f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/src/embeddings.parquet")
    Seq((7L, 70L, "O", 10.5, new java.sql.Timestamp(0L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/src/orders.parquet")
    // past 2*dim the isometry family is exhausted: fail loudly
    intercept[IllegalArgumentException] {
      ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out_bad", replicas = 5)
    }
    intercept[IllegalArgumentException] {
      ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out_bad2", replicas = 101)
    }
    ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out", replicas = 4)
    val emb = spark.read.parquet(s"$dir/out/embeddings.parquet")
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    assert(emb.size == 4)
    // no two replicas carry identical vectors (the collision the
    // negate composition prevents), every replica is an isometry
    assert(emb.values.toSeq.distinct.length == 4)
    assert(emb.values.forall(v => math.abs(
      v.map(x => x * x).sum - 1.25f) < 1e-6))
    // second wrap = global negation of the same-rotation replica
    assert(emb(200000001L) == emb(1L).map(-_))
    assert(emb(300000001L) == emb(100000001L).map(-_))

    // 27 replicas (a 2-dim source can't host that rotation family; use a
    // separate docs-focused source with a wide embedding)
    val dir2 = TempDirs.make("graft_scale_27_spec")
    Seq((1L, "alpha beta", "en", "s0", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir2/src/documents.parquet")
    Seq((1L, (0 until 32).map(i => if (i == 0) 1.0f else 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir2/src/embeddings.parquet")
    Seq((7L, 70L, "O", 10.5, new java.sql.Timestamp(0L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir2/src/orders.parquet")
    ScaleBench.buildScaled(spark, s"$dir2/src", s"$dir2/out", replicas = 27)
    val texts = spark.read.parquet(s"$dir2/out/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(texts.length == 27)
    // uniform two-letter suffixes: every token grows by EXACTLY 2 chars
    // in every replica (isomorphic token stats), all replicas disjoint
    assert(texts.forall { case (_, t) =>
      t.split(" ").toSeq.map(_.length) == Seq(7, 6) })
    assert(texts.map(_._2).distinct.length == 27)
    // replica 26 wraps to the second letter block: "alphaba"
    val r26 = texts.find(_._1 == 26L * 100000000L + 1L).get._2
    assert(r26 == "alphaba betaba", s"got $r26")
  }

  test("skewed build replaces the doc_id%10 slice with boilerplate, metadata consistent") {
    val dir = TempDirs.make("graft_scale_skew_spec")
    val docs = (1L to 30L).map(id => (id, s"alpha$id beta$id gamma$id", "en", "s0", 30L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/src/documents.parquet")
    Seq((1L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/src/embeddings.parquet")
    Seq((7L, 70L, "O", 10.5, new java.sql.Timestamp(0L), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/src/orders.parquet")
    ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out",
      replicas = 2, skewFrac = 0.2)
    val out = spark.read.parquet(s"$dir/out/documents.parquet")
      .select($"doc_id", $"text", $"n_chars")
      .as[(Long, String, Long)].collect()
    // doc_id % 10 in {0, 1} -> boilerplate (skw-prefixed window, words
    // NOT replica-suffixed so df spans replicas); others keep suffixes
    val (skewed, normal) = out.partition(_._1 % 10 < 2)
    assert(skewed.nonEmpty && normal.nonEmpty)
    assert(skewed.forall(_._2.startsWith("skw")), s"got ${skewed.take(2).toSeq}")
    // replaced rows' metadata must describe the NEW text
    assert(skewed.forall { case (_, t, n) => n == t.length.toLong },
      "skewed n_chars must equal the boilerplate text length")
    assert(normal.forall { case (_, t, n) => !t.startsWith("skw") && n == 30L })
    // same BASE doc across replicas gets the SAME boilerplate (df x2)
    val byBase = skewed.groupBy(_._1 % 100000000L).values
    assert(byBase.exists(_.length == 2))
    assert(byBase.forall(g => g.map(_._2).distinct.length == 1))
    // non-tenth skew fractions fail loudly, never silently quantize
    intercept[IllegalArgumentException] {
      ScaleBench.buildScaled(spark, s"$dir/src", s"$dir/out2",
        replicas = 2, skewFrac = 0.04)
    }
  }

  test("bm25QueriesSuffixed applies exactly buildScaled's token suffix rule") {
    // parity lock: the suffixed query text must equal running Spark's
    // regexp_replace with the SHARED ScaleBench.TokenPattern over the
    // query strings (buildScaled's exact corpus-side transform) — the
    // residual drift risk after sharing the pattern constant is
    // Java-replaceAll vs Spark-regexp_replace semantics, which is what
    // this locks. A drift here means scale rows quietly time an empty
    // retrieval pipeline again (the round-18 review finding).
    val qs = SparkEntry.bm25QueriesSuffixed("")
    val viaSpark = qs.map(_._2).toDF("qtext")
      .select(regexp_replace(col("qtext"), ScaleBench.TokenPattern, "$1a"))
      .as[String].collect().toSeq
    assert(SparkEntry.bm25QueriesSuffixed("a").map(_._2) == viaSpark)
    assert(SparkEntry.bm25QueriesSuffixed("a").map(_._2) != qs.map(_._2),
      "suffixing must actually change the query text")
    // and the suffixed terms must actually hit a suffixed corpus: every
    // token ends with the tag
    assert(SparkEntry.bm25QueriesSuffixed("aa").map(_._2)
      .forall(_.split(" ").forall(_.endsWith("aa"))))
    // the shared tag rule: single letters to 26 replicas, uniform
    // two-letter tags above (same-length = isomorphic token stats)
    assert(ScaleBench.replicaTag(0, 10) == "a")
    assert(ScaleBench.replicaTag(2, 26) == "c")
    assert(ScaleBench.replicaTag(0, 100) == "aa")
    assert(ScaleBench.replicaTag(27, 100) == "bb")
  }
}
