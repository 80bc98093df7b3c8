package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftspec.JobLog

import graft.{SparkSpec, TempDirs}

class DedupSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest to hide from the loud hunters"
  // doc 2 = doc 1 with one word changed (near-dup); doc 3 disjoint.
  private def docs = Seq(
    (1L, base),
    (2L, base.replace("green", "blue")),
    (3L, "completely different content about database engines and " +
      "distributed query processing with columnar storage layouts here"),
    (4L, base) // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id and counts the collapsed group") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id", "dup_count").orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (2L, 1L), (3L, 1L)))
  }

  test("minhash pairs find near and exact dups, not the disjoint doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash dedup drops near-dups with larger ids (canonical-min policy)") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(3L))
    assert(!kept.contains(4L))
  }

  test("CharGramRouting makes every screen see CJK near-dups") {
    val poem = "春眠不覚暁処処聞啼鳥夜来風雨声花落知多少床前明月光疑是地上霜"
    val cjk = Seq(
      (1L, poem),
      (2L, poem.updated(5, '見')),                // near-dup of 1
      (3L, poem.take(12) + " " + poem.drop(12)),  // stray-space twin of 1
      (4L, "合成された日本語の試験文書であり漢字と仮名が混在している独自の本文である"),
      (5L, base), (6L, base.replace("green", "blue"))) // spaced pair rides along
      .toDF("doc_id", "text")
    val route = Some(Dedup.CharGramRouting())
    // minhash screen: blind without routing, sees the CJK dups with it
    val blind = Dedup.minhashDedup(cjk, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(blind),
      s"word shingles must NOT collapse the CJK docs (1 token each): $blind")
    val routed = Dedup.minhashDedup(cjk, "doc_id", "text", threshold = 0.5,
      route = route).select("doc_id").as[Long].collect().toSet
    assert(routed == Set(1L, 4L, 5L),
      s"routed screen must drop 2,3 (near-dups of 1) and 6 (of 5): $routed")
    // resemblance state: route rides IN the state — the probe shingles
    // incoming under it, a persisted round-trip keeps it, a mismatched
    // expectation fails loudly
    val standing = cjk.where(col("doc_id") <= 4)
    val st = Dedup.resemblanceState(standing, "doc_id", "text",
      threshold = 0.5, shingleK = 3, route = route)
    val incoming = Seq((10L, poem.updated(2, '亦')), (11L, base))
      .toDF("doc_id", "text")
    val hits = Dedup.jaccardProbe(incoming, st, "doc_id", "text")
      .select("id_in", "id_host").as[(Long, Long)].collect().toSet
    assert(hits.contains((10L, 1L)), s"routed probe must find the Han host: $hits")
    val dir = TempDirs.make("graft_rroute").toString
    Dedup.saveResemblanceState(st, dir)
    val loaded = Dedup.loadResemblanceState(spark, dir,
      Dedup.ResemblanceParams(0.5, 3, route)).get
    assert(loaded.params.route == route)
    assert(Dedup.jaccardProbe(incoming, loaded, "doc_id", "text")
      .select("id_in", "id_host").as[(Long, Long)].collect().toSet == hits)
    intercept[IllegalArgumentException] { // unrouted expectation: loud
      Dedup.loadResemblanceState(spark, dir, Dedup.ResemblanceParams(0.5, 3))
    }
    // containment probe: a Han QUOTE of a standing Han host
    val cst = Dedup.containmentState(standing, "doc_id", "text",
      shingleK = 3, route = route)
    // a routed containment state served to an UNROUTED expectation must
    // fail loudly at load (the gram sets would never intersect and every
    // duplicate would silently pass)
    val cdir = TempDirs.make("graft_croute").toString
    Dedup.saveContainmentState(cst, cdir)
    intercept[IllegalArgumentException] {
      Dedup.loadContainmentState(spark, cdir, Dedup.ContainmentParams(3))
    }
    assert(Dedup.loadContainmentState(spark, cdir,
      Dedup.ContainmentParams(3, route)).isDefined)
    val quote = Seq((20L, poem.take(14))).toDF("doc_id", "text")
    // the probe shingles and routes under the state's own params
    val chits = Dedup.containmentProbe(quote, cst, "doc_id", "text",
        tau = 0.8)
      .select("id_in", "id_host").as[(Long, Long)].collect().toSet
    // host 3 is the stray-space twin of host 1 — whitespace strips away
    // on the routed path, so the quote is contained in BOTH
    assert(chits == Set((20L, 1L), (20L, 3L)),
      s"routed containment must see the quote in both twins: $chits")
    // word-only results are UNCHANGED by the routing machinery existing
    val plain = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(1L, 3L))
  }

  test("incremental dedup: corpus wins, intra-batch keeps min id") {
    val corpus = Seq((1L, base)).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, base),                        // dup of corpus -> dropped
      (11L, base.replace("green", "red")),// near-dup of corpus -> dropped
      (12L, "a totally novel document about streaming engines and " +
        "watermark semantics in distributed dataflow systems today"),
      (13L, "a totally novel document about streaming engines and " +
        "watermark semantics in distributed dataflow systems today") // dup of 12
    ).toDF("doc_id", "text")
    val kept = Dedup.minhashDedupAgainst(incoming, corpus, "doc_id", "text",
      threshold = 0.5).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(12L))
  }

  test("minhash state survives a parquet save/load round trip") {
    val corpus = docs.where($"doc_id" <= 2)
    val incoming = docs.where($"doc_id" >= 3) // 4 dups corpus doc 1
    val inline = Dedup.minhashDedupAgainst(incoming, corpus,
      "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val dir = TempDirs.make("graft_mh_state").toString
    val params = Dedup.MinhashParams(64, 16, 3)
    assert(Dedup.loadMinhashState(spark, dir, params).isEmpty, "no state yet -> None")
    Dedup.saveMinhashState(
      Dedup.minhashState(corpus, "doc_id", "text"), dir, params)
    // a resume with different signature parameters must fail fast, not
    // silently produce buckets that never match
    intercept[IllegalArgumentException] {
      Dedup.loadMinhashState(spark, dir, Dedup.MinhashParams(64, 8, 3))
    }
    val loaded = Dedup.loadMinhashState(spark, dir, params)
      .getOrElse(fail("saved state not loadable"))
    // signature params ride in the loaded state (ADVICE r15) — the probe
    // derives its pipeline from them, no per-call re-pass to drift
    val viaLoaded = Dedup.minhashDedupAgainst(incoming, loaded, "doc_id",
      "text", threshold = 0.5, maxBucket = 1000)
      .select("doc_id").as[Long].collect().toSet
    assert(viaLoaded == inline && inline == Set(3L))
  }

  test("connectedComponents resolves chains to the min reachable id") {
    // chain 1-2, 2-3 (1-3 never directly paired) + separate component 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_l", "id_r")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer path exercises multi-round propagation
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_l", "id_r")
    val cc2 = Dedup.connectedComponents(path).as[(Long, Long)].collect().toMap
    assert(cc2.values.toSet == Set(1L))
  }

  test("connectedComponents: iteration cap fails loudly, adequate bound converges") {
    // a 12-node path needs ~11 label-propagation rounds to pull the far
    // end down to min-id — a 3-round cap must fail LOUDLY (the house
    // fail-fast stance: a silently-unconverged labeling would split one
    // near-dup cluster across the train/test boundary), and the error
    // must say how to recover
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("id_l", "id_r")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(path, maxIters = 3).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    assert(e.getMessage.contains("maxIters"))
    // the same graph under an adequate bound resolves to one component
    val cc = Dedup.connectedComponents(path, maxIters = 15)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L))
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    val rng = new scala.util.Random(23)
    for (_ <- 1 to 5) {
      val n = 30
      val pairs = Seq.fill(25)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .map(id => id -> {
          // path-compress to the true min representative
          var r = find(id.toInt)
          while (parent(r) != r) r = parent(r)
          r.toLong
        }).toMap
      val got = Dedup.connectedComponents(pairs.toDF("id_l", "id_r"))
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"mismatch for pairs $pairs")
    }
  }

  test("transitive minhash dedup keeps one survivor per component") {
    // docs 1, 2, 4 are one near-dup cluster; canonical-min and transitive
    // agree here, and both keep exactly {1, 3}
    val kept = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5,
      transitive = true).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("simhash: near-identical docs within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0) // identical text, identical simhash
    assert(ham(sh(1L), sh(2L)) <= 12) // one-word edit: close
    assert(ham(sh(1L), sh(3L)) > 12) // disjoint: far
  }

  test("simhashPairs candidates via bit bands") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("exactSubstringPairs finds shared token runs; boilerplate guard drops hot windows") {
    // footer is 8 tokens: it contains NO 9-token window, but plenty of
    // 5-token windows shared by every doc
    val boiler = "this footer appears on every page of site"
    val d = Seq(
      (1L, s"unique alpha text one two three four five six seven eight nine. $boiler"),
      (2L, s"other words then one two three four five six seven eight nine end. $boiler"),
      (3L, s"nothing in common with anything here at all whatsoever truly. $boiler"),
      (4L, s"fully distinct content that shares no run with any other doc. $boiler")
    ).toDF("doc_id", "text")
    // window=9: only the 9-token run shared by 1 and 2 matches (windows
    // straddling text+footer differ per doc)
    val pairs = Dedup.exactSubstringPairs(d, "doc_id", "text", windowTokens = 9)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"expected only (1,2), got $pairs")
    // window=5: the footer's 5-token windows live in all 4 docs — with the
    // guard above that size every pair matches through the footer, with it
    // at 3 only the genuine shared run survives
    val unguarded = Dedup.exactSubstringPairs(d, "doc_id", "text",
      windowTokens = 5, maxBucket = 4)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(unguarded.size == 6, s"all 6 pairs match via the footer, got $unguarded")
    val guarded = Dedup.exactSubstringPairs(d, "doc_id", "text",
      windowTokens = 5, maxBucket = 3)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(guarded == Set((1L, 2L)), s"guard must drop the footer, got $guarded")
  }

  test("exactSubstringPairs matches a brute-force model on seeded random corpora") {
    val rnd = new scala.util.Random(20260813L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel")
    val k = 3; val maxBucket = 5
    val corpus = (1L to 30L).map { id =>
      id -> Seq.fill(5 + rnd.nextInt(26))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // brute-force model: per-doc distinct k-windows, hot windows dropped,
    // pair counts by set intersection
    val winsByDoc = corpus.map { case (id, text) =>
      id -> text.split(" ").sliding(k).filter(_.length == k)
        .map(_.mkString(" ")).toSet
    }.toMap
    val hot = winsByDoc.values.flatten.groupBy(identity)
      .collect { case (w, occ) if occ.size > maxBucket => w }.toSet
    val expected = (for {
      (a, wa) <- winsByDoc.toSeq; (b, wb) <- winsByDoc.toSeq if a < b
      shared = (wa & wb) -- hot if shared.nonEmpty
    } yield (a, b) -> shared.size.toLong).toMap
    val got = Dedup.exactSubstringPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = k, maxBucket = maxBucket)
      .select("id_l", "id_r", "n_windows")
      .as[(Long, Long, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
    assert(got == expected,
      s"engine/model diverge: only-engine=${got.keySet -- expected.keySet}, " +
        s"only-model=${expected.keySet -- got.keySet}")
    // the hashed 100TB mode must agree on this corpus (collisions are
    // ~pairs/2^64 — impossible at test scale)
    val hashed = Dedup.exactSubstringPairs(corpus.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = k, maxBucket = maxBucket,
        hashWindows = true)
      .select("id_l", "id_r", "n_windows")
      .as[(Long, Long, Long)].collect()
      .map { case (l, r, n) => (l, r) -> n }.toMap
    assert(hashed == expected)
  }

  test("hashWindows collisions only ADD matches and are absorbed by an n_windows threshold") {
    // A real xxhash64 collision cannot be synthesized, so inject a
    // deliberately colliding collapse (hash mod 8) through the private hook
    // and pin the contract the scaladoc's birthday bound relies on:
    // collisions inflate n_windows / fabricate low-count pairs but never
    // remove a genuine match, so thresholding n_windows filters them.
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val d = Seq(
      (1L, s"first document carries the shared run $run inside it"),
      (2L, s"second one too $run with other trailing words here"),
      (3L, "completely unrelated content about gardening and weather patterns"),
      (4L, "another distinct text concerning musical instruments and tempo"),
      (5L, "a fifth document on sailing navigation and coastal charts")
    ).toDF("doc_id", "text")
    val k = 4
    def toPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_l", "id_r", "n_windows")
        .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val exact = toPairs(Dedup.exactSubstringPairs(d, "doc_id", "text",
      windowTokens = k))
    // the 9-token run yields 6 shared 4-token windows for (1,2) and
    // nothing else
    assert(exact == Map((1L, 2L) -> 6L), s"got $exact")
    val collided = toPairs(Dedup.exactSubstringPairsImpl(d, "doc_id", "text",
      windowTokens = k, maxBucket = 1000,
      collapse = Some(c => pmod(xxhash64(c), lit(64)))))
    // collisions are additive: every genuine pair survives with at least
    // its true count, and the mod-64 collapse does fabricate matches
    assert(collided.keySet.contains((1L, 2L)))
    assert(collided((1L, 2L)) >= 6L)
    assert(collided.exists { case (p, _) => p != ((1L, 2L)) },
      "mod-64 collapse should fabricate spurious pairs in this fixture")
    // the absorption claim: spurious pairs ride on few collisions, the
    // genuine pair's count towers over them — thresholding recovers truth
    val maxSpurious = collided.collect {
      case (p, n) if p != ((1L, 2L)) => n
    }.max
    assert(maxSpurious < 6L,
      s"spurious counts ($maxSpurious) should sit below the genuine 6")
    val thresholded = collided.filter { case (_, n) => n > maxSpurious }
    assert(thresholded.keySet == Set((1L, 2L)))
  }

  test("exactSubstringDedup removes claimed spans from higher ids, keeps the keeper intact") {
    val run = "one two three four five six seven eight"  // 8 tokens
    val d = Seq(
      (1L, s"keeper prefix $run keeper suffix"),
      (2L, s"thief leading words $run thief trailing words"),
      (3L, run),                                 // fully duplicated -> empty
      (4L, "nothing shared with anyone here")    // shorter than any window
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstringDedup(d, "doc_id", "text", windowTokens = 8)
      .select("doc_id", "clean_text", "n_total", "n_kept")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // doc 1 claims the run: untouched
    assert(out(1L)._2 == s"keeper prefix $run keeper suffix")
    assert(out(1L)._3 == out(1L)._4)
    // doc 2 loses exactly the 8 claimed tokens
    assert(out(2L)._2 == "thief leading words thief trailing words",
      s"got '${out(2L)._2}'")
    assert(out(2L)._3 == 14 && out(2L)._4 == 6)
    // doc 3 is nothing but the claimed run: survives as an EMPTY row
    assert(out(3L)._2 == "" && out(3L)._3 == 8 && out(3L)._4 == 0)
    // doc 4 has no 8-token window in common: untouched
    assert(out(4L)._2 == "nothing shared with anyone here" && out(4L)._4 == 5)
  }

  test("routed exact-substring: word path blind on CJK, routed path finds and cleans") {
    val run = "春眠不覚暁処処聞啼鳥夜来風雨声" // 15 ideographs
    val d = Seq(
      (1L, run + "花落知多少"),   // claims the run (min id)
      (2L, "床前明月光" + run),   // shares it — 8 char-8-windows
      (3L, "合成された日本語の試験文書であり漢字と仮名が混在している"), // disjoint CJK
      (4L, base),                              // spaced pair rides along:
      (5L, base + " extra tail words here")    // shares every base window
    ).toDF("doc_id", "text")
    val route = Some(Dedup.CharGramRouting())
    // word path: each CJK doc is ONE whitespace token -> no windows ->
    // the duplicated run is invisible (the q107 blindness)
    val blind = Dedup.exactSubstringPairs(d, "doc_id", "text",
        windowTokens = 8)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(!blind.contains((1L, 2L)), s"word path can't see char runs: $blind")
    assert(blind.contains((4L, 5L)), "word pair must be found either way")
    // routed: 8-code-point windows find the shared 15-char run (8 distinct
    // windows), nothing pairs with the disjoint doc, word pair unchanged
    val routedPairs = Dedup.exactSubstringPairs(d, "doc_id", "text",
        windowTokens = 8, route = route)
      .select("id_l", "id_r", "n_windows")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(routedPairs.get((1L, 2L)).contains(8L),
      s"15-char shared run = 8 distinct 8-windows: $routedPairs")
    assert(!routedPairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    val wordCount = Dedup.exactSubstringPairs(d, "doc_id", "text",
        windowTokens = 8)
      .where(col("id_l") === 4L && col("id_r") === 5L)
      .select("n_windows").as[Long].head()
    assert(routedPairs.get((4L, 5L)).contains(wordCount),
      "spaced-script pair counts must be bit-unchanged under routing")
    // APPLY: doc 1 (min id) claims the run and keeps everything; doc 2
    // loses exactly the covered code points and rejoins with NO separator
    val out = Dedup.exactSubstringDedup(d, "doc_id", "text",
        windowTokens = 8, route = route)
      .select("doc_id", "clean_text", "n_total", "n_kept")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 == run + "花落知多少" && out(1L)._3 == out(1L)._4)
    assert(out(2L)._2 == "床前明月光" && out(2L)._3 == 20 && out(2L)._4 == 5,
      s"doc 2 must keep only its unique prefix: ${out(2L)}")
    // n_total counts each doc's OWN token unit: code points when routed
    assert(out(3L)._3 == 28 && out(3L)._4 == 28)
    // incremental face: the standing index built WITH the route cleans
    // an arriving routed batch identically to the one-shot
    val idx = Dedup.exactSubstringWindows(d.where(col("doc_id") === 1L),
      "doc_id", "text", windowTokens = 8, route = route)
    // the probe derives windowing AND routing from the index itself
    val incr = Dedup.exactSubstringDedupAgainst(
        d.where(col("doc_id") === 2L), idx, "doc_id", "text")
      .select("clean_text").as[String].head()
    assert(incr == "床前明月光", s"incremental routed clean diverged: $incr")
  }

  test("exactSubstringDedupAgainst: incremental chain equals the one-shot run") {
    // three arrival slices with ascending ids; each batch cleans against
    // the windows of everything before it, and the index unions forward —
    // the result must equal the one-shot keep-first dedup restricted to
    // each slice (the contract that makes increments trustworthy)
    val rnd = new scala.util.Random(20260815L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox")
    val k = 3
    val corpus = (1L to 45L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(22))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val all = corpus.toDF("doc_id", "text")
    val oneShot = Dedup.exactSubstringDedup(all, "doc_id", "text", windowTokens = k)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    val slices = Seq(1L to 15L, 16L to 30L, 31L to 45L)
      .map(r => all.where(col("doc_id").between(r.head, r.last)))
    var idx = Dedup.exactSubstringWindows(slices.head, "doc_id", "text", k)
    for (batch <- slices.tail) {
      val cleaned = Dedup.exactSubstringDedupAgainst(batch, idx,
          "doc_id", "text")
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      cleaned.foreach { case (id, txt) =>
        assert(txt == oneShot(id), s"doc $id diverged from one-shot")
      }
      idx = idx.union(Dedup.exactSubstringWindows(batch, "doc_id", "text", k))
    }
    // a mismatched-params union fails loudly instead of silently
    // producing an index whose windows never equi-join
    intercept[IllegalArgumentException] {
      idx.union(Dedup.exactSubstringWindows(slices.head, "doc_id", "text", k + 1))
    }
    // persisted round trip carries the params (the four-screen state
    // family convention): identical probe results, loud mismatch at load.
    // The persisted index holds the FIRST TWO slices only — cleaning a
    // batch against an index containing its own windows removes all text
    val idxPrior = Dedup.exactSubstringWindows(slices(0), "doc_id", "text", k)
      .union(Dedup.exactSubstringWindows(slices(1), "doc_id", "text", k))
    val dir = TempDirs.make("graft_subidx").toString
    Dedup.saveSubstringIndex(idxPrior, dir)
    intercept[IllegalArgumentException] {
      Dedup.loadSubstringIndex(spark, dir, k + 1)
    }
    val loaded = Dedup.loadSubstringIndex(spark, dir, k)
      .getOrElse(fail("saved substring index not loadable"))
    val viaLoaded = Dedup.exactSubstringDedupAgainst(slices.last, loaded,
        "doc_id", "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    viaLoaded.foreach { case (id, txt) => assert(txt == oneShot(id)) }
    // the first slice is the founding corpus: one-shot must keep it intact
    // only where intra-slice duplication says so — cross-check via direct run
    val firstClean = Dedup.exactSubstringDedup(slices.head, "doc_id", "text", k)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    firstClean.foreach { case (id, txt) => assert(txt == oneShot(id)) }
  }

  test("exactSubstringDedup matches a reference model on seeded random corpora") {
    val rnd = new scala.util.Random(20260814L)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel")
    val k = 3
    val corpus = (1L to 40L).map { id =>
      id -> Seq.fill(3 + rnd.nextInt(28))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // reference model: each k-window claimed by its min doc id; every
    // covered position in a higher-id doc is dropped; survivors rejoined
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toVector }.toMap
    val keeper = scala.collection.mutable.Map.empty[String, Long]
    for ((id, ts) <- toks.toSeq.sortBy(_._1); w <- ts.sliding(k) if w.length == k) {
      val s = w.mkString(" ")
      keeper(s) = math.min(id, keeper.getOrElse(s, Long.MaxValue))
    }
    val expected = toks.map { case (id, ts) =>
      val covered = (0 to ts.length - k)
        .filter(i => keeper(ts.slice(i, i + k).mkString(" ")) < id)
        .flatMap(i => i until i + k).toSet
      val kept = ts.indices.filterNot(covered)
      id -> ((kept.map(ts).mkString(" "), ts.length.toLong, kept.size.toLong))
    }
    val got = Dedup.exactSubstringDedup(corpus.toDF("doc_id", "text"),
        "doc_id", "text", windowTokens = k)
      .select("doc_id", "clean_text", "n_total", "n_kept")
      .as[(Long, String, Long, Long)].collect()
      .map { case (id, c, t, kk) => id -> ((c, t, kk)) }.toMap
    assert(got.keySet == expected.keySet)
    val diverging = expected.keys.filter(id => got(id) != expected(id)).toSeq.sorted
    assert(diverging.isEmpty,
      diverging.take(3).map(id => s"doc $id: engine=${got(id)} model=${expected(id)}")
        .mkString("; "))
  }

  test("ngram jaccard pairs catch character-level near-dups") {
    // bands=8 (r=4) widens the recall curve for this lower threshold
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      n = 5, threshold = 0.5, bands = 8)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("embedding near-dup pairs via hyperplane LSH + cosine verify") {
    val rng = new scala.util.Random(3)
    val v1 = Array.fill(16)(rng.nextGaussian().toFloat)
    val v2 = v1.map(x => x + 0.01f * rng.nextGaussian().toFloat) // near-dup
    val v3 = Array.fill(16)(rng.nextGaussian().toFloat) // unrelated
    val df = Seq((1L, v1.toSeq), (2L, v2.toSeq), (3L, v3.toSeq))
      .toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "vec", dim = 16,
      threshold = 0.99, tables = 6, bits = 6)
      .select("id_l", "id_r").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("segmentDedup drops repeated segments and keeps document order") {
    // width=2 chunks: doc 1 = [a b, c d, e f]; doc 2 shares "a b" and
    // "e f" but not "c d"; doc 3 = only repeated segments -> empty text
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b x y e f"),
      (3L, "a b e f"),
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", width = 2, minCount = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "c d", 3L, 1L),
      (2L, "x y", 3L, 1L),
      (3L, "", 2L, 0L),
      (4L, "", 0L, 0L)))
  }

  test("segmentDedup reassembly identity: no frequent segments -> original text") {
    // globally-unique words guarantee no segment repeats, so every document
    // must round-trip exactly (modulo whitespace normalization)
    val rnd = new scala.util.Random(11)
    val docsIn = (1 to 40).map { i =>
      val words = (0 until 1 + rnd.nextInt(30)).map(j => s"w${i}x$j")
      (i.toLong, words.mkString(" "))
    }
    val out = Dedup.segmentDedup(docsIn.toDF("doc_id", "text"),
      "doc_id", "text", width = 8, minCount = 2)
      .orderBy("doc_id").select("clean_text").as[String].collect().toSeq
    assert(out == docsIn.map(_._2))
    // runs of whitespace delimit segments and reassembly single-spaces them
    val multi = Seq((1L, "a  b\tc")).toDF("doc_id", "text")
    val norm = Dedup.segmentDedup(multi, "doc_id", "text", width = 8, minCount = 2)
      .select("clean_text").as[String].head()
    assert(norm == "a b c")
  }

  test("semDedup: within-cell near-dups drop keep-first, cross-cell survive") {
    // two well-separated directions -> two cells under a 2-seed quantizer;
    // ids 1/2/3 are mutual near-dups in one cell (only min id survives),
    // id 10 is a near-dup of nothing, id 20 sits in the other cell
    val rows = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.999f, 0.01f, 0f, 0f)),
      (3L, Seq(0.998f, 0.02f, 0f, 0f)),
      (10L, Seq(0.7f, 0.7f, 0f, 0f)),   // same cell, cosine ~0.71 < 0.95
      (20L, Seq(0f, 0f, 1f, 0f)))
    val df = rows.toDF("vec_id", "embedding")
    val model = Ivf.portableSeedModel(df, "vec_id", "embedding", k = 2)
    val kept = Dedup.semDedup(df, "vec_id", "embedding", model, threshold = 0.95)
      .orderBy("vec_id").select("vec_id").as[Long].collect().toSeq
    assert(kept == Seq(1L, 10L, 20L))
    // exact duplicates of a kept id always drop regardless of cell shape
    val planted = df.union(Seq((99L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding"))
    val kept2 = Dedup.semDedup(planted, "vec_id", "embedding",
        Ivf.portableSeedModel(planted, "vec_id", "embedding", k = 2), threshold = 0.95)
      .select("vec_id").as[Long].collect().toSeq
    assert(!kept2.contains(99L) && kept2.contains(1L))
  }

  test("semDedupIncremental: drops vs corpus and vs earlier increment only") {
    val corpus = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val incoming = Seq(
      (10L, Seq(1f, 0f, 0f, 0f)),    // dup of corpus 1 -> drops
      (11L, Seq(0f, 1f, 0f, 0f)),    // novel -> kept
      (12L, Seq(0f, 1f, 0f, 0f)),    // dup of incoming 11 -> drops
      (13L, Seq(0.7f, 0.7f, 0f, 0f)) // near nothing at 0.95 -> kept
    ).toDF("vec_id", "embedding")
    val model = Ivf.portableSeedModel(corpus, "vec_id", "embedding", k = 2)
    val kept = Dedup.semDedupIncremental(corpus, incoming, "vec_id",
        "embedding", model, threshold = 0.95)
      .orderBy("vec_id").select("vec_id").as[Long].collect().toSeq
    assert(kept == Seq(11L, 13L))
  }

  test("segmentDedup below-threshold corpus passes through reassembled") {
    val df = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", width = 2, minCount = 2)
      .as[(Long, String, Long, Long)].collect().head
    assert(out == ((1L, "one two three four five", 3L, 3L)))
    intercept[IllegalArgumentException] {
      Dedup.segmentDedup(df, "doc_id", "text", width = 2, minCount = 1)
    }
  }

  test("bucketCapAudit surfaces exactly what the maxBucket guard drops") {
    // synthetic hot key: 12 identical docs share every band bucket (16
    // bands), 2 distinct docs sit alone — with maxBucket = 8 the audit
    // must name 16 buckets of size 12, each worth 12*11/2 dropped pairs
    val docs = ((1L to 12L).map(i =>
      (i, "the same boilerplate footer text appears on every page")) ++
      Seq((21L, "a genuinely unique document about alpine botany"),
        (22L, "another unique document entirely about deep sea mining")))
      .toDF("doc_id", "text")
    val audit = Dedup.bucketCapAudit(docs, "doc_id", "text", maxBucket = 8)
      .select("bucket_size", "pairs_dropped")
      .as[(Long, Long)].collect().toSeq
    assert(audit.size == 16 && audit.forall(_ == ((12L, 66L))), s"got $audit")
    // consistency: under the same cap the pairs those buckets carried are
    // gone from the join...
    assert(Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 8).isEmpty)
    // ...and with the cap above the hot size the audit is empty and the
    // pairs come back
    assert(Dedup.bucketCapAudit(docs, "doc_id", "text", maxBucket = 12).isEmpty)
    assert(Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5, maxBucket = 12).count() == 66L)
  }

  test("minhashDedupWithState equals the lazy dedup paths (one feature pass)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val mid = 250L
    val corpus = docs.where(col("doc_id") <= mid)
    val inc = docs.where(col("doc_id") > mid)
    // fresh-batch path == minhashDedup
    val freshState = Dedup.minhashState(corpus, "doc_id", "text")
    val freshGot = Dedup.minhashDedupWithState(corpus, freshState, None,
      "doc_id", threshold = 0.6).select("doc_id").as[Long].collect().sorted
    val freshWant = Dedup.minhashDedup(corpus, "doc_id", "text",
      threshold = 0.6).select("doc_id").as[Long].collect().sorted
    assert(freshGot.toSeq == freshWant.toSeq)
    // against-corpus path == minhashDedup over the id-ordered split: every
    // corpus id is below every increment id, so an increment doc drops iff
    // it pairs with a corpus doc or a smaller increment id
    val incState = Dedup.minhashState(inc, "doc_id", "text")
    val gotAgainst = Dedup.minhashDedupWithState(inc, incState,
      Some(freshState), "doc_id", threshold = 0.6)
      .select("doc_id").as[Long].collect().sorted
    val wantAgainst = Dedup.minhashDedup(docs, "doc_id", "text",
        threshold = 0.6)
      .where(col("doc_id") > mid).select("doc_id").as[Long].collect().sorted
    assert(gotAgainst.toSeq == wantAgainst.toSeq)
  }

  test("minhashState builds in one job and outlives its source") {
    val src = s"${TempDirs.make("graft_mh_lineage")}/docs"
    docs.coalesce(1).write.parquet(src)
    val df = spark.read.parquet(src)
    // a micro-batch's setting: AQE would add the bucket window's map stage
    val aqe = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (st, log) =
      try JobLog.of(spark)(
        Dedup.minhashState(df, "doc_id", "text"))
      finally aqe.fold(spark.conf.unset("spark.sql.adaptive.enabled"))(
        spark.conf.set("spark.sql.adaptive.enabled", _))
    assert(log.jobs == 1, "the bucket checkpoint, which materializes the sets")
    val listing = Files.walk(Paths.get(src))
    try listing.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally listing.close()
    val want = Dedup.minhashState(docs, "doc_id", "text")
    def rows(f: DataFrame) = f.collect().map(_.toString).sorted.toSeq
    assert(rows(st.sets) == rows(want.sets))
    assert(rows(st.buckets) == rows(want.buckets))
  }

  test("saveMinhashState refuses params other than the state's own") {
    val st = Dedup.minhashState(docs, "doc_id", "text")
    val dir = TempDirs.make("graft_mh_label").toString
    val e = intercept[IllegalArgumentException] {
      Dedup.saveMinhashState(st, dir, Dedup.MinhashParams(64, 8, 3))
    }
    assert(e.getMessage.contains(st.params.encoded))
    // nothing was committed under the wrong label
    assert(Dedup.loadMinhashState(spark, dir, st.params).isEmpty)
  }

  test("bucketCapAuditPortable: same telemetry contract under the md5 family") {
    // 9 identical docs share all 4 portable bands; 2 distinct docs sit
    // alone — with maxBucket = 4 the audit names 4 buckets of size 9
    val docs = ((1L to 9L).map(i =>
      (i, "the same boilerplate footer text appears on every page")) ++
      Seq((21L, "a genuinely unique document about alpine botany"),
        (22L, "another unique document entirely about deep sea mining")))
      .toDF("doc_id", "text")
    val audit = Dedup.bucketCapAuditPortable(docs, "doc_id", "text",
        numHashes = 8, bands = 4, maxBucket = 4)
      .select("bucket_size", "pairs_dropped")
      .as[(Long, Long)].collect().toSeq
    assert(audit.size == 4 && audit.forall(_ == ((9L, 36L))), s"got $audit")
    // above the hot size the audit is empty (the cap cost nothing)
    assert(Dedup.bucketCapAuditPortable(docs, "doc_id", "text",
      numHashes = 8, bands = 4, maxBucket = 9).isEmpty)
    // docs under shingleK tokens have no shingles and produce no buckets
    val tiny = Seq((1L, "too short"), (2L, "too short")).toDF("doc_id", "text")
    assert(Dedup.bucketCapAuditPortable(tiny, "doc_id", "text",
      numHashes = 8, bands = 4, maxBucket = 1).isEmpty)
  }

  test("savingsCard: per-cluster-size token accounting, min-id representative kept") {
    // docs 1,2,3 are one near-dup cluster (identical long text, 6 tokens
    // each); 4 and 5 are singletons (distinct texts)
    val stamp = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, stamp), (2L, stamp), (3L, stamp),
      (4L, "one completely different document right here tonight"),
      (5L, "and another unrelated text body entirely again")
    ).toDF("doc_id", "text")
    val out = Dedup.savingsCard(docs, "doc_id", "text", threshold = 0.6)
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // size 1: docs 4 and 5 (7 tokens each): total 14, kept 14, saved 0
    // size 3: 18 total, kept 6 (doc 1), saved 12
    assert(out == Seq(
      (1L, 2L, 14L, 14L, 0L),
      (3L, 1L, 18L, 6L, 12L)))
  }

  test("savingsCard: null text counts zero tokens; all-singleton corpus saves nothing") {
    val docs = Seq(
      (1L, "some words here tonight friend"),
      (2L, null.asInstanceOf[String]),
      (3L, "other words there yesterday stranger")).toDF("doc_id", "text")
    val out = Dedup.savingsCard(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 10L, 10L, 0L)))
  }

  test("savingsCard: pluggable token counter swaps the card's currency") {
    // same clusters as the accounting spec, counted in characters instead
    // of whitespace tokens — the q156 pluggable-counter contract extended
    // to the savings card; cluster structure must be unchanged
    val stamp = "alpha beta gamma delta epsilon zeta" // 35 chars
    val docs = Seq(
      (1L, stamp), (2L, stamp), (3L, stamp),
      (4L, "one completely different document right here tonight"), // 52
      (5L, "and another unrelated text body entirely again")        // 46
    ).toDF("doc_id", "text")
    val out = Dedup.savingsCard(docs, "doc_id", "text", threshold = 0.6,
        tokenCounter = Some(length(col("text"))))
      .orderBy("cluster_size")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 98L, 98L, 0L),        // 52 + 46 chars, both kept
      (3L, 1L, 105L, 35L, 70L)))     // 3 x 35 chars, one stamp kept
  }

  test("softDedupWeights: every doc kept, weight = 1/cluster size") {
    // docs 1-3 share one shingle set (2 exact, 1 case-variant — tokens
    // lowercase, so jaccard is exactly 1.0 and the LSH collision is
    // structural, not probabilistic); 4 and 5 are singletons
    val d = Seq(
      (1L, "alpha bravo charlie delta echo"),
      (2L, "alpha bravo charlie delta echo"),
      (3L, "Alpha BRAVO charlie delta echo"),
      (4L, "totally different words here now"),
      (5L, "unrelated content again entirely")).toDF("doc_id", "text")
    val w = Dedup.softDedupWeights(d, "doc_id", "text", threshold = 0.6)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(w.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L)) // nothing dropped
    val cluster = w.filter(_._2 == 1L)
    assert(cluster.map(_._1).toSet == Set(1L, 2L, 3L))
    assert(cluster.forall(r => r._3 == 3L && r._4 == 0.333333))
    assert(w.filter(_._1 >= 4L).forall(r =>
      r._2 == r._1 && r._3 == 1L && r._4 == 1.0))
    // cluster-equivalents: weights sum to the number of clusters
    assert(math.abs(w.map(_._4).sum - 3.0) < 1e-5)
  }

  test("paragraphDedup: keep-first across documents, reassembly in order") {
    val d = Seq(
      (1L, "unique one. shared footer. another unique"),
      (2L, "unique two. shared footer"),
      (3L, "Shared Footer. unique three")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      // doc 1 owns the first occurrence of the footer
      (1L, "unique one. shared footer. another unique", 3L, 3L),
      (2L, "unique two", 2L, 1L),
      // normalization: "Shared Footer" collides with "shared footer"
      (3L, "unique three", 2L, 1L)))
  }

  test("paragraphDedup: all-dropped doc stays with empty text and n_kept 0") {
    val d = Seq(
      (1L, "only segment"),
      (2L, "only segment"),
      (3L, "only segment. only segment")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "only segment", 1L, 1L),
      (2L, "", 1L, 0L),
      (3L, "", 2L, 0L)))
  }

  test("paragraphDedup: dropAboveCount removes frequent lines everywhere") {
    val d = Seq(
      (1L, "body a. cookie banner"),
      (2L, "body b. cookie banner"),
      (3L, "body c. cookie banner"),
      (4L, "body d. twice line"),
      (5L, "body e. twice line")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text",
        dropAboveCount = Some(2L))
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      // 3 copies > 2: the banner drops even at its first occurrence
      (1L, "body a", 2L, 1L),
      (2L, "body b", 2L, 1L),
      (3L, "body c", 2L, 1L),
      // exactly 2 copies <= 2: keep-first applies as usual
      (4L, "body d. twice line", 2L, 2L),
      (5L, "body e", 2L, 1L)))
  }

  test("paragraphDedup: dropAboveCount with priorSeenHashes is rejected " +
      "loudly (per-increment frequency would silently keep boilerplate)") {
    val d = Seq((1L, "body a. cookie banner")).toDF("doc_id", "text")
    val prior = Seq("00" * 16).toDF("seg_h")
    val ex = intercept[IllegalArgumentException] {
      Dedup.paragraphDedup(d, "doc_id", "text",
        dropAboveCount = Some(2L), priorSeenHashes = Some(prior))
    }
    assert(ex.getMessage.contains("PER-INCREMENT"), ex.getMessage)
    // each mode alone stays valid
    assert(Dedup.paragraphDedup(d, "doc_id", "text",
      dropAboveCount = Some(2L)).count() == 1L)
    assert(Dedup.paragraphDedup(d, "doc_id", "text",
      priorSeenHashes = Some(prior)).count() == 1L)
  }

  test("paragraphDedup: a doc whose text is ONLY separators still appears " +
      "with empty text and zero counts (complete accounting)") {
    val d = Seq(
      (1L, "real content"),
      (2L, ". "),
      (3L, "")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "real content", 1L, 1L),
      (2L, "", 0L, 0L),
      (3L, "", 0L, 0L)))
  }

  test("paragraphDedup: empty segments from separator runs don't shift order") {
    // "a. . b" splits to ("a", "", "b") — the empty segment is filtered
    // but ordinals stay raw, so reassembly order and keep-first order
    // both survive
    val d = Seq(
      (1L, "alpha. . beta"),
      (2L, "beta. alpha")).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, "alpha. beta", 2L, 2L),
      (2L, "", 2L, 0L)))
  }
}
