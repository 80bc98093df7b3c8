package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftspec.JobLog

import graft.{SparkSpec, TempDirs}
import graft.ext.Dedup

class CorpusStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
    "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
    "uniform victor whiskey xray"
  // B = base with one early word changed; C = B with one late word changed.
  // At 3-shingles: j(A,B) ~ j(B,C) ~ 0.76 >= 0.7, j(A,C) ~ 0.57 < 0.7 —
  // the chain case where survivor-only indexing would leak C through.
  private val docA = base
  private val docB = base.replace("charlie", "changed")
  private val docC = docB.replace("victor", "different")

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = TempDirs.make("graft_cs_spec")
    val p = s"$dir/docs"
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(p)
    p
  }

  test("streamed survivors equal the one-shot batch dedup, chains included") {
    val rows = Seq((1L, docA), (2L, docB), (3L, docC),
      (4L, "an entirely unrelated document about storage engines and " +
        "buffer pools with write ahead logging"))
    val path = writeDocs(rows)
    val batchResult = Dedup.minhashDedup(rows.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    // cut so the chain straddles the boundary: {1,2} then {3,4}
    val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", cuts = Seq(3L))
    val streamed = CorpusStreams.corpusDedupStreaming(spark, staged,
      "doc_id", "text", threshold = 0.7)
      .as[Long].collect().toSet
    assert(batchResult == Set(1L, 4L),
      s"precondition: chain must collapse to its min id, got $batchResult")
    assert(streamed == batchResult,
      "streamed dedup must be batch-boundary-invariant: C pairs with the " +
        "DROPPED doc B from the previous batch and must still be dropped")
  }

  test("streamed paragraph dedup equals the one-shot keep-first screen " +
      "across a boundary-straddling duplicate") {
    // the shared footer's first occurrence is doc 1 (batch 1); docs 3 and
    // 4 arrive in batch 2 and must drop it through the cross-batch state,
    // while doc 3's unique body survives. Doc 4 is all-duplicates and
    // must come back empty with the accounting intact.
    val rows = Seq(
      (1L, "unique one. shared footer"),
      (2L, "unique two. shared footer"),
      (3L, "unique three. shared footer"),
      (4L, "shared footer. unique two"))
    val batch = Dedup.paragraphDedup(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(batch == Seq(
      (1L, "unique one. shared footer", 2L, 2L),
      (2L, "unique two", 2L, 1L),
      (3L, "unique three", 2L, 1L),
      (4L, "", 2L, 0L)),
      s"precondition: one-shot keep-first shape, got $batch")
    val staged = CorpusStreams.stageIdSlices(spark, writeDocs(rows),
      "doc_id", cuts = Seq(3L))
    val streamed = CorpusStreams.paragraphDedupStreaming(spark, staged,
        "doc_id", "text", "graft_spec_segdedup")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(streamed == batch,
      "streamed keep-first must equal the one-shot screen: batch 2's " +
        "footer copies pair with state from batch 1")
  }

  test("paragraph dedup stateDir resume: two separate runs equal the " +
      "one-shot screen, and a sepPattern mismatch is loud") {
    val rows = Seq(
      (1L, "unique one. shared footer"),
      (2L, "unique two. shared footer"),
      (3L, "shared footer. unique three"))
    val oneShot = Dedup.paragraphDedup(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    val stateDir = TempDirs.make("graft_seg_state").toString
    // run 1 ingests {1,2}; run 2 is a NEW invocation ingesting {3} that
    // must see run 1's footer only through the persisted state
    val run1 = CorpusStreams.paragraphDedupStreaming(spark,
      CorpusStreams.stageIdSlices(spark, writeDocs(rows.take(2)),
        "doc_id", Seq(2L)),
      "doc_id", "text", "graft_spec_seg_r1", stateDir = Some(stateDir))
      .as[(Long, String, Long, Long)].collect().toSeq
    val run2 = CorpusStreams.paragraphDedupStreaming(spark,
      CorpusStreams.stageIdSlices(spark, writeDocs(rows.drop(2)),
        "doc_id", Seq.empty),
      "doc_id", "text", "graft_spec_seg_r2", stateDir = Some(stateDir))
      .as[(Long, String, Long, Long)].collect().toSeq
    assert((run1 ++ run2).sortBy(_._1) == oneShot,
      "resumed ingest must equal the one-shot keep-first screen")
    // loud mismatch: a different split pattern must fail, not silently
    // treat every seen segment as fresh
    val err = intercept[IllegalArgumentException] {
      Dedup.loadParagraphState(spark, stateDir, sepPattern = "\n")
    }
    assert(err.getMessage.contains("paragraph-dedup state"))
  }

  test("streamed ANN probe equals the batch probe for any batch cut") {
    import graft.ext.{AnnIndex, Ivf, Pq}
    val corpus = (0 until 40).map { i =>
      (i.toLong,
        Seq(1.0 + i % 5, 2.0 + (i * 3) % 7, 3.0 + (i * 5) % 11, 1.0 + i % 3))
    }.toDF("vec_id", "embedding")
    val queries = (0 until 6).map { i =>
      (1000L + i,
        Seq(1.5 + i % 4, 2.5 + (i * 2) % 5, 3.5 + (i * 7) % 9, 1.5 + i % 2))
    }
    val idx = AnnIndex.build(corpus, "vec_id", "embedding",
      Ivf.portableSeedModel(corpus, "vec_id", "embedding", k = 4),
      Pq.portableSeedCodebooks(corpus, "vec_id", "embedding", m = 2, c = 4))
    val batch = AnnIndex.probe(idx, queries.toDF("vec_id", "embedding"),
        "embedding", "vec_id", k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val qDir = TempDirs.make("graft_cs_ann")
    val qPath = s"$qDir/queries"
    queries.toDF("vec_id", "embedding").coalesce(1).write.parquet(qPath)
    val staged = CorpusStreams.stageIdSlices(spark, qPath, "vec_id",
      cuts = Seq(1002L, 1004L))
    val streamed = CorpusStreams.annProbeStreaming(spark, staged,
        "vec_id", "embedding", idx, "graft_spec_annprobe", k = 3, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(batch.nonEmpty && streamed == batch,
      "streamed probe must equal the batch probe: the state is frozen " +
        "and each query's top-k is row-local")

    // refined face: same invariance argument — the SQ8 refine stage reads
    // only the state's persisted codes, so streamed == batch verbatim
    val ridx = AnnIndex.withRefine(idx, corpus, "vec_id", "embedding",
      refineDim = 4)
    val rbatch = AnnIndex.probeRefined(ridx,
        queries.toDF("vec_id", "embedding"), "embedding", "vec_id",
        k = 3, nProbe = 2, widen = 2)
      .as[(Long, Long, Double, Int)].collect().toSet
    val rstreamed = CorpusStreams.annProbeStreaming(spark, staged,
        "vec_id", "embedding", ridx, "graft_spec_rannprobe", k = 3,
        nProbe = 2, refineWiden = Some(2))
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(rbatch.nonEmpty && rstreamed == rbatch,
      "streamed REFINED probe must equal the batch probeRefined: the " +
        "refine tier is frozen persisted state, as row-local as the probe")
    // a refine-less state must fail at WIRING time (before any stream
    // machinery starts), not per-batch
    val err = intercept[IllegalArgumentException] {
      CorpusStreams.annProbeStreaming(spark, staged, "vec_id", "embedding",
        idx, "graft_spec_rannprobe_bad", k = 3, nProbe = 2,
        refineWiden = Some(2))
    }
    assert(err.getMessage.contains("refine"),
      s"wiring-time guard must name the missing refine tier: $err")
  }

  test("stateDir resume: two separate runs equal the one-shot dedup (restartable ingest)") {
    val rows = Seq((1L, docA), (2L, docB), (3L, docC),
      (4L, "an entirely unrelated document about storage engines and " +
        "buffer pools with write ahead logging"))
    val oneShot = Dedup.minhashDedup(rows.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet
    val stateDir = TempDirs.make("graft_cs_state").toString
    // run 1 ingests {1,2}; run 2 is a NEW invocation (fresh staged dir)
    // ingesting {3,4} — it must see run 1's corpus only through stateDir.
    // The chain (3 dups 2, not 1) proves the reloaded index carries ALL
    // seen docs, not just run 1's survivors.
    val run1 = CorpusStreams.corpusDedupStreaming(spark,
      CorpusStreams.stageIdSlices(spark, writeDocs(rows.take(2)), "doc_id", Seq(2L)),
      "doc_id", "text", threshold = 0.7, stateDir = Some(stateDir))
      .as[Long].collect().toSet
    val run2 = CorpusStreams.corpusDedupStreaming(spark,
      CorpusStreams.stageIdSlices(spark, writeDocs(rows.drop(2)), "doc_id", Seq(4L)),
      "doc_id", "text", threshold = 0.7, stateDir = Some(stateDir))
      .as[Long].collect().toSet
    assert((run1 ++ run2) == oneShot,
      s"resumed runs ($run1 ++ $run2) must equal the one-shot result $oneShot")
  }

  test("one batch against a saved state runs 8 Spark jobs") {
    val rows = Seq((1L, docA), (2L, docB), (3L, docC),
      (4L, "an entirely unrelated document about storage engines and " +
        "buffer pools with write ahead logging"))
    val stateDir = TempDirs.make("graft_cs_jobs").toString
    val base = Dedup.minhashState(rows.take(2).toDF("doc_id", "text"), "doc_id", "text")
    Dedup.saveMinhashState(base, stateDir, base.params)
    val staged = CorpusStreams.stageIdSlices(spark, writeDocs(rows.drop(2)), "doc_id", Nil)
    val sink = s"${TempDirs.make("graft_cs_jobs_sink")}/sink"
    val (survivors, log) = JobLog.of(spark) {
      CorpusStreams.corpusDedupStreaming(spark, staged, "doc_id", "text",
        threshold = 0.7, sinkDir = Some(sink), stateDir = Some(stateDir),
        batchAdaptive = Some(false), shufflePartitions = Some(1))
    }
    // 1: the increment's minhash state (the bucket checkpoint, which
    //    materializes the lazily checkpointed sets);
    // 2-5: the broadcast exchanges of the intra-batch and cross-state
    //    verify joins;
    // 6: the survivor append to the sink;
    // 7-8: the save's `sets` and `buckets` writes.
    // No job reads a schema: the staged dir, the two state parts and the
    // sink are read with the schema in their footers.
    assert(log.jobs == 8, s"stages: ${log.stages.map(_.name)}")
    assert(survivors.as[Long].collect().toSet == Set(4L))
  }

  test("an empty micro-batch is harmless") {
    val rows = Seq((1L, docA), (2L, docB))
    val path = writeDocs(rows)
    // cut above every id: second slice is an empty file/batch
    val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", cuts = Seq(100L))
    val streamed = CorpusStreams.corpusDedupStreaming(spark, staged,
      "doc_id", "text", threshold = 0.7)
      .as[Long].collect().toSet
    assert(streamed == Set(1L))
  }

  test("streamed LM scoring equals the batch score for any batch cut") {
    import graft.ext.NgramLm
    val ref = Seq((1L, "a b a b c a")).toDF("doc_id", "text")
    val model = NgramLm.fit(ref, "text", maxBigrams = 100)
    val target = (10 to 29).map(i => (i.toLong, s"a b c x$i a b")).toSeq
    val path = writeDocs(target)
    val batchScore = NgramLm.score(target.toDF("doc_id", "text"),
      "doc_id", "text", model)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
    for (cuts <- Seq(Seq(15L), Seq(12L, 24L))) {
      val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", cuts)
      val streamed = CorpusStreams.lmScoreStreaming(spark, staged,
        "doc_id", "text", model, shufflePartitions = Some(4))
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSeq
      assert(streamed == batchScore, s"cuts=$cuts")
    }
  }

  test("streamed classifier scores equal the batch scorer for any batch cut") {
    import graft.functions.text
    // a FITTED weight table (not the fixed fixture table) drives the
    // stream — the fit -> ingest-filter loop the operator exists for
    val labeled = ((1 to 10).map(i => (i.toLong, "quasar nebula photon", 1)) ++
      (1 to 10).map(i => ((10 + i).toLong, "turnip carrot potato", 0)))
      .toDF("doc_id", "text", "y")
    val (w, bias) = graft.ext.Classifier.fit(labeled, "text", "y",
      buckets = 512, rounds = 3)
    val target = (10 to 29).map(i =>
      (i.toLong, if (i % 2 == 0) s"quasar photon x$i" else s"carrot turnip x$i"))
    val path = writeDocs(target)
    val batch = target.toDF("doc_id", "text")
      .select($"doc_id", text.hashedLinearScore($"text", w, bias).as("score"))
      .withColumn("label", when($"score" >= 0, "keep").otherwise("drop"))
      .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
    for (cuts <- Seq(Seq(15L), Seq(12L, 24L))) {
      val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", cuts)
      val streamed = CorpusStreams.classifierScoreStreaming(spark, staged,
        "doc_id", "text", w, bias, s"clf_spec_${cuts.mkString("_")}",
        shufflePartitions = Some(4))
        .orderBy("doc_id").as[(Long, Long, String)].collect().toSeq
      assert(streamed == batch, s"cuts=$cuts")
    }
    // and the fitted gate actually separates the two streams of content
    assert(batch.forall { case (id, _, lbl) =>
      lbl == (if (id % 2 == 0) "keep" else "drop") })
  }

  test("streamed AUC monitor equals the batch readout for any batch cut") {
    import graft.ops.Profile
    // two groups with opposite separation so the AUC actually varies
    val rows = (0 until 24).map { i =>
      val grp = if (i % 2 == 0) "g1" else "g2"
      val pos = i % 3 == 0
      val txt = if (pos ^ (grp == "g2")) s"quasar nebula x$i" else s"turnip carrot x$i"
      (i.toLong, grp, txt, if (pos) 1 else 0)
    }
    val df = rows.toDF("doc_id", "grp", "text", "y")
    val (w, bias) = graft.ext.Classifier.nbModel(
      graft.ext.Classifier.suffStats(df, "text", "y", buckets = 512),
      buckets = 512)
    // the monitor's contract: binned mid-rank AUC — the batch comparator
    // applies the SAME clamped bin to the scored frame, then aucExact
    val scored = df.select($"grp", $"y",
      CorpusStreams.clampedScoreBucket(
        graft.ext.Classifier.nbScoreColumn($"text", w, bias, 512),
        width = 250L, maxAbsBucket = 400).as("score"))
    val batch = Profile.aucExact(scored, Seq("grp"), "score", $"y" === 1)
      .orderBy("grp")
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    val dir = TempDirs.make("graft_auc_spec")
    df.coalesce(1).write.parquet(s"$dir/docs")
    for (cuts <- Seq(Seq(9L), Seq(6L, 17L))) {
      val staged = CorpusStreams.stageIdSlices(spark, s"$dir/docs", "doc_id", cuts)
      val streamed = CorpusStreams.classifierAucStreaming(spark, staged,
        "text", w, bias, "grp", $"y" === 1,
        s"auc_spec_${cuts.mkString("_")}", buckets = 512,
        shufflePartitions = Some(4))
        .orderBy("grp")
        .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
      assert(streamed == batch, s"cuts=$cuts")
    }
  }

  test("AUC monitor state is bounded by bins, not by score spread") {
    import graft.ops.Profile
    // scores spanning six orders of magnitude, every one distinct: the
    // raw distinct-score state would be n rows; the clamped bin keeps it
    // at <= 2*maxAbs + 1 per group no matter the spread
    val wild = (0 until 500).map { i =>
      val s = (if (i % 2 == 0) 1L else -1L) * (i.toLong * i * i * 17 + i)
      (if (i % 3 == 0) "a" else "b", s, i % 2 == 0)
    }.toDF("grp", "score", "pos")
    val binned = wild.select($"grp",
      CorpusStreams.clampedScoreBucket($"score", width = 250L,
        maxAbsBucket = 400).as("score"), $"pos")
    val state = Profile.aucCounts(binned, Seq("grp"), "score", $"pos")
    val perGroup = state.groupBy("grp").count()
      .as[(String, Long)].collect().toMap
    assert(wild.select("score").distinct().count() == 500) // spread is real
    assert(perGroup.values.forall(_ <= 801L),
      s"state rows per group exceeded the 2*400+1 bin bound: $perGroup")
    // saturation: scores beyond +-(400*250) clamp to the edge bins
    val edges = binned.agg(min($"score"), max($"score"))
      .as[(Long, Long)].collect().head
    assert(edges == ((-400L, 400L)))
    // and the binned AUC still ranks a separable corpus correctly
    val auc = Profile.aucFromCounts(state, Seq("grp"))
      .where($"grp" === "a").select($"auc").as[Option[Double]]
      .collect().head
    assert(auc.exists(a => a > 0.5)) // positives got the positive scores
  }

  test("state audit: unbounded-key stream trips the cap, bounded monitors stay quiet") {
    // UNBOUNDED key space: every document contributes fresh unique
    // tokens, so the token-drift monitor's state (one row per distinct
    // token) grows with the corpus — exactly what the bounded designs
    // exist to prevent, and what the audit must catch LOUDLY
    val unbounded = (1L to 40L).map(i =>
      (i, (0 until 25).map(j => s"uniq_${i}_$j").mkString(" ")))
    val path = writeDocs(unbounded)
    val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", Seq(20L))
    val baseline = Seq((1L, "stable baseline words")).toDF("doc_id", "text")
    val tripName = s"audit_trip_${System.nanoTime()}"
    val ex = intercept[IllegalStateException] {
      CorpusStreams.tokenDriftStreaming(spark, staged, "text", baseline,
        "text", k = 5, queryName = tripName,
        shufflePartitions = Some(2), maxStateRows = 50L)
    }
    assert(ex.getMessage.contains("state grew") &&
      ex.getMessage.contains("maxStateRows"), ex.getMessage)
    // the breach must RELEASE the memory sink (round-16 self-review:
    // the audit runs before the drain, so throwing without dropping the
    // temp view would pin the streamed aggregate on the driver forever)
    assert(!spark.catalog.tableExists(tripName),
      s"breached monitor leaked its memory sink view $tripName")
    // BOUNDED designs pass their declared caps quietly on the same
    // corpus: HLL registers (groups x 2^p) and the one-row MG summary
    val hll = (1L to 40L).map(i => (i, s"g${i % 3}", s"u$i"))
      .toDF("doc_id", "grp", "uid")
    val hdir = TempDirs.make("graft_audit_hll")
    hll.coalesce(1).write.parquet(s"$hdir/t")
    val hstaged = CorpusStreams.stageIdSlices(spark, s"$hdir/t", "doc_id",
      Seq(20L))
    val regs = CorpusStreams.hllRegistersStreaming(spark, hstaged, "grp",
      "uid", s"audit_hll_${System.nanoTime()}", p = 4,
      shufflePartitions = Some(2), maxStateRows = 3L * 16L)
    assert(regs.count() > 0)
    val hh = CorpusStreams.heavyHittersStreaming(spark, staged, "text",
      minShare = 0.2, k = 8, s"audit_hh_${System.nanoTime()}",
      shufflePartitions = Some(2), maxStateRows = 1L)
    assert(hh.collect() != null) // one MG summary row — the tightest cap
  }

  test("state audit reads ENGINE numbers and the byte cap trips on them " +
    "(r16 verdict #5) — RocksDB included") {
    // bounded monitor with a known exact state size: 3 groups x 2^4
    // HLL register rows — the engine-reported numRowsTotal must equal
    // the row count the drained sink frame shows (estimate == engine on
    // a Complete-mode aggregate), and memoryUsedBytes must be a real
    // store-reported positive number under BOTH providers
    val docs = (1L to 40L).map(i => (i, s"g${i % 3}", s"u$i"))
      .toDF("doc_id", "grp", "uid")
    val dir = TempDirs.make("graft_audit_engine")
    docs.coalesce(1).write.parquet(s"$dir/t")
    val staged = CorpusStreams.stageIdSlices(spark, s"$dir/t", "doc_id",
      Seq(20L))
    for (rocksdb <- Seq(false, true)) {
      EventStreams.lastStateAudit = None
      val regs = CorpusStreams.hllRegistersStreaming(spark, staged, "grp",
        "uid", s"audit_eng_${rocksdb}_${System.nanoTime()}", p = 4,
        shufflePartitions = Some(2), rocksdbState = rocksdb)
      val audit = EventStreams.lastStateAudit.getOrElse(
        fail(s"no audit recorded (rocksdb=$rocksdb)"))
      // the record is stamped with its monitor — a stale record from
      // another monitor can't be silently read as this one's
      assert(audit.what == "hll-registers monitor", audit.what)
      // engine-reported rows == the drained frame's rows: the store's
      // own numRowsTotal, not a size estimated from the sink
      assert(audit.rows == regs.count(),
        s"engine rows ${audit.rows} != drained ${regs.count()} (rocksdb=$rocksdb)")
      assert(audit.bytes > 0L,
        s"provider (rocksdb=$rocksdb) reported no state bytes — the byte " +
          "cap would be dead under this provider")
      // the byte cap trips on the ENGINE number under this provider
      val ex = intercept[IllegalStateException] {
        CorpusStreams.hllRegistersStreaming(spark, staged, "grp", "uid",
          s"audit_engcap_${rocksdb}_${System.nanoTime()}", p = 4,
          shufflePartitions = Some(2), rocksdbState = rocksdb,
          maxStateBytes = 1L)
      }
      assert(ex.getMessage.contains("store-reported bytes") &&
        ex.getMessage.contains("maxStateBytes"), ex.getMessage)
    }
  }

  test("streamed heavy hitters equal the batch operator across batch cuts") {
    // zipf-ish corpus: token-i appears ~60/i times across the docs
    val words = (1 to 30).flatMap(i => Seq.fill(60 / i)(s"tok$i"))
    val rows = scala.util.Random.shuffle(words).grouped(25).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }.toSeq
    val path = writeDocs(rows)
    val batch = graft.ext.HeavyHitters.frequentItems(
      rows.toDF("doc_id", "text")
        .select(explode(graft.functions.text.tokens(col("text"))).as("token")),
      col("token"), minShare = 0.05, k = 64, itemName = "token")
      .as[(String, Long)].collect().toMap
    assert(batch.nonEmpty) // the fixture must actually have heavy hitters
    for (cuts <- Seq(Seq(3L), Seq(2L, 5L))) {
      val staged = CorpusStreams.stageIdSlices(spark, path, "doc_id", cuts)
      val streamed = CorpusStreams.heavyHittersStreaming(spark, staged,
        "text", minShare = 0.05, k = 64,
        queryName = s"hh_spec_${cuts.size}", shufflePartitions = Some(4))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch, s"cuts=$cuts")
    }
  }
}
