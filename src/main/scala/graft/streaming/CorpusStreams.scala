package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ext.Dedup
import graft.io.LibraryParquet

/** Continuous corpus ingestion with streaming near-duplicate removal: each
  * micro-batch of documents is deduplicated against the standing corpus
  * index (and itself) with [[Dedup.minhashDedupWithState]], then the batch is
  * added to the index — the streaming shape of the daily-increment workflow.
  *
  * Design invariant (batch-boundary invariance): the index accumulates the
  * signatures of every SEEN document, survivors and dropped alike. Indexing
  * only survivors would let content chains leak through batch boundaries
  * (B dropped against A in batch 1; C, a near-dup of B but not of A, then
  * survives batch 2) and would make the result depend on where the stream
  * was cut. With all seen documents indexed, "drop x iff it pairs with any
  * earlier-seen or smaller-id document" holds regardless of batching — the
  * streamed result equals the one-shot canonical-min-id batch dedup, which
  * is what makes this operator oracle-checkable at all.
  *
  * Scale: per batch, only the increment is shingled/signed (the index is
  * never rescanned); index frames are localCheckpoint'ed so lineage stays
  * flat over unbounded streams; survivors are written to a parquet file
  * sink per batch (a distributed executor-side write — ids never pass
  * through the driver), so the only driver-side state is the index
  * DataFrame handles. With `stateDir` the index also persists between
  * runs: [[corpusDedupStreaming]] loads it at start and saves it at the
  * end through the crash-safe [[graft.io.StateStore]].
  */
object CorpusStreams {

  /** Batches between collapses of a streamed dedup's accumulated state
    * into fresh checkpointed leaves: the union tree's plan depth, and so
    * the per-batch analysis cost, stays bounded by this constant.
    */
  private val CollapseEvery = 8

  /** Stage a parquet table as an ordered sequence of single-file batches cut
    * at `cuts` (exclusive upper bounds) of `idCol`: batch i holds rows in
    * [cuts(i-1), cuts(i)). File mod-times are set strictly increasing so the
    * file stream source (which orders by timestamp) replays the batches
    * deterministically.
    */
  def stageIdSlices(
      spark: SparkSession, path: String, idCol: String,
      cuts: Seq[Long]): String = {
    require(cuts == cuts.sorted && cuts.distinct == cuts, "cuts must be strictly increasing")
    val dir = Files.createTempDirectory("graft_corpus_stream")
    dir.toFile.deleteOnExit()
    val df = LibraryParquet.read(spark, path)
    val bounds = (Long.MinValue +: cuts).zip(cuts :+ Long.MaxValue)
    val base = System.currentTimeMillis()
    // the slice writes are INDEPENDENT one-task jobs over the same source;
    // run sequentially each pays full scheduling latency while 31 cores
    // idle — submit them from a small pool so they overlap (guide §2.6).
    // Determinism is untouched: each slice's content depends only on its
    // bounds, targets are distinct paths, and the replay-ordering
    // mod-times are assigned by INDEX, not by completion order.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, bounds.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val writes = bounds.zipWithIndex.map { case ((lo, hi), i) =>
        scala.concurrent.Future {
          val tmp = dir.resolve(s"w$i")
          df.where(col(idCol) >= lo && col(idCol) < hi)
            .coalesce(1).write.parquet(tmp.toString)
          val part = {
            val listing = Files.list(tmp)
            try {
              import scala.jdk.CollectionConverters._
              listing.iterator().asScala
                .find(_.getFileName.toString.endsWith(".parquet"))
                .getOrElse(throw new IllegalStateException(s"no parquet part in $tmp"))
            } finally listing.close()
          }
          val target = dir.resolve(f"batch_$i%04d.parquet")
          Files.move(part, target)
          StagedStream.deleteTree(tmp)
          Files.setLastModifiedTime(target, FileTime.fromMillis(base + i * 2000L))
          target.toFile.deleteOnExit()
        }
      }
      writes.foreach(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    dir.toString
  }

  /** Run the streaming dedup over a staged batch directory (one micro-batch
    * per file, in mod-time order) and return the surviving document ids.
    * The result equals `Dedup.minhashDedup` over the full input — asserted
    * in `CorpusStreamsSpec` and, via q21's shared SQL oracle, in the
    * correctness gate.
    *
    * Survivor ids are appended to a parquet sink per batch and the returned
    * DataFrame reads that sink back — no per-document state ever lives on
    * the driver, so the operator's driver footprint is O(1) in corpus size.
    * `sinkDir` defaults to a session-temp directory; pass a durable path to
    * keep the survivor log across runs.
    *
    * `stateDir` makes the run RESUMABLE: the index loads from a prior
    * [[Dedup.saveMinhashState]] at start (absent/partial state = fresh
    * start) and saves back at termination, so a later invocation dedups its
    * batches against everything every earlier run saw — the restartable
    * daily-ingest shape, asserted batch-boundary-invariant in
    * `CorpusStreamsSpec`.
    *
    * `checkpointDir` adds SOURCE-progress resumability on top: Spark's
    * streaming checkpoint records which staged files each committed batch
    * consumed, so a restarted run (same staged dir + checkpoint + sinkDir +
    * stateDir) skips everything already committed instead of re-deduping
    * it — pass all three for the full restart story.
    *
    * Spark jobs, with `batchAdaptive = Some(false)`: per micro-batch, one
    * to build its [[Dedup.minhashState]], one per broadcast exchange of
    * the verify joins (4 against a loaded state) and one for the sink
    * append; then one per saved part (2). No job reads a schema: the
    * staged dir, the loaded state and the sink are read with the schema
    * stored in their footers ([[graft.io.LibraryParquet]]). One batch
    * against a saved state runs 8 (asserted in `CorpusStreamsSpec`).
    */
  def corpusDedupStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 1000,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      stateDir: Option[String] = None,
      checkpointDir: Option[String] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val params = Dedup.MinhashParams(numHashes, bands, shingleK)
    // `state` is written from the micro-batch thread and read from the
    // caller thread after the query finishes — synchronize on `stateLock`
    // explicitly rather than relying on the termination happens-before
    // (same standard the survivor buffer used before it moved to the sink).
    val stateLock = new Object
    var state: Option[Dedup.MinhashState] = stateLock.synchronized {
      stateDir.flatMap(Dedup.loadMinhashState(spark, _, params))
    }
    var batchesSinceCheckpoint = 0
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_corpus_survivors")
    StagedStream.foreachStaged(stream, shufflePartitions, batchAdaptive,
        checkpointDir) { (b, _) =>
      stateLock.synchronized {
        // ONE feature pass per batch: the eagerly-checkpointed state
        // serves the dedup verify, the corpus probe AND the index
        // (checkpointing is also required anyway — the batch frame is
        // only valid inside this callback)
        val incCk = Dedup.minhashState(b, idCol, textCol, numHashes,
          bands, shingleK, maxBucket)
        val kept = Dedup.minhashDedupWithState(b, incCk, state,
          idCol, threshold)
        // executor-side append; survivor ids never touch the driver
        kept.select(col(idCol).cast("long").as(idCol))
          .write.mode("append").parquet(sink)
        // index ALL seen docs (see class doc)
        state = Some(state.fold(incCk) { st =>
          Dedup.MinhashState(st.sets.union(incCk.sets),
            st.buckets.union(incCk.buckets), st.params)
        })
        // the accumulated index is a left-deep union of checkpointed
        // leaves; the UNION's plan depth still grows with batch count, so
        // collapse it to a fresh pair of flat leaves every few batches —
        // keeps per-batch analysis cost O(CollapseEvery), not O(#batches)
        batchesSinceCheckpoint += 1
        if (batchesSinceCheckpoint >= CollapseEvery) {
          state = state.map(st => Dedup.MinhashState(
            st.sets.localCheckpoint(true), st.buckets.localCheckpoint(true),
            st.params))
          batchesSinceCheckpoint = 0
        }
      }
    }
    stateLock.synchronized {
      for (dir <- stateDir; st <- state) Dedup.saveMinhashState(st, dir, st.params)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.Dedup.paragraphDedup]] (keep-first mode):
    * each arriving micro-batch screens its segments against the seen-hash
    * set accumulated from earlier batches PLUS its own intra-batch
    * keep-first, appends per-doc results `(idCol, clean_text, n_total,
    * n_kept)` to a parquet sink executor-side, and folds the batch's
    * distinct segment hashes into the state. With id-ordered staged
    * slices the global first occurrence of a segment is in the earliest
    * batch that contains it, and within that batch intra-batch keep-first
    * picks the same `(id, seg_ord)` minimum as the one-shot screen — so
    * the streamed sink equals the batch [[graft.ext.Dedup.paragraphDedup]]
    * verbatim and the batch oracle gates this path (the
    * corpusDedupStreaming batch-boundary-invariance argument, here exact
    * rather than canonical because segment identity is an exact hash).
    *
    * The remove-frequent-lines mode (`dropAboveCount`) is deliberately
    * NOT offered here: corpus frequency is a global count a prefix of the
    * stream cannot know, so a streamed variant would silently keep early
    * copies of a line that later turns out to be boilerplate. Run that
    * mode as a batch pass over the accumulated corpus.
    *
    * State is the distinct-`seg_h` frame — bounded by distinct segments
    * seen, not documents; localCheckpoint'ed leaves keep lineage flat and
    * a `distinct()` collapse every `CollapseEvery` (8) batches keeps the
    * union tree shallow. With `stateDir` the seen-hash set loads before
    * the run and persists after it through the shared state store
    * ([[graft.ext.Dedup.saveParagraphState]]) — two separate invocations
    * over consecutive increments equal the one-shot screen, the
    * restartable-ingest contract the other persisted screens carry. Same
    * sink-retention contract as [[containmentProbeStreaming]]: pass
    * `sinkDir` for a durable ledger.
    */
  def paragraphDedupStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      queryName: String,
      sepPattern: String = "\\. ", joinSep: String = ". ",
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      stateDir: Option[String] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val stateLock = new Object
    var seen: Option[DataFrame] = stateLock.synchronized {
      stateDir.flatMap(Dedup.loadParagraphState(spark, _, sepPattern))
    }
    var batchesSinceCollapse = 0
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_segment_dedup")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, queryName = Some(queryName)) { (b, _) =>
      stateLock.synchronized {
        Dedup.paragraphDedup(b, idCol, textCol, sepPattern,
            joinSep, dropAboveCount = None, priorSeenHashes = seen)
          .write.mode("append").parquet(sink)
        // eager checkpoint: the batch frame is only valid inside this
        // callback, and the state must outlive it
        val newHashes = Dedup.paragraphHashes(b, idCol, textCol,
          sepPattern).select(col("seg_h")).distinct().localCheckpoint()
        var merged = seen.fold(newHashes)(_.unionByName(newHashes))
        batchesSinceCollapse += 1
        if (batchesSinceCollapse >= CollapseEvery) {
          merged = merged.distinct().localCheckpoint()
          batchesSinceCollapse = 0
        }
        seen = Some(merged)
      }
    }
    stateLock.synchronized {
      for (dir <- stateDir; st <- seen)
        Dedup.saveParagraphState(st, dir, sepPattern)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.AnnIndex.probe]]: probe each arriving
    * micro-batch of vectors against a FROZEN persisted-index state inside
    * `foreachBatch` (a query's top-k depends only on its own vector and
    * the static index — no cross-batch state, the
    * [[containmentProbeStreaming]] argument), appending ranked neighbors
    * to a parquet sink executor-side. Batch-boundary invariant by
    * construction, so the batch q299 oracle gates the streamed q307
    * verbatim. The ingest-time retrieval/semantic-screen shape: encode
    * the standing corpus once, probe every arriving batch against it.
    * Sink retention follows the [[containmentProbeStreaming]] contract
    * (pass an owned `sinkDir` in a long-lived ingest loop).
    *
    * `refineWiden = Some(w)` routes each batch through
    * [[graft.ext.AnnIndex.probeRefined]] instead (the SQ8 refine stage
    * between ADC and the cut, widen = w) — the refine re-scores against
    * the state's PERSISTED codes, so it is exactly as row-local as the
    * plain probe and the batch-boundary invariance argument carries
    * over unchanged (q312's batch oracle chain gates the streamed q313
    * the way q299's gates q307). Requires a state built with
    * `refineDim > 0`; [[graft.ext.AnnIndex.probeRefined]] rejects loudly
    * otherwise — BEFORE the stream starts, so a misconfigured ingest
    * fails at wiring time, not per-batch.
    */
  def annProbeStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, vecCol: String,
      state: graft.ext.AnnIndex.State, queryName: String,
      k: Int = 10, nProbe: Int = 4,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      refineWiden: Option[Int] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    refineWiden.foreach { w =>
      require(w >= 1, "annProbeStreaming: refineWiden must be >= 1")
      require(state.refine.nonEmpty,
        "annProbeStreaming: refineWiden needs an index built with " +
          "refineDim > 0 — this state has no SQ8 refine tier")
    }
    val stream = StagedStream.staged(spark, stagedDir)
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_ann_hits")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, queryName = Some(queryName)) { (b, _) =>
      val hits = refineWiden match {
        case Some(w) => graft.ext.AnnIndex.probeRefined(state,
          b, vecCol, idCol, k = k, nProbe = nProbe, widen = w)
        case None => graft.ext.AnnIndex.probe(state, b,
          vecCol, idCol, k = k, nProbe = nProbe)
      }
      hits.write.mode("append").parquet(sink)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.Dedup.containmentProbe]]: probe each
    * arriving micro-batch against a FROZEN standing-corpus containment
    * state inside `foreachBatch` (a doc's probe result depends only on
    * its own shingle set and the static state — no cross-batch state, the
    * lmScoreStreaming argument), appending hits to a parquet sink
    * executor-side. Batch-boundary invariant by construction, so the
    * batch q270 oracle gates this path verbatim. The ingest-time
    * quote-screen shape: build the corpus state once, screen every
    * arriving crawl batch against it.
    *
    * Sink retention: with `sinkDir = None` each CALL allocates a fresh
    * temp directory, deleted with its contents only at JVM exit — correct
    * for the one-shot gate/spec shape, but a long-lived session invoking
    * the screen repeatedly accumulates hit files on disk. A production
    * ingest loop should pass an explicit `sinkDir` it owns (the results
    * APPEND across calls there — the durable quote-screen ledger) and
    * manage its lifecycle like any other staged artifact.
    */
  def containmentProbeStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      state: graft.ext.Dedup.ContainmentState,
      tau: Double, queryName: String,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      maxDf: Long = Long.MaxValue,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_containment_hits")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, queryName = Some(queryName)) { (b, _) =>
      graft.ext.Dedup.containmentProbe(b, state, idCol, textCol, tau,
          maxDf = maxDf)
        .write.mode("append").parquet(sink)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.Dedup.jaccardProbe]]: probe each
    * arriving micro-batch against a FROZEN standing-corpus resemblance
    * state inside `foreachBatch` (a doc's probe result depends only on
    * its own shingle set and the static state — no cross-batch state,
    * the containmentProbeStreaming argument), appending hits to a
    * parquet sink executor-side. Batch-boundary invariant by
    * construction, so the batch q278 oracle gates this path verbatim.
    * The ingest-time near-copy screen with NO banding recall curve:
    * build the corpus state once, screen every arriving crawl batch.
    * Sink retention follows the containmentProbeStreaming contract
    * (pass an owned `sinkDir` in a long-lived ingest loop).
    */
  def resemblanceProbeStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      state: graft.ext.Dedup.ResemblanceState,
      queryName: String,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      maxDf: Long = Long.MaxValue,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_resemblance_hits")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, queryName = Some(queryName)) { (b, _) =>
      graft.ext.Dedup.jaccardProbe(b, state, idCol, textCol, maxDf)
        .write.mode("append").parquet(sink)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.NgramLm.score]]: score each arriving
    * micro-batch of documents against a FROZEN reference model inside
    * `foreachBatch` (a document's pairs are wholly contained in its row,
    * so per-batch batch-scoring is exact — no cross-batch state at all,
    * unlike the dedup stream above), appending results to a parquet sink
    * executor-side. Batch-boundary invariant by construction: per-doc
    * statistics depend on nothing outside the doc, so the streamed frame
    * EQUALS [[graft.ext.NgramLm.score]] over the full input and q167's
    * oracle gates this path verbatim (q170). The ingest-time quality-
    * filter shape: fit once on a curated reference, gate every arriving
    * crawl batch against it.
    */
  def lmScoreStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      model: graft.ext.NgramLm.BigramModel,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_lm_scores")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, persistBatch = false) { (b, _) =>
      graft.ext.NgramLm.score(b, idCol, textCol, model)
        .write.mode("append").parquet(sink)
    }
    LibraryParquet.read(spark, sink)
  }

  /** Streaming face of [[graft.ext.HeavyHitters.frequentItems]] over a
    * staged document stream (the q161 argument applied to frequent items):
    * an exact streaming token count per item would hold the whole
    * vocabulary in the state store; the Misra-Gries summary is <= k
    * counters with an associative, bounded merge, so the candidate pass
    * runs as a Complete-mode streaming aggregation whose state is O(k).
    * The exact recount then runs once, batch, over the same staged corpus.
    *
    * The MG candidate SET can differ from the batch pass's (merge order
    * differs across micro-batches) — the SUPERSET guarantee is what's
    * order-invariant, and the recount filters both sets to the same exact
    * answer, so the streamed result EQUALS the batch operator's and sits
    * under the same SQL oracle (q162/q164).
    */
  def heavyHittersStreaming(
      spark: SparkSession, stagedDir: String, textCol: String,
      minShare: Double, k: Int, queryName: String,
      itemName: String = "token",
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false,
      maxStateRows: Long = Long.MaxValue,
      maxStateBytes: Long = Long.MaxValue): DataFrame = {
    import graft.ext.HeavyHitters
    HeavyHitters.requireGuarantee(minShare, k)
    def tokens(df: DataFrame): DataFrame = df.select(
      explode(graft.functions.text.tokens(col(textCol))).as(itemName))
    val agg = tokens(StagedStream.staged(spark, stagedDir)).agg(
      graft.expressions.MisraGriesAgg.misraGriesSummary(col(itemName), k)
        .as("mg"),
      count(col(itemName)).as("n"))
    // bounded by design at ONE row holding <= k counters — measured; the
    // drained frame is at most that row (empty when zero batches ran)
    val first = StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
        shufflePartitions, rocksdbState, Some(StagedStream.StateCap(
          "heavy-hitters monitor", maxStateRows, maxStateBytes)))
      .select(map_keys(col("mg")).as("cands"), col("n"))
      .collect().headOption
    HeavyHitters.recountExact(tokens(LibraryParquet.read(spark, stagedDir)),
      col(itemName),
      first.map(_.getSeq[String](0)).getOrElse(Nil),
      first.map(_.getLong(1)).getOrElse(0L),
      minShare, itemName)
  }

  /** [[graft.ext.Decontaminate.noveltyScores]] over a STREAM of arriving
    * batches against a STANDING reference corpus — the ingest-time screen
    * ("is today's crawl actually new text?"): each micro-batch is scored
    * inside foreachBatch and appended to a parquet sink. A document's score
    * is row-local given the broadcast reference gram set, so the streamed
    * frame equals the batch operator's wherever the stream is cut — q183's
    * SQL oracle gates this path verbatim (the q167/q170 argument). The
    * reference frame is resolved once per batch; a production deployment
    * would localCheckpoint it to keep lineage flat (corpusDedupStreaming's
    * pattern) if it grows with the stream — here it is static by contract.
    */
  def noveltyScoresStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      reference: DataFrame, refTextCol: String, n: Int = 13,
      sinkDir: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      batchAdaptive: Option[Boolean] = None): DataFrame = {
    val stream = StagedStream.staged(spark, stagedDir)
    val sink = StagedStream.sinkOrTemp(sinkDir, "graft_novelty_scores")
    StagedStream.foreachStaged(stream, shufflePartitions,
        adaptive = batchAdaptive, persistBatch = false) { (b, _) =>
      graft.ext.Decontaminate.noveltyScores(
          b, idCol, textCol, reference, refTextCol, n)
        .write.mode("append").parquet(sink)
    }
    LibraryParquet.read(spark, sink)
  }

  /** [[graft.ext.Report.tokenDrift]] with the CANDIDATE side arriving as a
    * stream — the deployment shape of corpus monitoring ("does the
    * arriving crawl drift from the frozen baseline?"): the stream's token
    * counts run as a Complete-mode aggregation (counting is
    * order-insensitive, so the accumulated counts — and therefore the
    * drift frame — are bit-identical to the batch operator's wherever the
    * stream is cut; q185's oracle gates this path verbatim), then the
    * chi-square ranking runs once over the drained counts against the
    * static baseline. State is the stream's token-count frame — the same
    * vocabulary bound as the batch shuffle, the honest floor for an exact
    * per-token report (bound it with the MG candidate pass q162-style
    * when only the top drifts matter).
    */
  def tokenDriftStreaming(
      spark: SparkSession, stagedDir: String, textCol: String,
      baseline: DataFrame, baselineTextCol: String, k: Int,
      queryName: String, streamFilter: Option[org.apache.spark.sql.Column] = None,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false,
      maxStateRows: Long = Long.MaxValue,
      maxStateBytes: Long = Long.MaxValue): DataFrame = {
    import graft.functions.text
    val stream0 = StagedStream.staged(spark, stagedDir)
    val stream = streamFilter.fold(stream0)(stream0.where)
    val agg = stream
      .select(explode(text.tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_b"))
    // honest floor = |vocabulary| rows (the scaladoc's declared bound);
    // the audit is where a vocabulary-shaped state stops being a
    // claim — cap it when only the top drifts matter (the MG pass)
    val streamedCounts = StagedStream.toMemory(agg, OutputMode.Complete(),
      queryName, shufflePartitions, rocksdbState, Some(StagedStream.StateCap(
        "token-drift monitor", maxStateRows, maxStateBytes)))
    val baseCounts = baseline
      .select(explode(text.tokens(col(baselineTextCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n_a"))
    graft.ext.Report.tokenDriftFromCounts(baseCounts, streamedCounts, k)
  }

  /** [[graft.ext.Sketches.hllRegisters]] over a STREAM of arriving batches:
    * the register maximum is an associative, order-insensitive set function
    * of the input, so the Complete-mode streamed sketch is bit-identical to
    * the batch build no matter where the stream is cut — q178's SQL oracle
    * gates this path verbatim (the q162/q164 recount argument, without even
    * needing a recount). State is the register frame itself: at most
    * groups * 2^p integer rows in the store, where an exact streaming
    * distinct-count would hold every distinct value seen.
    */
  def hllRegistersStreaming(
      spark: SparkSession, stagedDir: String, groupCol: String,
      valueCol: String, queryName: String, p: Int = 6,
      shufflePartitions: Option[Int] = None,
      rocksdbState: Boolean = false,
      maxStateRows: Long = Long.MaxValue,
      maxStateBytes: Long = Long.MaxValue): DataFrame = {
    val agg = graft.ext.Sketches.hllRegisters(
      StagedStream.staged(spark, stagedDir), Seq(groupCol), valueCol, p)
    // bounded by design at groups x 2^p register rows — measured
    StagedStream.toMemory(agg, OutputMode.Complete(), queryName,
      shufflePartitions, rocksdbState, Some(StagedStream.StateCap(
        "hll-registers monitor", maxStateRows, maxStateBytes)))
  }

  /** Quantized linear classifier at INGEST time: the
    * [[graft.functions.text.hashedLinearScore]] fold is one row-local
    * codegen'd expression over the weight table riding in the plan as an
    * array literal — no shuffle, no state — so plain Append mode equals
    * the batch filter row-for-row under any stream cut (the
    * semantic-screen argument). The batch q128 oracle gates the streamed
    * scorer verbatim. Works with any exported `(bucket -> int)` table:
    * a [[graft.ext.Classifier.fit]] result drops in unchanged.
    */
  def classifierScoreStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, textCol: String,
      weights: Array[Int], bias: Long, queryName: String,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val scored = StagedStream.staged(spark, stagedDir).select(col(idCol),
        graft.functions.text.hashedLinearScore(col(textCol), weights, bias)
          .as("score"))
      .withColumn("label",
        when(col("score") >= 0, lit("keep")).otherwise(lit("drop")))
    StagedStream.toMemory(scored, OutputMode.Append(), queryName,
      shufflePartitions)
  }

  /** Row-local clamped fixed-width score bin — the state key of the
    * streamed AUC monitor. `floor(score / width)` saturated into
    * `[-maxAbsBucket, maxAbsBucket]`, so the bin count is a CONSTANT
    * `2*maxAbsBucket + 1` per group no matter how the corpus's score
    * spread grows (NB score cardinality scales with document-length
    * spread — unbounded in the corpus). The double division + floor is
    * one IEEE op pair, identical in any engine (scores are integers far
    * below 2^52), so an oracle replays the bin exactly.
    */
  def clampedScoreBucket(score: Column, width: Long, maxAbsBucket: Int): Column = {
    require(width >= 1, "bin width must be positive")
    require(maxAbsBucket >= 1, "need at least one bucket each side")
    least(greatest(floor(score.cast("double") / lit(width.toDouble)),
      lit(-maxAbsBucket.toLong)), lit(maxAbsBucket.toLong))
  }

  /** Streamed classifier-quality monitor — live AUC of a model's scores
    * against an arriving labeled stream (the "is the filter still
    * separating" readout of a continuous ingest). Scoring is the
    * row-local NB fold (model as an array literal); scores are then
    * binned by [[clampedScoreBucket]] BEFORE aggregation, so the
    * Complete-mode state is groups x (2*maxAbsBucket + 1) — a constant,
    * unlike the raw distinct-score count which grows with the corpus's
    * document-length spread. The per-(group, bin) counts are ADDITIVE,
    * so the streamed frame equals the batch count frame under any cut
    * and the rank-sum scan runs once on the drained counts (the
    * ksDriftStreaming pattern). The readout is the BINNED mid-rank AUC
    * (Wilcoxon over bin indices, ties fully counted) — the deliberate
    * exactness-for-bounded-state trade of a monitor; the batch
    * equivalent is `aucExact` over the same binned score, which is what
    * the q256 oracle replays.
    */
  def classifierAucStreaming(
      spark: SparkSession, stagedDir: String, textCol: String,
      weights: Array[Long], bias: Long, groupCol: String, positive: Column,
      queryName: String, buckets: Int = 4096,
      scoreBinWidth: Long = 250L, maxAbsBucket: Int = 400,
      shufflePartitions: Option[Int] = None,
      maxStateRows: Long = Long.MaxValue,
      maxStateBytes: Long = Long.MaxValue): DataFrame = {
    val scored = StagedStream.staged(spark, stagedDir)
      .where(col(textCol).isNotNull)
      .select(col(groupCol), positive.as("__pos"),
        clampedScoreBucket(graft.ext.Classifier.nbScoreColumn(
          col(textCol), weights, bias, buckets),
          scoreBinWidth, maxAbsBucket).as("score"))
    val counts = graft.ops.Profile.aucCounts(
      scored, Seq(groupCol), "score", col("__pos"))
    // the clamped bins bound state at groups x (2*maxAbsBucket + 1) x 2
    // BY DESIGN — the audit turns that argument into a measurement
    graft.ops.Profile.aucFromCounts(
      StagedStream.toMemory(counts, OutputMode.Complete(), queryName,
        shufflePartitions, audit = Some(StagedStream.StateCap(
          "classifier-auc monitor", maxStateRows, maxStateBytes))),
      Seq(groupCol))
  }

  /** [[graft.ext.Decontaminate.semanticHitsLiteral]] over an ARRIVING
    * corpus — the deployment shape of the semantic screen ("score each
    * new crawl shard against the frozen eval set as it lands"). The
    * operator is STATELESS (one row-local argmin per vector, no shuffle,
    * no state store), so the stream runs in plain Append mode and the
    * result equals the batch screen row-for-row under any cut — q228's
    * oracle gates this path verbatim.
    */
  def semanticScreenStreaming(
      spark: SparkSession, stagedDir: String, idCol: String, vecCol: String,
      evalVecs: Seq[(Long, Seq[Double])], tau: Double, queryName: String,
      corpusFilter: Option[org.apache.spark.sql.Column] = None,
      shufflePartitions: Option[Int] = None): DataFrame = {
    val stream0 = StagedStream.staged(spark, stagedDir)
    val stream = corpusFilter.map(stream0.where).getOrElse(stream0)
    val screened = graft.ext.Decontaminate.semanticHitsLiteral(
      stream, idCol, vecCol, evalVecs, tau)
    StagedStream.toMemory(screened, OutputMode.Append(), queryName,
      shufflePartitions)
  }
}
