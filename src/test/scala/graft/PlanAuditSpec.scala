package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the scale-critical queries: these lock
  * in the 100 TB design properties (pushdown, broadcast, shuffle count) that
  * row-level correctness checks cannot see. A plan regression here is a
  * silent 10-100x cost at scale long before it is a wrong answer.
  *
  * Queries are EXECUTED before inspection so AQE's final plan (where
  * broadcast decisions live) is what gets asserted, and the metadata string
  * budget is raised so PushedFilters lists are not truncated mid-assertion.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q02: filters and projection reach the parquet scan") {
    val plan = finalPlan("q02_filter_pushdown")
    assert(plan.contains("PushedFilters: ["), s"no pushed filters in:\n$plan")
    // the quantity predicate is scan-evaluable and must be pushed
    assert(plan.contains("LessThan(l_quantity"), s"l_quantity filter not pushed:\n$plan")
    // column pruning: a wide lineitem scan for a 5-column query must not
    // read payload columns
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_shipinstruct"), s"unpruned scan:\n$plan")
  }

  test("q03/q04: dimension joins plan as broadcast hash joins") {
    Seq("q03_topk_revenue", "q04_region_revenue").foreach { q =>
      val plan = finalPlan(q)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: expected BroadcastHashJoin for the dimension side in:\n$plan")
    }
  }

  test("q01: aggregation is partial (map-side combine) before the shuffle") {
    val plan = finalPlan("q01_pricing_summary")
    // two HashAggregate layers around one exchange = partial + final
    assert("HashAggregate".r.findAllIn(plan).size >= 2, s"no partial agg in:\n$plan")
  }

  test("q67: benchmark gram set broadcasts; training side never re-shuffles it") {
    val plan = finalPlan("q67_decontaminate")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram join must broadcast, got:\n$plan")
  }

  test("q69: vocabulary count is partial-aggregated before its one shuffle") {
    val plan = finalPlan("q69_vocab_topk")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no map-side combine before the vocab shuffle:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject, not a global sort:\n$plan")
  }

  test("q46: bucketed join runs with no hash shuffle exchange") {
    SparkEntry.prepareBucketedTables(spark, sf)
    val plan = finalPlan("q46_bucketed_join")
    // only the final orderBy may range-shuffle; the JOIN itself must not
    // hash-exchange either side
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join re-shuffled its inputs:\n$plan")
  }

  test("q101: the status predicate prunes partitions at the scan") {
    val plan = finalPlan("q101_partition_pruning")
    // the predicate must be a partition filter on the directory layout ...
    val pfIdx = plan.indexOf("PartitionFilters")
    assert(pfIdx >= 0 && plan.substring(pfIdx).takeWhile(_ != ']')
      .contains("o_orderstatus"), s"no partition filter in:\n$plan")
    // ... not a row-level pushed filter (the column is not in the files)
    assert(!plan.contains("PushedFilters: [IsNotNull(o_orderstatus)"),
      s"status filtered row-level instead of partition-level:\n$plan")
  }

  test("ChangeApply broadcastKeys=false: the anti join survives as a shuffle join with identical results") {
    import org.apache.spark.sql.functions._
    // the large-changelog path: when the touched key set cannot broadcast,
    // the snapshot anti join must degrade to a SHUFFLE join, not fail or
    // silently still broadcast. Pin autoBroadcastJoinThreshold=-1 so AQE
    // cannot convert it back and the asserted shape is deterministic.
    val snapshot = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
    val changes = snapshot.where(col("o_orderkey") % 5 === 0)
      .withColumn("seq", lit(1L))
      .withColumn("op", when(col("o_orderkey") % 10 === 0, "D").otherwise("U"))
      .withColumn("o_totalprice", col("o_totalprice") + 1.0)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    val (shufflePlan, shuffleRows) =
      try {
        spark.conf.set(key, "-1")
        val df = graft.ops.ChangeApply(snapshot, changes,
          "o_orderkey", "seq", "op", broadcastKeys = false)
        val rows = df.orderBy("o_orderkey").collect().toSeq
        (df.queryExecution.executedPlan.toString, rows)
      } finally spark.conf.set(key, prev)
    assert(!shufflePlan.contains("BroadcastHashJoin"),
      s"broadcastKeys=false still broadcast the touched keys:\n$shufflePlan")
    assert(shufflePlan.contains("SortMergeJoin") || shufflePlan.contains("ShuffledHashJoin"),
      s"no shuffle anti join in:\n$shufflePlan")
    assert(shufflePlan.contains("LeftAnti"), s"anti join missing in:\n$shufflePlan")
    val broadcastRows = graft.ops.ChangeApply(snapshot, changes,
      "o_orderkey", "seq", "op", broadcastKeys = true)
      .orderBy("o_orderkey").collect().toSeq
    assert(shuffleRows == broadcastRows,
      "shuffle and broadcast anti-join paths must return identical results")
  }

  test("q107: exact-substring matching is an equi-join with partial agg — never all-pairs") {
    val plan = finalPlan("q107_exact_substring")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"window matching degenerated to an all-pairs join:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"pair counting lacks map-side partial aggregation:\n$plan")
  }

  test("q107/q75: token-window generation is row-local — no per-document Window shuffle") {
    // The n-token windows are assembled from each document's token array via
    // sequence+posexplode+slice (the Packing.slidingChunks shape). A
    // lead().over(partitionBy(id)) formulation would shuffle+sort the entire
    // exploded token stream — at corpus scale an avoidable exchange the size
    // of the token count. Locked: no lead() anywhere, and for the ngram
    // counter no Window physical node at all (q107 legitimately keeps one
    // Window, the maxBucket sizing over the *distinct window* stream, which
    // is orders of magnitude smaller than the token stream).
    val substr = finalPlan("q107_exact_substring")
    assert(!substr.contains("lead("),
      s"q107 window build regressed to a per-doc lead() shuffle:\n$substr")
    val ngram = finalPlan("q75_bigram_counts")
    assert(!ngram.contains("lead("),
      s"q75 ngram build regressed to a per-doc lead() shuffle:\n$ngram")
    assert(!ngram.contains("Window"),
      s"q75 must contain no Window operator (row-local build + one agg):\n$ngram")
  }

  test("q109: the orphan audit broadcasts the dimension snapshot under a LEFT ANTI join") {
    val plan = finalPlan("q109_orphan_keys")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"orphan audit did not broadcast-anti-join the snapshot:\n$plan")
    // the date cut must reach the orders scan, not filter post-join
    assert(plan.contains("o_orderdate"), s"snapshot cut missing:\n$plan")
  }

  test("q116: the apply step never forms document pairs — min-agg + equi-join only") {
    val plan = finalPlan("q116_exact_substring_apply")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"window claim degenerated to an all-pairs join:\n$plan")
    // the window keeper claim must partial-aggregate before its shuffle
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"keeper min-agg lacks map-side combine:\n$plan")
    assert(!plan.contains("lead("),
      s"window build regressed to a per-doc lead() shuffle:\n$plan")
  }

  test("q118: portable IVF probes via equi-join on the cell id, never all-pairs") {
    val plan = finalPlan("q118_knn_ivf_portable")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cell probe degenerated to an all-pairs join:\n$plan")
  }

  test("q119/q120: block packing and incremental apply keep their scale shapes") {
    // q119: no per-token explode (documents explode only into the blocks
    // they intersect), reassembly partial-aggregates, nothing cartesian
    val blocks = finalPlan("q119_packed_blocks")
    assert(!blocks.contains("CartesianProduct") &&
      !blocks.contains("BroadcastNestedLoopJoin"), s"q119 all-pairs:\n$blocks")
    assert(!blocks.contains("lead("), s"q119 lead() shuffle:\n$blocks")
    // q120: the standing-index probe is semi/anti equi-joins, never a pair
    // stage or a nested loop
    val incr = finalPlan("q120_substring_dedup_incr")
    assert(!incr.contains("CartesianProduct") &&
      !incr.contains("BroadcastNestedLoopJoin"), s"q120 all-pairs:\n$incr")
    assert(incr.contains("LeftSemi") && incr.contains("LeftAnti"),
      s"q120 must probe the index via semi+anti joins:\n$incr")
  }

  test("q128/q131/q132/q133: row-local text ops plan with zero Exchange") {
    // the classifier score, intra-doc dedup, blocklist check and line
    // filter are all literal-backed projections: any Exchange here means
    // a model/blocklist join or window snuck in
    // q151: the BPE encode must ride as one reference-object projection —
    // a vocab JOIN or UDF fallback would show up as an exchange here
    // q172: the unigram Viterbi encode is the same reference-object
    // projection contract — the scored vocab must never become a join
    Seq("q128_quality_classifier", "q131_intradoc_dedup",
      "q132_domain_blocklist", "q133_line_filter", "q151_bpe_count",
      "q172_unigram_stats").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      // ignore the final presentation orderBy's range-partition exchange:
      // assert on the plan BELOW the top-level Sort
      val plan = df.queryExecution.executedPlan.toString
      val body = plan.split("\n").dropWhile(l => !l.contains("Sort "))
        .drop(1).mkString("\n")
      assert(!body.contains("Exchange hashpartitioning"),
        s"$q: unexpected hash exchange below the presentation sort:\n$plan")
      assert(!body.contains("Join"), s"$q: unexpected join:\n$plan")
    }
  }

  test("q134/q138: DSIR scoring is a literal-array fold — no join, no scoring shuffle") {
    Seq("q134_dsir_select", "q138_dsir_native").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"$q: the collected-model design must not join the model:\n$plan")
      // TakeOrderedAndProject = distributed top-k, not a global sort
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: selection should be TakeOrdered, got:\n$plan")
    }
  }

  test("q145: CMS build partial-aggregates (map-side sketch); probe joins broadcast") {
    val plan = finalPlan("q145_cms_estimate")
    // partial + final HashAggregate around the sketch exchange = the
    // pre-shuffle state is the <= 4*w-cell map-side sketch, never rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no map-side sketch combine in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 4*w-row sketch must broadcast to the probes:\n$plan")
  }

  test("q144: incremental SCD2 closes history by broadcast join — history never shuffles") {
    val plan = finalPlan("q144_scd2_incremental")
    assert(plan.contains("BroadcastHashJoin"),
      s"close-seq join must broadcast in:\n$plan")
  }

  test("q150: correlation matrix is single-scan by construction — one hash exchange") {
    // the pair expansion is a row-local explode of structs over ONE
    // aggregated frame: exactly one hash exchange (the groupBy shuffle)
    // may appear. The former |pairs|-branch union depended on optimizer
    // ReuseExchange for its single scan; this locks it structurally.
    val full = finalPlan("q150_correlation")
    // count in the FINAL adaptive plan only — the "Initial Plan" echo AQE
    // appends repeats every node and would double-count
    val plan = full.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"q150 must have exactly one hash exchange, found $hashExchanges:\n$full")
    assert(!plan.contains("Union"),
      s"q150 must not union per-pair branches:\n$full")
  }

  test("q168/q169: the PQ candidate side never shuffles; probes broadcast") {
    // flat ADC: queries (with their distance tables) broadcast into a
    // nested-loop scan of the codes; the candidate side must carry NO
    // hash exchange before the join — only the top-k window may shuffle
    val pq = finalPlan("q168_knn_pq").split("== Initial Plan ==").head
    assert(pq.contains("BroadcastNestedLoopJoin"),
      s"q168 queries must broadcast into the codes scan:\n$pq")
    val joinIdx = pq.indexOf("BroadcastNestedLoopJoin")
    val windowShuffleIdx = pq.indexOf("Exchange hashpartitioning")
    assert(windowShuffleIdx < joinIdx,
      s"q168 shuffled the candidate side below the join:\n$pq")
    // IVFPQ: the probe join must be a broadcast EQUI-join on the cell id
    val ivfpq = finalPlan("q169_knn_ivfpq").split("== Initial Plan ==").head
    assert(ivfpq.contains("BroadcastHashJoin"),
      s"q169 cell-probe join must be a broadcast hash join:\n$ivfpq")
    assert(!ivfpq.contains("CartesianProduct"),
      s"q169 degenerated to all-pairs:\n$ivfpq")
  }

  test("q162: both heavy-hitter passes partial-aggregate before their shuffle") {
    val plan = finalPlan("q162_heavy_hitters").split("== Initial Plan ==").head
    // pass 2 (the recount) is the executed plan here: an InSet filter on
    // the scan side and partial + final aggregation around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2 ||
      "ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"recount lacks map-side combine:\n$plan")
    assert(!plan.contains("Join"),
      s"the recount must filter with InSet, never join the candidates:\n$plan")
  }

  test("q166: the per-group recount joins the broadcast candidate frame") {
    val plan = finalPlan("q166_heavy_hitters_by_source")
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin"),
      s"grouped recount must broadcast the candidate frame:\n$plan")
  }

  test("q167: the LM model broadcasts into the scoring joins") {
    val plan = finalPlan("q167_ngram_lm").split("== Initial Plan ==").head
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"both model joins (bigram, unigram) must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a model join fell back to sort-merge (model side shuffled):\n$plan")
  }

  test("q93: the bloom probe filters the fact scan stage, below the join") {
    val plan = finalPlan("q93_bloom_join")
    val probeIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("Join")
    assert(probeIdx >= 0, s"no bloom probe in:\n$plan")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"probe not below the join:\n$plan")
  }

  test("q178: the HLL build partial-aggregates (register merge IS the agg)") {
    val plan = finalPlan("q178_hll_registers")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no map-side register merge before the shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q181/q182: ranking runs on the GroupTopK heap, never a window sort") {
    Seq("q181_priority_sample", "q182_bm25_search").foreach { q =>
      val plan = finalPlan(q)
      assert(plan.contains("GroupTopK"), s"$q: no GroupTopK heap in:\n$plan")
      assert(!plan.contains("row_number"),
        s"$q: ranking fell back to a row_number window:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$q: cartesian product in:\n$plan")
    }
    // q181 is window-free outright; q182's one Window is the df count over
    // the broadcast-restricted tf (bounded by the query-term match set),
    // never a ranking sort over scored pairs
    assert(!finalPlan("q181_priority_sample").contains("Window"))
  }

  test("q182: query-term restriction broadcasts; no full-vocabulary shuffle") {
    val plan = finalPlan("q182_bm25_search")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"query-term and qterm-detail joins must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a query-term join fell back to sort-merge:\n$plan")
  }

  test("q183: the reference gram set broadcasts into the novelty join") {
    val plan = finalPlan("q183_novelty")
    assert(plan.contains("BroadcastHashJoin"),
      s"reference gram join must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q193/q194: pair generation is fingerprint/term equi-joins — never doc x doc") {
    Seq("q193_winnow_pairs", "q194_sparse_cosine").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q: nested-loop join in:\n$plan")
    }
  }

  test("q203: centroid broadcast + GroupTopK heap, no window sort over scores") {
    val plan = finalPlan("q203_embedding_outliers")
    assert(plan.contains("GroupTopK"), s"no heap rank in:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"centroid join must broadcast:\n$plan")
    assert(!plan.contains("row_number"), s"window-sort fallback in:\n$plan")
  }

  test("q199/q205/q207: pair joins are equi-joins, normalizers never rescan") {
    // the single-ROW scalar attaches (total-session / total-pair counts)
    // legitimately plan as broadcast nested loops; what must never appear
    // is a cartesian over data-sized frames — and q199 has no scalar
    // attach at all, so any nested loop there is a real pair explosion
    Seq("q199_allpairs_jaccard", "q205_session_lift",
        "q207_token_cooccurrence").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
    }
    assert(!finalPlan("q199_allpairs_jaccard").contains("BroadcastNestedLoopJoin"),
      "q199: nested-loop join")
  }

  test("q219: the domain cap ranks on the GroupTopK heap, never a window sort") {
    val plan = finalPlan("q219_domain_cap")
    assert(plan.contains("GroupTopK"), s"no heap rank in:\n$plan")
    assert(!plan.contains("Window"), s"window-sort fallback in:\n$plan")
  }

  test("q221: the weekday baseline comes back by broadcast; series never re-shuffles") {
    val plan = finalPlan("q221_weekday_residuals")
    assert(plan.contains("BroadcastHashJoin"),
      s"baseline stat join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"stat join fell back to sort-merge:\n$plan")
  }

  test("q224/q227: diversity and padding reports partial-aggregate; no cartesian") {
    Seq("q224_lexical_diversity", "q227_padding_report").foreach { q =>
      val plan = finalPlan(q)
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$q: no map-side combine in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
    }
  }

  test("q228/q240: screens rank on the heap / TakeOrdered — no global window sort") {
    val sem = finalPlan("q228_semantic_decontaminate")
    assert(sem.contains("GroupTopK"), s"q228: no heap rank in:\n$sem")
    assert(sem.contains("BroadcastNestedLoopJoin") || sem.contains("BroadcastHashJoin"),
      s"q228: eval side must broadcast:\n$sem")
    val skew = finalPlan("q240_join_skew")
    assert(skew.contains("TakeOrderedAndProject"),
      s"q240: top-k must be TakeOrdered, not a global sort:\n$skew")
  }

  test("q223: Lloyd iteration reads the checkpointed vector frame, not the source scan") {
    // Clustering.assign materializes the projected (id, vec) frame once
    // (eager localCheckpoint) — the final assignment plan must read the
    // checkpoint blocks, never re-scan the parquet source (VERDICT r11
    // #6: one corpus scan total; each Lloyd round and the seed collect
    // consume the same materialized frame)
    // the report consumes its own checkpointed (assign + label) frame, and
    // assign's final pass consumes the checkpointed vector frame — so the
    // final plan holds ZERO source scans, where pre-fix the assignment
    // side re-scanned the parquet (and each Lloyd round an invisible one
    // per action)
    val plan = finalPlan("q223_topic_clusters")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"q223: expected no source scan in the final plan, got $scans:\n$plan")
    assert(plan.contains("ExistingRDD") || plan.contains("Scan Existing"),
      s"q223: no checkpointed frame in:\n$plan")
  }

  test("q249: the close-out card reads only checkpointed frames — no source re-scan") {
    // the gated-corpus chain (window gate + cap heap + decon anti-join)
    // and the verified pair frame are each materialized once; the three
    // card sections consume those two frames, so the FINAL plan holds
    // zero parquet scans and no cartesian — the 100 TB shape is "heavy
    // chain once, bounded card aggregations after"
    for (q <- Seq("q249_curation_close", "q269_curation_close_contained")) {
      val plan = finalPlan(q)
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans == 0, s"$q: card re-scans a source table ($scans):\n$plan")
      assert(plan.contains("ExistingRDD"), s"$q: no checkpointed frame in:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q: cartesian in:\n$plan")
      // card aggregations partial-aggregate before their shuffles
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$q: no map-side combine in:\n$plan")
    }
  }

  test("q248/q251: classifier fit surfaces — map-side combine; NB scoring has no join") {
    // the suff-stats aggregation must partial-aggregate (the gradient
    // rounds' shuffle is (bucket, residual) — bounded by buckets after
    // map-side combine, not by corpus size)
    val stats = finalPlan("q248_classifier_stats")
    assert("HashAggregate".r.findAllIn(stats).size >= 2,
      s"q248: no map-side combine in:\n$stats")
    // NB scoring inlines the model as an array literal over the
    // checkpointed feature frame: no scoring join, no source re-scan
    val nb = finalPlan("q251_nb_classifier")
    assert(!nb.contains("SortMergeJoin") && !nb.contains("BroadcastHashJoin"),
      s"q251: scoring must not join the model:\n$nb")
    assert(!nb.contains("Scan parquet"),
      s"q251: scoring re-scans the source instead of the checkpoint:\n$nb")
  }

  test("q253: anneal schedule scans the corpus once; phases project the count frame") {
    val plan = finalPlan("q253_anneal_schedule")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0,
      s"q253: phases must reuse the checkpointed counts, got $scans scans:\n$plan")
    assert(plan.contains("ExistingRDD"), s"q253: no checkpointed frame in:\n$plan")
    // each phase's normalizer joins back by broadcast (one scalar row)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q253: normalizer must broadcast:\n$plan")
  }

  test("q255: AUC windows over distinct scores only; counts partial-aggregate") {
    val plan = finalPlan("q255_classifier_auc")
    // the (group, score) count aggregation must map-side combine BEFORE
    // the window — the window input is distinct scores, not raw rows
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"q255: no map-side combine before the rank window:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q255: cartesian in:\n$plan")
    // scoring never joins the model (array literal)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q255: unexpected nested-loop join:\n$plan")
  }

  test("q264: SQ8 ANN never shuffles the corpus; probes broadcast onto the heap") {
    val plan = finalPlan("q264_sq8_ann")
    // probe codes ride a broadcast nested-loop (bounded probe set); the
    // corpus-side exchange is the GroupTopK heap's <=k-rows-per-partition
    // exchange, never a corpus-wide hash repartition
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q264: probe side must broadcast:\n$plan")
    assert(plan.contains("GroupTopK"), s"q264: heap operator missing:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"q264: corpus-shuffling join in:\n$plan")
  }

  test("q263: SQ8 report projects row-locally — no join, no agg, one sort") {
    // the range pass is a separate bounded job at construction time
    // (collectRanges); the REPORT plan itself must be scan -> row-local
    // projection -> output sort, with the ranges inlined as literals
    val plan = finalPlan("q263_sq8_report")
    assert(!plan.contains("Join"), s"q263: unexpected join (ranges must " +
      s"inline as literals):\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"q263: report must be row-local, found aggregation:\n$plan")
    // the dim-ranges job itself map-side combines
    val rg = graft.ext.Sq8.dimRanges(
      spark.read.parquet(s"$sf/embeddings.parquet"), "embedding", 64)
    rg.collect()
    val rgPlan = rg.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(rgPlan).size >= 2,
      s"q263: range pass must map-side combine:\n$rgPlan")
  }

  test("q190/q192/q196: event reports aggregate with map-side combine") {
    Seq("q190_cohort_retention", "q192_trend_ols").foreach { q =>
      val plan = finalPlan(q)
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$q: no partial aggregation in:\n$plan")
    }
    // the MAD screen's per-group stats come back by broadcast — the events
    // side must never shuffle for the stat joins
    val mad = finalPlan("q196_mad_outliers")
    assert("BroadcastHashJoin".r.findAllIn(mad).size >= 2,
      s"q196: median/MAD joins must broadcast:\n$mad")
    assert(!mad.contains("SortMergeJoin"),
      s"q196: a stat join fell back to sort-merge:\n$mad")
  }

  test("q270: containment probe reads checkpointed sets — no re-shingle, no cartesian") {
    // both shingle-set frames are materialized once (eager localCheckpoint
    // inside containmentProbe); the prefix/candidate/verify chain reads
    // ONLY those frames, so the final plan holds zero source scans —
    // the standing corpus is never re-shingled per probe (the
    // incremental-dedup contract applied to containment)
    val plan = finalPlan("q270_containment_probe")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 0, s"q270: probe re-scans a source table ($scans):\n$plan")
    assert(plan.contains("ExistingRDD"), s"q270: no checkpointed frame in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"q270: cartesian in:\n$plan")
  }

  test("q272: ingested ANN keeps the brute-force shape — probe side broadcasts") {
    // the JSONL ingest gate must not change the ANN plan: queries
    // broadcast onto the corpus (nested-loop over the bounded probe set),
    // the corpus side never shuffles before the GroupTopK heap
    val plan = finalPlan("q272_ingested_ann")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"q272: probe side must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"q272: ANN fell back to sort-merge:\n$plan")
  }

  test("q266/q276/q278: prefix-filtered joins never plan a cartesian product") {
    // the entire containment/resemblance family generates candidates by
    // TOKEN equi-join (prefix x postings) and verifies row-locally —
    // a cartesian anywhere is the all-pairs design these operators exist
    // to avoid. (The verify exchanges' WIDTH is runtime-sized from the
    // candidate count, so it is asserted by ScaleBench curves, not here.)
    Seq("q266_containment_pairs", "q276_containment_capped",
      "q278_resemblance_probe").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q planned a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q planned a nested-loop join:\n$plan")
    }
  }

  test("q284: the loaded resemblance state enters as a widened checkpoint, " +
      "never a raw state scan; no cartesian") {
    // the first run builds and saves the state (or loads one an earlier
    // run saved), the second always loads it
    finalPlan("q284_resemblance_probe_persisted")
    val plan = finalPlan("q284_resemblance_probe_persisted")
    assert(!plan.contains("CartesianProduct"),
      s"q284 planned a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q284 planned a nested-loop join:\n$plan")
    // loadStateFrame widens the small state frames into checkpoints; a
    // parquet scan of the state dir would be the single-split read
    assert(plan.contains("ExistingRDD"), s"q284: no checkpointed state in:\n$plan")
    assert(!plan.contains("graft_resemb_state"),
      s"q284 scans the persisted state raw:\n$plan")
  }

  test("q301: paragraph dedup is equi-joins + partial aggs — never " +
      "all-pairs, winners combine map-side") {
    val plan = finalPlan("q301_paragraph_dedup")
    assert(!plan.contains("CartesianProduct"),
      s"q301 planned a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q301 planned a nested-loop join:\n$plan")
    // the per-hash winner stats must partial-aggregate before their
    // seg_h exchange — this is the skew defense (a 10^9-copy footer
    // collapses in the map phase). min(struct) buffers plan as
    // SortAggregate; the load-bearing token is the PARTIAL min — if a
    // regression dropped map-side combine, partial_min vanishes from
    // the plan entirely. (No loose "HashAggregate"/"Partial" substring
    // fallbacks: a first draft of this test passed vacuously on the
    // unrelated per-doc ObjectHashAggregate — round-17 review finding.)
    assert(plan.contains("partial_min(struct(doc_id"),
      s"q301 winners min is not map-side partial:\n$plan")
    assert("SortAggregate\\(key=\\[seg_h".r.findFirstIn(plan).isDefined,
      s"q301 winners agg not keyed on the segment hash:\n$plan")
  }

  test("q304/q305: mining corpus never shuffles — probe set, positives " +
      "and shortlist all broadcast") {
    Seq("q304_hard_negatives", "q305_hard_negatives_indexed").foreach { q =>
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q planned a cartesian product:\n$plan")
      assert(plan.contains("BroadcastExchange"),
        s"$q lost its broadcast probe/exclusion sides:\n$plan")
      // the anti-join of labeled positives must stay broadcast — a
      // shuffled anti-join would move the whole scored corpus
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("LeftAnti"),
        s"$q positive exclusion is not a broadcast anti join:\n$plan")
    }
  }

  test("q310: hybrid fusion never plans a cartesian; the dense PRF probe " +
      "broadcasts onto the corpus") {
    val plan = finalPlan("q310_hybrid_rrf")
    assert(!plan.contains("CartesianProduct"),
      s"q310 planned a cartesian product:\n$plan")
    // the 3-row PRF query frame must broadcast (the bruteForceTopK
    // contract) — a shuffled nested loop here would move the corpus
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"q310 dense probe lost its broadcast:\n$plan")
    // RRF's (query, doc) score sum partial-aggregates before its exchange
    assert(plan.contains("partial_sum(__c"),
      s"q310 fusion sum not map-side partial:\n$plan")
  }

  test("q311: indexed hybrid keeps the q305 shape — no cartesian, " +
      "shortlist and PRF probe broadcast, fusion sum partial") {
    val plan = finalPlan("q311_hybrid_indexed")
    assert(!plan.contains("CartesianProduct"),
      s"q311 planned a cartesian product:\n$plan")
    // the dense side is probe + rerank: the candidate pairs and the PRF
    // query frame broadcast onto the corpus codes/vectors — a shuffled
    // join would move the standing corpus per query
    assert(plan.contains("BroadcastExchange"),
      s"q311 lost its broadcast probe/shortlist sides:\n$plan")
    assert(plan.contains("partial_sum(__c"),
      s"q311 fusion sum not map-side partial:\n$plan")
  }

  test("q311: the loaded IVF-PQ parts enter as widened checkpoints, " +
      "never a raw index scan; no cartesian or nested-loop join") {
    // the first run builds and saves the index (or loads one an earlier
    // run saved), the second always loads it
    finalPlan("q311_hybrid_indexed")
    val plan = finalPlan("q311_hybrid_indexed")
    assert(!plan.contains("CartesianProduct"),
      s"q311 planned a cartesian product:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q311 planned a nested-loop join:\n$plan")
    assert(plan.contains("ExistingRDD"), s"q311: no checkpointed index in:\n$plan")
    assert(!plan.contains("graft_ann_index"),
      s"q311 scans the persisted index raw:\n$plan")
  }

  test("q277: the moment matrix is single-scan — one hash exchange like q150") {
    // ALL d(d+1)/2 moments ride ONE GramMoments buffer through ONE
    // groupBy exchange; the pair fan-out is a row-local explode of the
    // single aggregated row per group
    val full = finalPlan("q277_feature_moments")
    val plan = full.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"q277 must have exactly one hash exchange, found $hashExchanges:\n$full")
    assert(!plan.contains("Union"),
      s"q277 must not union per-pair branches:\n$full")
  }
}
