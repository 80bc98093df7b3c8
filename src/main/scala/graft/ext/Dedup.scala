package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{text, vectors}

/** Corpus deduplication operators for large-scale training-data pipelines:
  * exact, MinHash+LSH, SimHash, character-n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale design principles (100 TB target):
  *  - NO cross joins: every candidate-pair generator is an equi-join on an
  *    LSH bucket key (band hash / bit band / hyperplane bucket), so Spark
  *    executes a shuffled hash join whose cost is bucket-local.
  *  - signatures are computed via explode + map-side partial aggregation
  *    (`groupBy(id).agg(min ...)`) — codegen-friendly, skew handled by AQE.
  *  - degenerate buckets (a band shared by thousands of docs — the LSH
  *    analog of stopwords) are dropped with a bounded-size guard before the
  *    self-join, preventing quadratic blowup on skew.
  *  - the "keep" policy is canonical-min-id: a document is dropped iff some
  *    near-duplicate with a smaller id exists. Deterministic, one anti-join;
  *    (no transitive closure — documented, matches common corpus-dedup
  *    practice).
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per identical value of `cols`.
    * Returns survivors with a `dup_count` of how many rows collapsed.
    */
  def exact(df: DataFrame, cols: Seq[String], idCol: String): DataFrame =
    df.groupBy(cols.map(col): _*)
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))

  /** Corpus-level paragraph dedup — the CCNet crawl convention: documents
    * split into delimiter-bounded segments (paragraphs/sentences on
    * `sepPattern`), each segment deduplicated ACROSS the whole corpus by a
    * hash of its normalized form (`md5(lower(trim(seg)))`), surviving
    * segments reassembled per document in original order. Keep policy is
    * first-occurrence: the copy at the globally smallest
    * `(idCol, seg_ord)` survives, every later copy drops. With
    * `dropAboveCount = Some(t)` even the first occurrence drops when the
    * segment's corpus frequency exceeds `t` — the "remove frequent lines"
    * boilerplate filter (site footers, cookie banners, nav chrome).
    *
    * Placement in the family: [[segmentDedup]] (q85) is the
    * drop-EVERY-occurrence screen over fixed-width word chunks (C4's
    * repeated-window rule for unpunctuated text); this one keys on the
    * document's own delimiter structure and KEEPS one canonical copy —
    * CCNet's paragraph rule, where shared boilerplate should survive
    * exactly once in the corpus rather than vanish. The row-local
    * [[graft.functions.text.dedupSegments]] (intra-doc, q131) and
    * [[graft.functions.text.filterShortSegments]] (per-line rule, q133)
    * are codegen'd projections; this one genuinely needs the corpus.
    *
    * Output: one row per input document with non-null text —
    * `(idCol, clean_text, n_total, n_kept)`. Documents whose every
    * segment dropped stay in the output with `clean_text = ""` and
    * `n_kept = 0` so the accounting is complete; filter `n_kept > 0`
    * downstream for the CCNet drop-empty-docs behavior.
    *
    * Scale shape (100 TB): the corpus streams through the explode twice —
    * once into the per-hash `min`/`count` aggregation, once into the
    * winner join — the [[segmentDedup]] trade: the single-scan window
    * formulation (`row_number` over the hash partition) sorts each hash
    * group in ONE task, so a footer occurring 10^9 times melts a single
    * reducer, while the aggregate is map-side combinable and collapses
    * that key in the map phase. Three equi-key shuffles total (agg on
    * seg_h, join on seg_h, reassembly on idCol), never all-pairs; the
    * winner join's skewed keys AQE splits (the winner side is one row per
    * hash). Keys shuffled are 32-char md5 hex, not arbitrary-length
    * paragraphs.
    *
    * `priorSeenHashes` (a frame with a `seg_h` column, see
    * [[paragraphHashes]]) makes the screen incremental: hashes already seen
    * in earlier increments drop at every occurrence, so applying
    * id-ordered increments in order reproduces the one-shot keep-first
    * result exactly — the streaming face
    * [[graft.streaming.CorpusStreams.paragraphDedupStreaming]] builds on
    * this. `dropAboveCount` counts occurrences in THIS frame only — an
    * increment cannot know a segment's historical corpus frequency, so
    * combining the two is REJECTED (round-18 guard): per-increment
    * counts would silently keep early copies of a line that later turns
    * out to be corpus-wide boilerplate. Run the boilerplate mode as a
    * batch pass over the accumulated corpus instead.
    */
  def paragraphDedup(
      df: DataFrame, idCol: String, textCol: String,
      sepPattern: String = "\\. ", joinSep: String = ". ",
      dropAboveCount: Option[Long] = None,
      priorSeenHashes: Option[DataFrame] = None): DataFrame = {
    require(!Seq("seg", "seg_ord", "seg_h", "first_occ", "occ", "keep",
        "prior", "n_total", "n_kept", "clean_text").contains(idCol),
      s"idCol '$idCol' collides with a working column of this operator")
    require(dropAboveCount.isEmpty || priorSeenHashes.isEmpty,
      "dropAboveCount with priorSeenHashes applies PER-INCREMENT " +
        "frequency semantics: occ counts only this frame, so a segment " +
        "that is boilerplate across the corpus but rare in each " +
        "increment silently survives every increment — run the " +
        "remove-frequent-lines mode as a batch pass over the " +
        "accumulated corpus (the paragraphDedupStreaming scaladoc " +
        "contract, now enforced)")
    // posexplode BEFORE the empty-segment filter: seg_ord is the position
    // in the raw split so the keep-first order is stable under any
    // empty-producing separator runs.
    val segs = paragraphHashes(df, idCol, textCol, sepPattern)
    val winners = segs.groupBy(col("seg_h")).agg(
      min(struct(col(idCol), col("seg_ord"))).as("first_occ"),
      count(lit(1)).as("occ"))
    val freqGuard =
      dropAboveCount.map(t => col("occ") <= t).getOrElse(lit(true))
    // incremental ingest (the streaming face): a hash already present in
    // the prior-seen set drops at EVERY occurrence — keep-first then
    // means first in the whole arrival order when increments are applied
    // in order. Left join + null marker (not an anti-join) so n_total
    // still counts the dropped segments.
    val withPrior = priorSeenHashes match {
      case Some(prior) => segs.join(
          prior.select(col("seg_h")).distinct().withColumn("prior", lit(true)),
          Seq("seg_h"), "left")
      case None => segs.withColumn("prior", lit(null).cast("boolean"))
    }
    val flagged = withPrior.join(winners, Seq("seg_h"))
      .withColumn("keep",
        (struct(col(idCol), col("seg_ord")) === col("first_occ")) &&
          freqGuard && col("prior").isNull)
    val perDoc = flagged.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_total"),
      sum(col("keep").cast("long")).as("n_kept"),
      // collect_list skips the nulls the un-kept rows produce; array_sort
      // on the (seg_ord, seg) struct restores document order.
      array_join(
        transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("seg_ord"), col("seg"))))),
          x => x.getField("seg")),
        joinSep).as("clean_text"))
    // complete accounting (round-17 review finding): a doc whose text
    // splits into ONLY empty segments (e.g. ". ") has no rows in `segs`
    // at all — restore it from the input id set so every non-null-text
    // document appears in the output, as the contract above promises.
    // One doc-id-sized left join, co-partitioned with the reassembly.
    df.where(col(textCol).isNotNull).select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** The exploded, normalized-and-hashed segment frame [[paragraphDedup]]
    * dedups over: `(idCol, seg_ord, seg, seg_h)` with `seg_h =
    * md5(lower(trim(seg)))`, ordinals from the RAW split (empty segments
    * filtered after ordinal assignment). Exposed so the incremental
    * ingest path can accumulate the seen-hash set with the exact hash
    * convention the dedup applies.
    */
  def paragraphHashes(
      df: DataFrame, idCol: String, textCol: String,
      sepPattern: String = "\\. "): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(col(idCol),
        posexplode(split(col(textCol), sepPattern)).as(Seq("seg_ord", "seg")))
      .where(col("seg") =!= "")
      .withColumn("seg_h", md5(lower(trim(col("seg")))))

  /** All shingle/gram sets are sorted distinct long arrays produced by the
    * native expressions in [[graft.expressions.GramHashExpressions]] — the
    * interpreted higher-order-function formulation (`transform` + `substr` +
    * `array_distinct`) measured ~17s just to shingle 5k docs; the native
    * single-pass version is >20x faster and is the dominant cost of dedup at
    * scale. Verification math on long arrays also shuffles ~10x fewer bytes
    * than string shingles (2^-64 per-element collision risk).
    */
  private def wordShingleSets(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    df.select(col(idCol),
      graft.expressions.GramHashExpressions
        .wordShingleHashSet(col(textCol), k).as("sh"))

  private def charNgramSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol),
      graft.expressions.GramHashExpressions.charNgramHashSet(
        regexp_replace(lower(trim(col(textCol))), "\\s+", " "), n).as("sh"))

  /** Optional per-document CHAR-GRAM ROUTING for the shingle front-ends
    * (the [[scriptAwareJaccardPairs]] contract packaged as a parameter
    * every screen accepts): documents whose
    * [[graft.functions.text.unspacedRatio]] exceeds `routeAbove` shingle
    * as `charN`-grams of their whitespace-STRIPPED lowercase text —
    * word shingling collapses an unsegmented-script document into one
    * token, making its near-duplicates invisible to every screen. The
    * routing rides in each persisted state's parameter manifest
    * (`encoded` — empty for the word-only default, so existing stored
    * states keep loading) because routed and unrouted gram sets never
    * intersect correctly.
    */
  final case class CharGramRouting(charN: Int = 5, routeAbove: Double = 0.3) {
    require(charN >= 1, "charN must be at least 1")
    require(routeAbove > 0.0 && routeAbove < 1.0,
      "routeAbove must be in (0, 1) — 0 routes blank docs, 1 never routes")
    def encoded: String = s";charN=$charN;routeAbove=$routeAbove"
  }

  /** [[wordShingleSets]] with optional routing — the minhash face's set
    * representation. The word branch keeps the native xxhash64 path; the
    * routed branch uses CODE-POINT `charN`-grams under the portable md5
    * hashing (the [[scriptAwareShingleSets]] char branch) — the native
    * charNgramHashSet windows BYTES, which no SQL oracle can replay on
    * multibyte text (and 5 bytes is only ~1.7 ideographs). The two hash
    * families never collide meaningfully, and a routed doc can never be
    * a near-duplicate of an unrouted one anyway (no shared grams), so
    * signatures, banding and verify stay representation-oblivious.
    */
  private def shingleHashSets(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      route: Option[CharGramRouting]): DataFrame =
    route.fold(wordShingleSets(df, idCol, textCol, k)) { r =>
      val routed =
        graft.functions.text.unspacedRatio(col(textCol)) > r.routeAbove
      val word = df.where(col(textCol).isNotNull && !routed)
        .select(col(idCol), graft.expressions.GramHashExpressions
          .wordShingleHashSet(col(textCol), k).as("sh"))
      val unSets = df.where(col(textCol).isNotNull && routed)
        .select(col(idCol), graft.expressions.PortableGram
          .portableCharGramSet(col(textCol), r.charN).as("sh"))
      word.unionByName(unSets)
    }

  // The routed char path (code-point charN-grams over whitespace-stripped
  // lowercase text, md5-prefix hashing) lives in ONE native expression —
  // graft.expressions.PortableGram.portableCharGramSet — shared by the
  // minhash and portable faces, so the routing contract (normalization,
  // window, hash) the q281/q286/q288 oracles replay can never diverge
  // between screens. Differential parity with the previous composable
  // formulation (explode(sequence) + substr + md5 + conv) is locked by
  // PortableGramSpec.

  /** [[portableShingleSets]] with optional routing — the md5-portable
    * (oracle-replayable) set representation of the containment and
    * resemblance screens.
    */
  private def portableSets(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      route: Option[CharGramRouting]): DataFrame =
    route.fold(portableShingleSets(df, idCol, textCol, k))(r =>
      scriptAwareShingleSets(df, idCol, textCol, k, r.charN, r.routeAbove))

  /** MinHash signatures: `(idCol, sig array<long>)`.
    *
    * All `numHashes` permutation minima are computed in ONE native-
    * expression pass per row ([[graft.expressions.GramHashExpressions
    * .MinHashSignature]]) — no explode, no shuffle, nothing materialized
    * but one array per document. The previous explode + 64-column-min
    * aggregation shuffled a partial-agg row per (doc, partition) and blew
    * the scan up by |grams| rows; signature values are bit-identical
    * (same hash family), so LSH candidate sets are unchanged.
    */
  def minhashSignature(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, shingleK: Int = 3): DataFrame =
    signatureOf(wordShingleSets(df, idCol, textCol, shingleK), idCol, numHashes)

  /** MinHash signature from a hashed gram-set DataFrame `(id, sh)`: one
    * projection; docs with empty gram sets have no signature (dropped,
    * like the explode formulation produced no rows for them).
    */
  private def signatureOf(sets: DataFrame, idCol: String, numHashes: Int): DataFrame =
    sets.select(col(idCol),
      graft.expressions.GramHashExpressions
        .minhashSignature(col("sh"), numHashes).as("sig"))
      .where(col("sig").isNotNull)

  /** LSH banding over a MinHash signature array: emit `(id, band,
    * band_hash)`. Docs agreeing on all rows of any band share a bucket.
    */
  private def bandBuckets(
      sig: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((b * r until (b + 1) * r)
          .map(i => element_at(col("sig"), i + 1)): _*).as("bh"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  /** Drop all rows of (band, bh) buckets holding more than `maxBucket`
    * members — degenerate-content protection, the same role stopword
    * removal plays in text indexing.
    *
    * Formulation note (measured, not guessed): a window count LOOKS worse
    * than an agg + broadcast-anti-join (it sorts the bucket table), but it
    * is the better plan here. The window's single exchange on (band, bh)
    * is exactly the partitioning the downstream self-join needs, and both
    * join sides reuse it (ReuseExchange), so the expensive upstream (gram
    * hashing, signatures) runs ONCE and the shuffle files are written
    * once. The anti-join variant recomputes that upstream for the
    * blacklist aggregation — ~1.6x slower end-to-end on the dedup queries.
    * The sort is over narrow (id, band, bh) rows and is the cheap part.
    */
  private def dropOversizedBuckets(
      buckets: DataFrame, maxBucket: Int): DataFrame =
    buckets
      .withColumn("__bsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("band", "bh")))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")

  /** Ordered candidate pairs from a self-join of already-size-guarded
    * buckets.
    */
  private def pairsFromSizedBuckets(sized: DataFrame, idCol: String): DataFrame = {
    val l = sized.select(col("band"), col("bh"), col(idCol).as("id_l"))
    val r = sized.select(col("band"), col("bh"), col(idCol).as("id_r"))
    l.join(r, Seq("band", "bh"))
      .where(col("id_l") < col("id_r"))
      .select("id_l", "id_r").distinct()
  }

  /** Candidate pairs from bucket equi-join with the skew guard. */
  private def bucketPairs(
      buckets: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    pairsFromSizedBuckets(dropOversizedBuckets(buckets, maxBucket), idCol)

  /** Cap telemetry for the `maxBucket` skew guard: the (band, bh) buckets
    * the minhash family's [[dropOversizedBuckets]] silently removes under
    * the SAME parameters, as `(band, bh, bucket_size, pairs_dropped)`
    * with `pairs_dropped = size*(size-1)/2` (the candidate pairs that
    * bucket would have emitted). Empty output = the cap cost nothing on
    * this corpus; a 100 TB run inspects this BEFORE trusting recall.
    * One bounded aggregation over the banding — no self-join, so the
    * audit is strictly cheaper than the dedup it audits.
    */
  def bucketCapAudit(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, numHashes, shingleK)
    bandBuckets(sig, idCol, numHashes, bands)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)
      .withColumn("pairs_dropped",
        (col("bucket_size") * (col("bucket_size") - 1) / 2).cast("long"))
  }

  /** Differential-testable twin of [[bucketCapAudit]]: the same
    * shingle -> minhash -> band -> bucket-size pipeline over a PORTABLE
    * md5 hash family — permutations 2g/2g+1 of a shingle are the
    * chars-[1,15] and [16,30] 60-bit slices of `md5(g ':' shingle)`, the
    * band key the first 60 bits of md5 over the
    * comma-joined signature slice — so any SQL engine with `md5` rebuilds
    * every bucket size bit-for-bit and the cap telemetry itself sits
    * under the differential gate (the q22 `simhashPortable` /
    * q134-vs-q138 pattern; the production [[bucketCapAudit]]'s
    * xxhash64/native-minhash family is Spark-internal). Tokenization is
    * the house `\s+`-split-drop-empties contract (the q151 BPE
    * convention), shingles are the k-token windows joined by one space,
    * distinct per doc.
    *
    * Same shape and guarantees as the production audit: one bounded
    * aggregation over the banding, `pairs_dropped = s(s-1)/2`, empty
    * output = the cap cost nothing. The md5 family is the measured-cost
    * portable twin, not the production path.
    */
  def bucketCapAuditPortable(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, shingleK: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(numHashes % 2 == 0, "numHashes must be even (two 60-bit " +
      "permutation slices come from each 32-hex md5 digest)")
    val r = numHashes / bands
    def h60(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    // no distinct over the shingle stream: a duplicate shingle cannot
    // change any per-permutation MIN, and the distinct would shuffle the
    // full exploded string stream — without it the min aggregation
    // partial-aggregates map-side and only (doc, numHashes mins) partials
    // cross the wire (the oracle keeps its DISTINCT; min over multiset ==
    // min over set)
    val sh = df.where(col(textCol).isNotNull)
      .select(col(idCol), array_remove(split(col(textCol), "\\s+"), "").as("tk"))
      .where(size(col("tk")) >= shingleK)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(tk) - $shingleK), " +
          s"i -> concat_ws(' ', slice(tk, i + 1, $shingleK)))")).as("s"))
    // permutations 2g and 2g+1 are the [1,15] and [16,30] 60-bit slices of
    // ONE digest md5(g ':' shingle) — half the md5 calls of a digest per
    // permutation, computed in a projection so codegen CSE shares each
    // digest between its two slices
    val hashed = sh.select(col(idCol) +:
      (0 until numHashes / 2).flatMap { g =>
        val m = md5(concat_ws(":", lit(g), col("s")))
        Seq(conv(substring(m, 1, 15), 16, 10).cast("long").as(s"h${2 * g}"),
          conv(substring(m, 16, 15), 16, 10).cast("long").as(s"h${2 * g + 1}"))
      }: _*)
    val mins = (0 until numHashes).map(i => min(col(s"h$i")).as(s"s$i"))
    val sig = hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        h60(concat_ws(",",
          (b * r until (b + 1) * r).map(i => col(s"s$i").cast("string")): _*))
          .as("bh"))
    }
    sig.select(explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bh").as("bh"))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_size"))
      .where(col("bucket_size") > maxBucket)
      .withColumn("pairs_dropped",
        (col("bucket_size") * (col("bucket_size") - 1) / 2).cast("long"))
  }

  /** MinHash-LSH near-duplicate pairs, verified with EXACT Jaccard over the
    * shingle sets. Returns `(id_l, id_r, jaccard)` with `jaccard >=
    * threshold`, `id_l < id_r`.
    */
  def minhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 1000,
      route: Option[CharGramRouting] = None): DataFrame = {
    val sets = shingleHashSets(df, idCol, textCol, shingleK, route)
    val sig = signatureOf(sets, idCol, numHashes)
    val cand = bucketPairs(bandBuckets(sig, idCol, numHashes, bands), idCol, maxBucket)
    verifyJaccard(cand, sets, idCol, threshold)
  }

  /** Exact Jaccard verification of candidate pairs; `id_l` resolves against
    * `setsL`, `id_r` against `setsR` (the same frame for self-dedup, two
    * frames for increment-vs-corpus).
    */
  private def verifyJaccard(
      cand: DataFrame, setsL: DataFrame, setsR: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    cand
      .join(setsL.select(col(idCol).as("id_l"), col("sh").as("sh_l")), Seq("id_l"))
      .join(setsR.select(col(idCol).as("id_r"), col("sh").as("sh_r")), Seq("id_r"))
      // native two-pointer intersect over the sorted distinct hash sets;
      // |union| = |l| + |r| - |∩| for distinct arrays, so the division
      // sees the same exact integers as size(array_union(...)) did
      .withColumn("__ic",
        graft.expressions.SortedIntersect.sortedIntersectCount(
          col("sh_l"), col("sh_r")))
      .withColumn("jaccard",
        col("__ic").cast("double") /
          (size(col("sh_l")) + size(col("sh_r")) - col("__ic")))
      .where(col("jaccard") >= threshold)
      .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))

  private def verifyJaccard(
      cand: DataFrame, sets: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    verifyJaccard(cand, sets, sets, idCol, threshold)

  /** SOFT dedup: keep EVERY document and emit a suppression weight
    * `1 / |near-dup cluster|` instead of dropping — the sampling-time
    * alternative to hard dedup: a downstream sampler that multiplies
    * selection probability (or a trainer that multiplies loss) by the
    * weight sees each cluster contribute ~one document-equivalent in
    * expectation, while intra-cluster VARIETY (the reason not to drop)
    * survives. Composes [[minhashPairs]] + [[connectedComponents]]
    * unchanged — same LSH banding, caps and exact verify as the hard
    * path — so hard and soft dedup agree on what a cluster IS.
    * Singletons weigh 1.0. Output: `(idCol, component, cluster_size,
    * weight)` with weight = round(1/size, 6) (one double division of
    * exact longs — engine-identical, the oracle replays it).
    *
    * Scale shape: the pair stage is the guarded LSH path; the weight
    * stage adds one count per component (map-side combinable) and one
    * component-keyed join — both cluster-frame-sized, never corpus
    * all-pairs.
    */
  def softDedupWeights(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 1000,
      route: Option[CharGramRouting] = None): DataFrame = {
    val cc = connectedComponents(minhashPairs(df, idCol, textCol,
      threshold, numHashes, bands, shingleK, maxBucket, route))
    // labeled feeds BOTH sizes and the final join — checkpoint it so the
    // corpus scan + component join run once per action, not twice (the
    // single-evaluation claim in the scale-shape note above).
    val labeled = labelComponents(df.select(col(idCol)), cc, idCol)
      .localCheckpoint()
    val sizes = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"),
        round(lit(1.0) / col("cluster_size"), 6).as("weight"))
  }

  /** Session shuffle width — "today's plan" width, never below the core
    * count (see the verify-sizing rationale at the containmentPairs call
    * site, the original inline home of this expression).
    */
  private[graft] def sessionWidth(
      spark: org.apache.spark.sql.SparkSession): Int =
    math.max(spark.sparkContext.defaultParallelism,
      spark.conf.get("spark.sql.shuffle.partitions", "200").toInt)

  /** Label every row of `df` with its near-dup component from a
    * [[connectedComponents]] frame (rows absent from any pair label
    * themselves) — the label-join tail shared by the component consumers
    * (soft dedup, savings card, cluster splits, keep-best policies).
    *
    * Both sides are explicitly co-pinned to the session width: the corpus
    * side usually arrives user-repartitioned (the fanOut convention), and
    * joining a user-partitioned side against an AQE-planned side makes
    * Spark bump BOTH sides to AQE's initialPartitionNum (8x the session
    * width here) with partition coalescing defeated — measured 256-task
    * join stages over ~70 KB label frames across this family (optimization
    * round 18; guide §2.4's shared-exchange rule applied). The pinned
    * exchanges carry ids and the label column only, so the pin is cheap at
    * every scale and the join runs at "today's plan" width.
    */
  private[graft] def labelComponents(
      df: DataFrame, cc: DataFrame, idCol: String): DataFrame = {
    val w = sessionWidth(df.sparkSession)
    df.repartition(w, col(idCol))
      .join(cc.select(col("id").as(idCol), col("component"))
        .repartition(w, col(idCol)), Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
  }

  /** Connected components over an undirected near-dup pair list: returns
    * `(id, component)` where `component` is the minimum id reachable through
    * any chain of pairs. Iterative min-label propagation — each round is one
    * equi-join + map-side-combinable min aggregation, and the loop runs
    * O(component diameter) rounds, NOT O(|V|): duplicate clusters are
    * shallow in practice (chains A-B-C, not 1000-link paths), so 3-5 rounds
    * close typical corpora. Labels are localCheckpoint'ed each round so the
    * plan lineage stays flat at scale.
    *
    * Only ids that appear in some pair are returned (singletons are their
    * own component trivially).
    */
  def connectedComponents(
      pairs: DataFrame, idL: String = "id_l", idR: String = "id_r",
      maxIters: Int = 25): DataFrame = {
    val edges = pairs.select(col(idL).as("src"), col(idR).as("dst"))
      .union(pairs.select(col(idR).as("src"), col(idL).as("dst")))
      .distinct().localCheckpoint()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("component").as("nc")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nc")).as("nmin"))
      // ONE checkpoint per round; the convergence probe and the next round's
      // labels are both cheap projections of it. The previous round's
      // checkpoint is released once superseded — without this, maxIters
      // checkpointed copies pile up in executor storage.
      val updated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("component"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("next"))
        .localCheckpoint()
      converged = updated.where(col("next") < col("component")).limit(1).isEmpty
      releaseLocalCheckpoint(labels)
      labels = updated.select(col("id"), col("next").as("component"))
      i += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds — component " +
        "diameter exceeds the bound; raise maxIters")
    // the result only depends on the final round's checkpoint (which the
    // caller now owns); the edge list can be released
    releaseLocalCheckpoint(edges)
    labels
  }

  /** Dedup savings card: the "what did dedup buy us" report — per
    * duplicate-cluster SIZE, how many clusters, their total tokens, the
    * tokens the keep-min-id policy retains, and the tokens saved. The
    * number a curation run publishes next to its data card: size-1 rows
    * are the untouched singletons (saved = 0), the tail rows are the
    * template stamps where the budget went.
    *
    * `(cluster_size, n_clusters, tokens_total, tokens_kept,
    * tokens_saved)`; token currency defaults to the whitespace
    * [[graft.functions.text.tokenCount]] (null text counts 0), the q26
    * oracle convention — pass `tokenCounter` to spend the card in the
    * training run's own currency instead (e.g. a BPE/WordPiece count,
    * the q156/q171 pluggable-counter contract). Representative per
    * cluster = the MIN-id member (the component label itself — `min_by`
    * keeps its token count).
    *
    * Scale: [[minhashPairs]] + [[connectedComponents]] do the heavy work
    * (banded LSH, label propagation — both bounded); the card itself is
    * two map-side-combinable aggregations over the O(docs) labeled frame.
    */
  def savingsCard(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6,
      tokenCounter: Option[Column] = None): DataFrame = {
    val cc = connectedComponents(minhashPairs(df, idCol, textCol, threshold))
    val counter = tokenCounter
      .getOrElse(graft.functions.text.tokenCount(col(textCol)))
    val labeled = labelComponents(
      df.select(col(idCol),
        coalesce(counter.cast("long"), lit(0L)).as("__tok")), cc, idCol)
    val perCluster = labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("sz"), sum(col("__tok")).as("tok_total"),
        min_by(col("__tok"), col(idCol)).as("tok_kept"))
    perCluster.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("tok_total")).as("tokens_total"),
        sum(col("tok_kept")).as("tokens_kept"))
      .withColumn("tokens_saved", col("tokens_total") - col("tokens_kept"))
  }

  /** Release the storage behind a `localCheckpoint`ed frame (or a pure
    * projection of one). `Dataset.unpersist` cannot do this — it talks to
    * the cache manager, and checkpoints live at the RDD level.
    */
  private def releaseLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Survivors after MinHash dedup.
    *
    * `transitive=false` (default): drop any doc having a verified
    * near-duplicate with a smaller id (canonical-min-id policy — one
    * anti-join, but A of A-B, B-C survives alongside C without A-C being
    * verified). `transitive=true`: resolve chains with
    * [[connectedComponents]] and keep exactly one doc (the min id) per
    * component — what corpus dedup usually wants.
    */
  def minhashDedup(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, transitive: Boolean = false,
      route: Option[CharGramRouting] = None): DataFrame = {
    val pairs = minhashPairs(df, idCol, textCol, threshold, numHashes,
      bands, shingleK, route = route)
    val drop =
      if (transitive)
        connectedComponents(pairs).where(col("id") =!= col("component"))
          .select(col("id").as(idCol))
      else pairs.select(col("id_r").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Precomputed MinHash dedup state of a corpus: hashed shingle sets and
    * size-guarded LSH band buckets. Compute ONCE per standing corpus and
    * persist both frames (parquet) — the entire point of incremental dedup
    * is that daily increments never re-shingle the corpus.
    *
    * `params` (hash count, banding, shingling, routing) ride IN the state
    * (the [[ResemblanceState]] convention, round 16): probe faces derive
    * the increment's signature pipeline from them instead of per-call
    * arguments — buckets from mismatched parameters never collide
    * correctly, so a re-pass drift would silently pass every duplicate.
    * No default: a state whose frames were built under other parameters
    * must be LABELED with those parameters, or every probe that trusts
    * the label inherits the silent-no-match failure the label exists to
    * kill (round-16 self-review).
    */
  final case class MinhashState(sets: DataFrame, buckets: DataFrame,
      params: MinhashParams)

  /** Build (or rebuild) the dedup state for a document set. */
  def minhashState(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucket: Int = 1000,
      route: Option[CharGramRouting] = None): MinhashState = {
    val sets = shingleHashSets(df, idCol, textCol, shingleK, route)
    val buckets = dropOversizedBuckets(
      bandBuckets(signatureOf(sets, idCol, numHashes), idCol, numHashes, bands),
      maxBucket)
    MinhashState(sets, buckets, MinhashParams(numHashes, bands, shingleK, route))
  }

  /** [[minhashState]] with both frames eagerly `localCheckpoint`'ed and
    * the buckets DERIVED from the already-checkpointed sets — exactly one
    * shingle/signature pass over `df` no matter how many consumers read
    * the frames afterwards. The streaming-ingest shape: the same
    * checkpointed pair serves the intra-batch verify, the corpus-probe
    * banding AND the accumulating index, where the lazy [[minhashState]]
    * would re-execute its feature pass per action (measured: three
    * passes per micro-batch in the q71 driver before this existed).
    */
  def minhashStateCheckpointed(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3,
      maxBucket: Int = 1000,
      route: Option[CharGramRouting] = None): MinhashState = {
    val sets = shingleHashSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint(true)
    val buckets = dropOversizedBuckets(
      bandBuckets(signatureOf(sets, idCol, numHashes), idCol, numHashes, bands),
      maxBucket).localCheckpoint(true)
    MinhashState(sets, buckets, MinhashParams(numHashes, bands, shingleK, route))
  }

  /** Dedup `incoming` given its PRECOMPUTED state (one feature pass,
    * shared with indexing — see [[minhashStateCheckpointed]]) against an
    * optional standing corpus: canonical keep-first, identical results to
    * [[minhashDedup]] (corpusState = None) / [[minhashDedupAgainst]]
    * (corpusState = Some) — asserted in DedupSpec.
    */
  def minhashDedupWithState(
      incoming: DataFrame, incState: MinhashState,
      corpusState: Option[MinhashState], idCol: String,
      threshold: Double): DataFrame = {
    // cross-state buckets only collide correctly under IDENTICAL
    // signature parameters — fail loudly, never silently miss (the
    // persisted-manifest contract applied to in-memory states)
    corpusState.foreach(cs => require(cs.params == incState.params,
      s"increment state built with [${incState.params.encoded}] but corpus " +
        s"state with [${cs.params.encoded}] — buckets would never match"))
    val dropIntra = verifyJaccard(
      pairsFromSizedBuckets(incState.buckets, idCol), incState.sets, idCol,
      threshold).select(col("id_r").as(idCol))
    val drop = corpusState.fold(dropIntra) { cs =>
      val candCross = incState.buckets
        .select(col("band"), col("bh"), col(idCol).as("id_l"))
        .join(cs.buckets.select(col("band"), col("bh"), col(idCol).as("id_r")),
          Seq("band", "bh"))
        .select("id_l", "id_r").distinct()
      verifyJaccard(candCross, incState.sets, cs.sets, idCol, threshold)
        .select(col("id_l").as(idCol))
        .union(dropIntra)
    }
    incoming.join(drop.distinct(), Seq(idCol), "left_anti")
  }

  /** The signature parameters a persisted [[MinhashState]] was built with.
    * Buckets/signatures from different parameters never collide correctly,
    * so a resume MUST run with the same values — the manifest makes a
    * mismatch fail fast instead of silently passing every duplicate.
    */
  final case class MinhashParams(numHashes: Int, bands: Int, shingleK: Int,
      route: Option[CharGramRouting] = None) {
    // the route suffix is empty for the word-only default, so states
    // persisted before routing existed keep loading
    def encoded: String = s"numHashes=$numHashes;bands=$bands;shingleK=$shingleK" +
      route.map(_.encoded).getOrElse("")
  }

  private val stateManifest = "_GRAFT_STATE"

  /** The ONE manifest codec behind all four persisted dedup states
    * (minhash / containment / resemblance / substring). Each screen used
    * to hand-roll the same delete-write-commit + exists + loud-equality
    * sequence; the contract lives here once:
    *
    *  - crash-safe manifest-LAST save: the manifest (carrying the build
    *    params) is deleted BEFORE the frame writes and committed only
    *    after ALL succeed, so a crash mid-save leaves no manifest and a
    *    torn state is never served;
    *  - completeness = manifest present AND a `_SUCCESS` marker under
    *    every part directory;
    *  - loud parameter equality on load: a state built under different
    *    params would silently find NOTHING (buckets/shingles/windows
    *    from different schemes never join) — the gate turns that into
    *    an immediate error naming both sides.
    *
    * The optional `stale` drift counter rides BESIDE the frames, not in
    * the manifest — the manifest is the parameter-equality gate and
    * staleness varies per save.
    */
  private[ext] object StateManifest {
    private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

    /** Crash-safe save: invalidate, run `writeFrames`, commit params. */
    def save(dir: String, encoded: String)(writeFrames: => Unit): Unit = {
      val manifest = new java.io.File(dir, stateManifest)
      manifest.delete() // invalidate any previous state before touching it
      writeFrames
      java.nio.file.Files.write(manifest.toPath, encoded.getBytes(Utf8))
    }

    /** True when a complete state exists at `dir` (manifest + every
      * part's `_SUCCESS`) — a partial or torn save reads as absent.
      */
    def complete(dir: String, parts: Seq[String]): Boolean =
      new java.io.File(dir, stateManifest).exists() && parts.forall(p =>
        new java.io.File(s"$dir/$p", "_SUCCESS").exists())

    /** Loud parameter-equality gate: fails with both sides named when the
      * stored params differ from `expect`; `consequence` says what the
      * silent failure WOULD have been (the reason the gate exists).
      */
    def check(dir: String, kind: String, expect: String,
        consequence: String): Unit = {
      val stored = new String(
        java.nio.file.Files.readAllBytes(
          new java.io.File(dir, stateManifest).toPath), Utf8)
      require(stored == expect,
        s"$kind at $dir was built with [$stored] but this run uses " +
          s"[$expect] — $consequence; rebuild the state or pass the " +
          "original parameters")
    }

    /** Drift counter beside the frames (missing reads as 0 — states
      * persisted before the counter existed keep loading).
      */
    def saveStale(dir: String, staleDocs: Long): Unit =
      java.nio.file.Files.write(new java.io.File(dir, "stale").toPath,
        staleDocs.toString.getBytes(Utf8))

    def loadStale(dir: String): Long = {
      val f = new java.io.File(dir, "stale")
      if (f.exists())
        new String(java.nio.file.Files.readAllBytes(f.toPath), Utf8).trim.toLong
      else 0L
    }
  }

  /** Persist a [[MinhashState]] to `dir` (parquet `sets/` + `buckets/`) —
    * the between-runs half of the incremental-dedup contract. Both frames
    * are localCheckpoint'ed first, so saving into the SAME directory the
    * state was loaded from is safe (the lazy plans would otherwise still be
    * reading the files being overwritten). The save is crash-safe: the
    * manifest (carrying `params`) is deleted before the writes and recreated
    * only after BOTH succeed, so a crash between the two parquet writes
    * leaves no manifest and the torn pair is never served.
    */
  def saveMinhashState(
      state: MinhashState, dir: String, params: MinhashParams): Unit = {
    val sets = state.sets.localCheckpoint(true)
    val buckets = state.buckets.localCheckpoint(true)
    StateManifest.save(dir, params.encoded) {
      sets.write.mode("overwrite").parquet(s"$dir/sets")
      buckets.write.mode("overwrite").parquet(s"$dir/buckets")
    }
  }

  /** Load a [[MinhashState]] previously written by [[saveMinhashState]].
    * Returns None when no complete state exists at `dir` (manifest + both
    * `_SUCCESS` markers required — a partial or torn save is never served).
    * Fails loudly when the stored parameters differ from `expect`.
    */
  def loadMinhashState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      expect: MinhashParams): Option[MinhashState] = {
    if (!StateManifest.complete(dir, Seq("sets", "buckets"))) None
    else {
      StateManifest.check(dir, "minhash state", expect.encoded,
        "buckets would never match")
      Some(MinhashState(
        spark.read.parquet(s"$dir/sets"), spark.read.parquet(s"$dir/buckets"),
        expect))
    }
  }

  /** Incremental dedup — the daily-increment workflow: drop rows of
    * `incoming` that near-duplicate (exact-verified jaccard >= threshold)
    * ANY corpus row ("corpus wins" — the existing corpus is never
    * touched), or an earlier-id row of `incoming` itself (canonical-min-id
    * within the batch). Only the increment's sets/buckets are computed
    * here; the corpus side comes from `corpusState` — persist it once via
    * [[minhashState]] and re-load per increment.
    */
  def minhashDedupAgainst(
      incoming: DataFrame, corpusState: MinhashState, idCol: String,
      textCol: String, threshold: Double, maxBucket: Int): DataFrame = {
    // the increment's signature pipeline derives FROM THE STATE's params
    // (its scaladoc contract): hashes/banding/shingling/routing from
    // mismatched parameters never bucket-collide correctly, so per-call
    // arguments were a silent-no-match hazard (ADVICE r15)
    val p = corpusState.params
    val inc = minhashState(incoming, idCol, textCol, p.numHashes, p.bands,
      p.shingleK, maxBucket, p.route)
    val candCross = inc.buckets.select(col("band"), col("bh"), col(idCol).as("id_l"))
      .join(corpusState.buckets.select(col("band"), col("bh"), col(idCol).as("id_r")),
        Seq("band", "bh"))
      .select("id_l", "id_r").distinct()
    val dropVsCorpus = verifyJaccard(candCross, inc.sets, corpusState.sets,
      idCol, threshold).select(col("id_l").as(idCol))
    val dropIntra = verifyJaccard(pairsFromSizedBuckets(inc.buckets, idCol),
      inc.sets, idCol, threshold).select(col("id_r").as(idCol))
    incoming.join(dropVsCorpus.union(dropIntra).distinct(), Seq(idCol), "left_anti")
  }

  /** Convenience overload computing the corpus state inline — fine for
    * one-off runs; recurring increments should persist [[minhashState]].
    */
  def minhashDedupAgainst(
      incoming: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      shingleK: Int = 3, maxBucket: Int = 1000,
      route: Option[CharGramRouting] = None): DataFrame =
    minhashDedupAgainst(incoming,
      minhashState(corpus, idCol, textCol, numHashes, bands, shingleK,
        maxBucket, route),
      idCol, textCol, threshold, maxBucket)

  /** Exact-substring overlap pairs — the exact-match counterpart of
    * [[minhashPairs]] (the dedup mode of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): pairs of documents
    * sharing at least one exact run of `windowTokens` consecutive tokens,
    * with the count of distinct shared windows. Returns
    * `(id_l, id_r, n_windows)`, `id_l < id_r`.
    *
    * Matching equi-joins on the window STRING itself by default, so there
    * are no hash-collision false positives — the oracle-exact mode.
    * `hashWindows = true` is the 100 TB mode: windows collapse to an
    * xxhash64 long before the distinct/join, cutting shuffle volume by
    * roughly the window byte width (~10x for 12-token windows).
    *
    * Collision bound (birthday over W distinct windows corpus-wide):
    * expected hash-equal pairs of DIFFERENT windows ~ W^2 / 2^65 — ~1.4 at
    * W = 10^10, ~2.7e4 at W = 10^12. Each such collision inflates ONE
    * document pair's `n_windows` by one (or fabricates a pair at
    * n_windows = 1), spread across the ~|docs|^2/2 possible pairs, and a
    * collision can only ADD matches, never remove a genuine one. So an
    * `n_windows >= 2` threshold absorbs essentially all of it: a spurious
    * pair needs >= 2 INDEPENDENT collisions landing on the same document
    * pair, expected ~ (W^2/2^65)^2 / pairs — vanishing even at 10^12
    * windows (~7e8/|pairs|, i.e. ~1e-9 for a trillion-window corpus's
    * ~1e18 pairs). Behavior under collisions is pinned by a spec that
    * injects a deliberately colliding hash (`DedupSpec`).
    *
    * Windows shared by more than `maxBucket` documents (ubiquitous
    * boilerplate) are dropped before the self-join — the same
    * degenerate-bucket guard as the LSH path, and the reason no stage is
    * all-pairs: work is bounded by sum(group²) over guarded window groups.
    *
    * `route` makes the whole family SCRIPT-AWARE (see [[tokenized]]):
    * unsegmented-script documents window over code points of their
    * whitespace-stripped lowercase text instead of whitespace tokens —
    * without it a CJK document is ONE mega-token, yields no windows, and
    * its exact duplicated runs are invisible to all three operators (the
    * blindness [[scriptAwareJaccardPairs]] fixed for the shingle screens).
    * Spaced-script documents are bit-identical with or without routing.
    */
  def exactSubstringPairs(
      df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8, maxBucket: Int = 1000,
      hashWindows: Boolean = false,
      route: Option[CharGramRouting] = None): DataFrame =
    exactSubstringPairsImpl(df, idCol, textCol, windowTokens, maxBucket,
      if (hashWindows) Some(xxhash64(_)) else None, route)

  /** [[exactSubstringPairs]] with an injectable window-collapse hash —
    * `private[ext]` so the collision-behavior spec can force collisions
    * (a real xxhash64 collision cannot be synthesized in a test).
    */
  private[ext] def exactSubstringPairsImpl(
      df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int, maxBucket: Int,
      collapse: Option[Column => Column],
      route: Option[CharGramRouting] = None): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    // Window generation is ROW-LOCAL: each document's token array yields its
    // complete windows via sequence + posexplode + slice — all codegen'd, no
    // shuffle. (The previous formulation ran lead().over(partitionBy(id)),
    // which shuffled+sorted the entire exploded token stream — at corpus
    // scale an avoidable exchange the size of the token count.) The only
    // shuffles left are the ones the algorithm requires: the per-window
    // distinct/sizing and the candidate equi-join.
    val wins = windowStarts(tokenized(df, idCol, textCol, route), idCol,
        windowTokens)
      .select(col(idCol),
        collapse.fold(col("win"))(h => h(col("win"))).as("win"))
      .distinct()
    val sized = wins
      .withColumn("__wsz", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("win")))
      .where(col("__wsz") <= maxBucket)
      .drop("__wsz")
    sized.as("a").join(sized.as("b"),
        col("a.win") === col("b.win") && col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_l"), col(s"b.$idCol").as("id_r"))
      .agg(count(lit(1)).as("n_windows"))
  }

  /** The APPLY step of exact-substring dedup (the output of Lee et al. 2021
    * "Deduplicating Training Data Makes Language Models Better" §3.2 —
    * cleaned TEXT, not candidate pairs; [[exactSubstringPairs]] is the
    * diagnostic view of the same window match).
    *
    * Keep-first contract: every `windowTokens`-token window is claimed by
    * the minimum doc id containing it; in every HIGHER-id document, all
    * token positions covered by any claimed window are removed, and the
    * surviving tokens are rejoined with single spaces. The keeper document
    * keeps all its occurrences (including internal repetitions — this
    * operator removes cross-document duplication; [[segmentDedup]] handles
    * corpus-frequent boilerplate). Deterministic: no RNG, no ties (min id
    * is unique per window).
    *
    * Returns `(idCol, clean_text, n_total, n_kept)` — one row per input
    * row, [[segmentDedup]]'s contract: fully-deduplicated documents survive
    * with empty text so downstream length filters see them.
    *
    * Scale: this path never forms document PAIRS at all — the window claim
    * is one map-side-combinable `groupBy(win).agg(min(id))` and one
    * equi-join back, so cost is linear in window count with no quadratic
    * stage and no `maxBucket` guard needed (a window shared by a million
    * docs still aggregates to one keeper row). Window generation is the
    * row-local sequence+slice build (no token-stream shuffle, see
    * [[exactSubstringPairs]]); coverage union and text rebuild are
    * row-local array ops — `array_except` is hash-set backed, so rebuild is
    * O(tokens + matches·window) per document, not O(tokens·matches).
    */
  def exactSubstringDedup(
      df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8,
      route: Option[CharGramRouting] = None): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    val toks = tokenized(df, idCol, textCol, route)
    val wins = windowStarts(toks, idCol, windowTokens)
    // keep-first as ONE window pass: min(id) over (partition by win) then
    // filter id > min. The groupBy(win) + join-back formulation shuffled
    // the full window-occurrence frame TWICE on the 12-token win strings
    // (the largest intermediate of the whole operator); the window
    // function computes the keeper in the same exchange it reads.
    val keepWin = org.apache.spark.sql.expressions.Window.partitionBy("win")
    val starts = wins
      .withColumn("__keeper", min(col(idCol)).over(keepWin))
      .where(col(idCol) > col("__keeper"))
      .groupBy(col(idCol))
      .agg(collect_set(col("__start")).as("__starts"))
    rebuildWithoutSpans(toks, starts, idCol, windowTokens)
  }

  /** Standing exact-substring index: the distinct corpus windows PLUS
    * the parameters that produced them — the state-carried-params
    * convention (round-16 self-review: a routed index probed with word
    * windows, or an 8-token index probed at 12, never equi-joins and
    * silently finds NOTHING; carrying the params in the index turns the
    * drift into a derived pipeline instead of a per-call argument).
    * [[union]] merges increment indexes and fails loudly on a mismatch.
    * Persist `windows` like any table (parquet) and reconstruct with the
    * SAME params — the probe derives its windowing from the index.
    */
  final case class SubstringIndex(
      windows: DataFrame, windowTokens: Int,
      route: Option[CharGramRouting]) {
    require(windows.columns.contains("win"),
      "index frame must have a 'win' column (exactSubstringWindows output)")
    def union(other: SubstringIndex): SubstringIndex = {
      require(windowTokens == other.windowTokens && route == other.route,
        s"substring index params differ (windowTokens $windowTokens vs " +
          s"${other.windowTokens}, route $route vs ${other.route}) — " +
          "their windows never equi-join; rebuild under one scheme")
      SubstringIndex(windows.union(other.windows).distinct(),
        windowTokens, route)
    }
  }

  /** Persist a [[SubstringIndex]]: windows as parquet, parameters as the
    * loud-equality manifest (the [[saveContainmentState]] convention —
    * completing the persisted-state family: all four screens now carry
    * their build parameters to disk and fail loudly on a mismatched
    * resume instead of silently finding nothing).
    */
  def saveSubstringIndex(index: SubstringIndex, dir: String): Unit = {
    val windows = index.windows.localCheckpoint(true)
    StateManifest.save(dir, substringEncoded(index.windowTokens, index.route)) {
      windows.write.mode("overwrite").parquet(s"$dir/windows")
    }
  }

  /** The substring index's manifest encoding — its `MinhashParams.encoded`
    * analog (the index's params live on [[SubstringIndex]] itself, so the
    * encoding is a function, not a params case class).
    */
  private def substringEncoded(
      windowTokens: Int, route: Option[CharGramRouting]): String =
    s"windowTokens=$windowTokens" + route.map(_.encoded).getOrElse("")

  /** Load a [[SubstringIndex]] written by [[saveSubstringIndex]]; None
    * when no complete index exists, loud failure on a parameter mismatch.
    */
  def loadSubstringIndex(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      windowTokens: Int,
      route: Option[CharGramRouting] = None): Option[SubstringIndex] = {
    if (!StateManifest.complete(dir, Seq("windows"))) None
    else {
      StateManifest.check(dir, "substring index",
        substringEncoded(windowTokens, route),
        "windows would never equi-join")
      Some(SubstringIndex(spark.read.parquet(s"$dir/windows"),
        windowTokens, route))
    }
  }

  /** Persist a paragraph-dedup seen-hash state (the `priorSeenHashes` frame
    * [[paragraphDedup]] screens against): the distinct `seg_h` values as
    * parquet, the split pattern as the loud-equality manifest — the FIFTH
    * member of the persisted-screen family (minhash / containment /
    * resemblance / substring / segment), on the same crash-safe codec.
    * A state built under a different `sepPattern` would hash different
    * segment boundaries and silently pass every duplicate; the manifest
    * turns that into an immediate error.
    */
  def saveParagraphState(
      seenHashes: DataFrame, dir: String, sepPattern: String = "\\. "): Unit = {
    val hashes = seenHashes.select(col("seg_h")).distinct().localCheckpoint(true)
    StateManifest.save(dir, s"sepPattern=$sepPattern") {
      hashes.write.mode("overwrite").parquet(s"$dir/hashes")
    }
  }

  /** Load a seen-hash state written by [[saveParagraphState]]; None when no
    * complete state exists, loud failure on a split-pattern mismatch.
    */
  def loadParagraphState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      sepPattern: String = "\\. "): Option[DataFrame] = {
    if (!StateManifest.complete(dir, Seq("hashes"))) None
    else {
      StateManifest.check(dir, "paragraph-dedup state",
        s"sepPattern=$sepPattern",
        "differently-bounded segments would all read as fresh")
      Some(spark.read.parquet(s"$dir/hashes"))
    }
  }

  /** The standing-corpus window index for [[exactSubstringDedupAgainst]]:
    * the distinct `windowTokens`-token windows of `df`, carried WITH the
    * parameters that built them. Union new batches' windows in via
    * [[SubstringIndex.union]] — the corpus is never re-tokenized on
    * later increments (the substring analog of [[minhashState]]).
    */
  def exactSubstringWindows(
      df: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8,
      route: Option[CharGramRouting] = None): SubstringIndex = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    SubstringIndex(
      windowStarts(tokenized(df, idCol, textCol, route), idCol, windowTokens)
        .select(col("win")).distinct(),
      windowTokens, route)
  }

  /** Incremental APPLY: clean an incoming batch against a STANDING corpus —
    * every span of `incoming` covered by a window already in
    * `corpusWindows` (see [[exactSubstringWindows]]) is removed (the corpus
    * always wins), and windows new in this batch follow the intra-batch
    * keep-first rule (min incoming id claims them). EXACTLY equivalent to
    * running [[exactSubstringDedup]] over corpus-union-batch and keeping
    * the batch rows, whenever corpus ids precede batch ids — the
    * equivalence a spec asserts — but the corpus is never re-tokenized:
    * increment cost is batch windows + one semi-join against the index.
    * Same output contract and same no-pair-stage scale shape as
    * [[exactSubstringDedup]].
    */
  def exactSubstringDedupAgainst(
      incoming: DataFrame, index: SubstringIndex,
      idCol: String, textCol: String): DataFrame = {
    // windowing and routing DERIVE from the index (the state-carried
    // params convention): a per-call argument here was the one remaining
    // silent-drift hole after round 16 moved the three shingle states to
    // carried params — mismatched windows simply never equi-join
    val windowTokens = index.windowTokens
    val corpusWindows = index.windows
    val toks = tokenized(incoming, idCol, textCol, index.route)
    val wins = windowStarts(toks, idCol, windowTokens)
    // corpus-claimed occurrences: semi-join against the standing index
    val corpusHit = wins.join(corpusWindows.select("win"), Seq("win"), "left_semi")
      .select(col(idCol), col("__start"))
    // batch-internal keep-first on windows the corpus does NOT hold.
    // Deliberately NOT the window-min rewrite exactSubstringDedup uses:
    // the anti-join already partitioned `fresh` by win, so the groupBy +
    // join-back both reuse that exchange (zero new shuffles, hash agg
    // only), while a window function would add a full sort of the
    // occurrence frame by the 12-token win strings — measured slower.
    val fresh = wins.join(corpusWindows.select("win"), Seq("win"), "left_anti")
    val keeper = fresh.groupBy(col("win")).agg(min(col(idCol)).as("__keeper"))
    val batchHit = fresh.join(keeper, "win")
      .where(col(idCol) > col("__keeper"))
      .select(col(idCol), col("__start"))
    val starts = corpusHit.union(batchHit)
      .groupBy(col(idCol))
      .agg(collect_set(col("__start")).as("__starts"))
    rebuildWithoutSpans(toks, starts, idCol, windowTokens)
  }

  /** Tokenized frame `(idCol, __toks, __routed)` shared by the exact-
    * substring family. Word tokens ([[graft.functions.text.tokens]]) by
    * default; with `route`, documents whose [[graft.functions.text
    * .unspacedRatio]] exceeds `routeAbove` tokenize as single CODE POINTS
    * of their whitespace-STRIPPED lowercase text — for unsegmented
    * scripts the code point IS the token unit (the `segTokenCount`
    * convention), so a `windowTokens` window is `windowTokens`
    * consecutive ideographs where the whitespace tokenizer would glue
    * the whole document into ONE mega-token and every cross-document
    * run would go undetected. `route.charN` is a shingle-width dial and
    * deliberately does NOT apply here: substring windows have their own
    * width parameter. Routed windows join with NO separator and word
    * windows always contain a space (`windowTokens >= 2`), so the two
    * families can never equi-join — cross-script text is different
    * content, not a duplicate.
    */
  private[ext] def tokenized(df: DataFrame, idCol: String, textCol: String,
      route: Option[CharGramRouting] = None): DataFrame =
    route match {
      case None =>
        df.select(col(idCol),
          graft.functions.text.tokens(col(textCol)).as("__toks"),
          lit(false).as("__routed"))
      case Some(r) =>
        val routed =
          graft.functions.text.unspacedRatio(col(textCol)) > r.routeAbove
        // split on the empty pattern emits one element per code point
        // plus boundary empties (Java split semantics, limit -1);
        // array_remove drops them codegen-side — no interpreted HOF
        val charToks = array_remove(
          split(regexp_replace(lower(col(textCol)), "\\s+", ""), ""), "")
        df.select(col(idCol),
          when(routed, charToks)
            .otherwise(graft.functions.text.tokens(col(textCol)))
            .as("__toks"),
          coalesce(routed, lit(false)).as("__routed"))
    }

  /** Row-local window generation over [[tokenized]] output:
    * `(idCol, __start, win)` — one row per window OCCURRENCE. Word-path
    * windows join tokens with one space; routed (code-point) windows
    * concatenate bare — the contiguous `windowTokens`-char run of the
    * stripped text, exactly what a SQL oracle replays with
    * `substring(norm, i, windowTokens)`.
    */
  private[ext] def windowStarts(
      toks: DataFrame, idCol: String, windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.functions.{size => arrayLen}
    val win = slice(col("__toks"), col("__start") + 1, lit(windowTokens))
    toks
      .where(arrayLen(col("__toks")) >= windowTokens)
      .select(col(idCol), col("__toks"), col("__routed"),
        posexplode(sequence(lit(0), arrayLen(col("__toks")) - windowTokens, lit(1)))
          .as(Seq("__i", "__start")))
      .select(col(idCol), col("__start"),
        when(col("__routed"), array_join(win, ""))
          .otherwise(concat_ws(" ", win)).as("win"))
  }

  /** Rebuild text from `toks` minus the `windowTokens`-wide spans at
    * `__starts` (per-id start arrays): the shared apply-step tail —
    * row-local span union (`array_except` is hash-set backed) and token
    * rejoin, `(idCol, clean_text, n_total, n_kept)` out. Routed rows
    * rejoin their surviving code points with NO separator (their "word"
    * unit is the character) and count positions in code points —
    * `n_total`/`n_kept` are in each document's OWN token currency, the
    * [[graft.functions.text.segTokenCount]] convention.
    */
  private def rebuildWithoutSpans(
      toks: DataFrame, starts: DataFrame, idCol: String,
      windowTokens: Int): DataFrame = {
    import org.apache.spark.sql.functions.{size => arrayLen}
    val covered = array_distinct(flatten(transform(col("__starts"),
      s => sequence(s, s + windowTokens - 1))))
    val keptPos = when(coalesce(arrayLen(col("__toks")), lit(0)) === 0,
        array().cast("array<int>"))
      .otherwise(array_except(
        sequence(lit(0), arrayLen(col("__toks")) - 1, lit(1)),
        coalesce(covered, array().cast("array<int>"))))
    val keptToks = transform(keptPos, p => element_at(col("__toks"), p + 1))
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__routed"), array_join(keptToks, ""))
          .otherwise(array_join(keptToks, " ")).as("clean_text"),
        coalesce(arrayLen(col("__toks")), lit(0)).cast("long").as("n_total"),
        arrayLen(keptPos).cast("long").as("n_kept"))
  }

  /** EXACT all-pairs token-Jaccard join at `threshold` via prefix
    * filtering (Bayardo/Chaudhuri AllPairs, the Vernica et al. SIGMOD'10
    * distributed formulation) — the exact complement to the MinHash-LSH
    * family: zero false negatives by construction, no banding recall
    * curve. Returns `(id_l, id_r, jaccard)` rounded to 6 dp.
    *
    * Completeness: tokens are globally ordered by (df, token) — rarest
    * first; each document joins only its PREFIX of `|X| - ceil(t|X|) + 1`
    * tokens. For any pair with `jaccard >= t` the overlap `o` satisfies
    * `o >= ceil(t|A|)` and `o >= ceil(t|B|)`, and the globally-smallest
    * shared token must sit inside BOTH prefixes (if it were past A's
    * prefix, the `>= |A| - ceil(t|A|) + 1` elements before it would all be
    * non-shared, forcing `o < ceil(t|A|)` — contradiction). So the prefix
    * equi-join loses nothing, and rare-token prefixes keep per-token
    * fan-out small exactly because prefixes hold each document's LOWEST-df
    * tokens. A length prune (`t|A| <= |B|`, symmetric) cuts candidates
    * before verification; verification is row-local `array_intersect`
    * over the two token arrays carried by equi-joins.
    */
  /** Portable hashed shingle SETS `(doc, toks sorted array<long>)` — the
    * shared front end of [[allPairsJaccard]] and [[containmentPairs]].
    *
    * Set elements are shingleK-word shingles, not bare tokens: a small
    * vocabulary makes every token common (prefix filtering needs RARE
    * elements to exist), while shingles stay diverse on any corpus —
    * the same reason minhash ([[wordShingleSets]]) shingles. Fewer than
    * shingleK tokens -> one whole-document shingle. Window build is the
    * codegen-safe explode(sequence)+slice+concat_ws shape
    * ([[graft.ext.Vocab.ngramFrequencies]]) — a transform() lambda here
    * runs interpreted and dominates the whole join.
    *
    * Shingle strings are heavy join keys and heavy array payloads; the
    * portable 60-bit md5 hash shrinks every downstream shuffle, sort and
    * intersect to longs. The ORACLE applies the same hash, so parity is
    * exact by construction (a collision would merge the same elements on
    * both sides); collision odds at 2^60 are ~|shingles|^2 / 2^61.
    * collect_set dedups map-side INSIDE the one per-doc aggregation —
    * no separate distinct pass; sort_array(long) gives the deterministic
    * set representation downstream groupBys key on.
    */
  private[graft] def portableShingleSets(
      df: DataFrame, idCol: String, textCol: String, shingleK: Int): DataFrame =
    // tokenization stays the SQL text.tokens column (so boundaries cannot
    // drift from the oracles); the window + md5-prefix + distinct + sort
    // pipeline runs in one native pass per document — the composable
    // explode + concat_ws + md5 + collect_set form shuffled a row per
    // gram and measured 23 s run / 14 s CPU just to shingle the 5k-doc
    // CJK corpus (optimization round 18; differential parity locked by
    // PortableGramSpec)
    df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), graft.expressions.PortableGram
        .portableWordShingleSet(text.tokens(col(textCol)), shingleK)
        .as("toks"))

  /** [[portableShingleSets]] with per-document SCRIPT ROUTING: documents
    * whose [[graft.functions.text.unspacedRatio]] exceeds `routeAbove`
    * shingle as code-point `charN`-grams of their whitespace-stripped
    * lowercase text (whole string when shorter — the one-gram degenerate,
    * mirroring the word path's short-doc single shingle); the rest take
    * the word-`wordK` path unchanged. Whitespace is STRIPPED, not
    * collapsed, on the routed path: spacing in unsegmented scripts is
    * typographic noise (a CJK doc pasted with stray spaces must hash like
    * its unspaced twin). Same md5-prefix long hashing as the word path,
    * so routed and unrouted sets share one representation and every
    * downstream consumer (clusters, df, prefixes, verify) is
    * script-oblivious. Both branches stay explode + codegen'd scalar ops
    * — no higher-order-function lambdas (the portableShingleSets
    * argument).
    */
  private[graft] def scriptAwareShingleSets(
      df: DataFrame, idCol: String, textCol: String,
      wordK: Int, charN: Int, routeAbove: Double): DataFrame = {
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"), col(textCol).as("__txt"),
        (graft.functions.text.unspacedRatio(col(textCol)) > routeAbove)
          .as("__routed"))
    // each document takes exactly one branch, and each branch builds the
    // per-doc sorted distinct set natively (see portableShingleSets) —
    // no per-gram rows, no collect_set exchange
    val sp = base.where(!col("__routed"))
      .select(col("doc"), graft.expressions.PortableGram
        .portableWordShingleSet(
          graft.functions.text.tokens(col("__txt")), wordK).as("toks"))
    val un = base.where(col("__routed"))
      .select(col("doc"), graft.expressions.PortableGram
        .portableCharGramSet(col("__txt"), charN).as("toks"))
    sp.unionByName(un)
  }

  /** Distinct-set cluster frame shared by [[allPairsJaccard]] and
    * [[allPairsCapAudit]].
    *
    * COLLAPSE identical token sets before any pair work: template-stamped
    * corpora put hundreds of documents on one token set, and a cluster of
    * size s would inject s^2 copies of the same rare tokens into the
    * prefix join. Grouping by the set makes each ONE row in candidate
    * generation — the cluster quadratic survives only where it is the
    * contract: enumerating the output pairs. Members sorted for ordered
    * expansion.
    *
    * Many downstream branches consume this frame (within-pairs, df
    * build, ordering, both verify sides); without materialization each
    * re-runs the whole corpus scan+shingle+collect pipeline — measured
    * 1.5x the query. localCheckpoint keeps it distributed (one block
    * per partition, |distinct sets| rows — the collapsed frame, not
    * the corpus) and is dropped by the ContextCleaner with the plan.
    */
  private def allPairsClusters(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int): DataFrame =
    clustersOfSets(portableShingleSets(df, idCol, textCol, shingleK), threshold)

  /** [[allPairsClusters]] over a PREBUILT `(doc, toks)` sets frame — the
    * seam that lets alternative shingling front-ends (script-aware
    * routing, precomputed states) reuse the identical-set collapse and
    * everything downstream of it.
    */
  private def clustersOfSets(sets: DataFrame, threshold: Double): DataFrame =
    sets
      .groupBy(col("toks"))
      .agg(sort_array(collect_list(col("doc"))).as("members"))
      .select(col("toks"), col("members"),
        col("members").getItem(0).as("rep"), size(col("toks")).as("sz"),
        // floor((1-t)|X|) + 2, NOT |X| - ceil(t|X|) + 1: the two agree in
        // exact arithmetic (+1 slack), but double 0.8/0.9 round UP, so at
        // integral t|X| the ceil form lands one BELOW the exact bound and
        // the prefix can miss a boundary witness — the containmentPrefix
        // +2 rationale, applied to the symmetric face (round 15; the ceil
        // form shipped without slack since q199)
        (floor(lit(1.0 - threshold) * size(col("toks"))) + 2)
          .cast("int").as("__pl"))
      .localCheckpoint()

  /** Per-set rarest-first prefix rows `(rep, sz, token, __df)` over the
    * cluster frame — the AllPairs candidate generator, df attached so
    * the ubiquity cap and its audit key on it without a second join.
    *
    * Element frequencies and the rarest-first prefix ordering are
    * computed over DISTINCT SETS (reps), not documents — set-level df is
    * what prefix selectivity needs (a 10k-doc template cluster must not
    * make its tokens look common), and the frame is |reps| x |set| rows,
    * tiny next to the corpus (AQE broadcasts the df attach on its own —
    * an explicit hint here defeats ReusedExchange across the branches
    * that share the cluster frame, recomputing the whole upstream).
    */
  private def allPairsPrefix(clusters: DataFrame): DataFrame = {
    val repTok = clusters.select(col("rep"), col("sz"), explode(col("toks")).as("token"))
    val dfreq = repTok.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val ordered = repTok.join(dfreq, Seq("token"))
      .groupBy(col("rep"))
      .agg(array_sort(collect_list(struct(col("__df"), col("token"))))
        .as("ost"))
    clusters.select(col("rep"), col("sz"), col("__pl"))
      .join(ordered, Seq("rep"))
      .select(col("rep"), col("sz"),
        explode(slice(col("ost"), lit(1), col("__pl"))).as("st"))
      .select(col("rep"), col("sz"),
        col("st.token").as("token"), col("st.__df").as("__df"))
  }

  /** Ubiquity-cap telemetry for [[allPairsJaccard]] — the q155/q159
    * cap-audit convention on the AllPairs prefix join: the prefix rows a
    * `maxDf` cap would drop, one row per capped token with its SET-level
    * document frequency and how many distinct-set prefixes carried it
    * (`df * n_prefix_sets` bounds the candidate fan-out the cap saves).
    * A qualifying pair is lost only when every shared prefix token
    * appears here — the loud report the capped join's recall trade rests
    * on. Returns `(token, df, n_prefix_sets)`; empty when nothing caps.
    */
  def allPairsCapAudit(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, shingleK: Int = 3,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    require(shingleK >= 1, "shingleK must be at least 1")
    allPairsPrefix(allPairsClusters(df, idCol, textCol, threshold, shingleK))
      .where(col("__df") > maxDf)
      .groupBy(col("token"), col("__df"))
      .agg(count(lit(1)).as("n_prefix_sets"))
      .select(col("token"), col("__df").as("df"), col("n_prefix_sets"))
  }

  def allPairsJaccard(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, shingleK: Int = 3,
      maxDf: Long = Long.MaxValue,
      adviseAbove: Long = DefaultAdviseCandidates,
      failAbove: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    require(shingleK >= 1, "shingleK must be at least 1")
    allPairsOnClusters(
      allPairsClusters(df, idCol, textCol, threshold, shingleK),
      threshold, maxDf, adviseAbove, failAbove)
  }

  /** SCRIPT-AWARE exact all-pairs Jaccard: per-document routing between
    * word-`wordK`-shingles (spaced scripts) and code-point `charN`-grams
    * over whitespace-stripped lowercase text (unsegmented scripts —
    * detection via [[graft.functions.text.unspacedRatio]] `> routeAbove`).
    * The whitespace tokenizer glues an unspaced ideograph run into ONE
    * token, so word-shingle dedup sees every CJK/Thai/Khmer document as a
    * single-shingle set and near-duplicates become invisible; char-grams
    * restore them. On a pure spaced-script corpus results EQUAL
    * [[allPairsJaccard]] at the same `wordK` (routing never fires).
    * Cross-script pairs share no grams by construction (word shingles
    * carry spaces, stripped char grams cannot) — a document and its
    * translation are different content, not near-duplicates. Same
    * AllPairs machinery downstream: identical-set collapse, set-level df,
    * Bayardo prefix filter, ubiquity cap, exact row-local verify.
    */
  def scriptAwareJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, wordK: Int = 3, charN: Int = 5,
      routeAbove: Double = 0.3, maxDf: Long = Long.MaxValue,
      adviseAbove: Long = DefaultAdviseCandidates,
      failAbove: Boolean = false): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    require(wordK >= 1, "wordK must be at least 1")
    require(charN >= 1, "charN must be at least 1")
    require(routeAbove > 0.0 && routeAbove < 1.0,
      "routeAbove must be in (0, 1) — 0 routes blank docs, 1 never routes")
    allPairsOnClusters(
      clustersOfSets(
        scriptAwareShingleSets(df, idCol, textCol, wordK, charN, routeAbove),
        threshold),
      threshold, maxDf, adviseAbove, failAbove)
  }

  /** The AllPairs pair engine over a prebuilt cluster frame — shared by
    * [[allPairsJaccard]] and [[scriptAwareJaccardPairs]] so the prefix
    * bound, the cap and the verify can never diverge between them.
    */
  private def allPairsOnClusters(
      clusters: DataFrame, threshold: Double, maxDf: Long,
      adviseAbove: Long = DefaultAdviseCandidates,
      failAbove: Boolean = false): DataFrame = {
    // within-cluster pairs: identical sets, jaccard exactly 1.0
    val within = clusters.where(size(col("members")) >= 2)
      .select(explode(col("members")).as("id_l"), col("members"))
      .select(col("id_l"), explode(col("members")).as("id_r"))
      .where(col("id_l") < col("id_r"))
      .select(col("id_l"), col("id_r"), lit(1.0).as("jaccard"))
    // cross-cluster: AllPairs prefix filtering over one row per DISTINCT
    // set; the ubiquity cap (capPrefix — default off, the containment
    // convention) bounds per-token fan-out on skewed corpora.
    // Checkpointed: the pre-flight gate's mass report and the candidate
    // join both read the prefix blocks (one build, two consumers)
    val prefix = capPrefix(allPairsPrefix(clusters), maxDf).localCheckpoint()
    // default-ON pre-flight: the (post-cap) prefix mass bounds the
    // candidate rows the equi-join below will materialize — warn/fail
    // BEFORE the melt, the q283 advisor run by the join itself
    gateOpenJoin(prefix, adviseAbove, failAbove, "all-pairs jaccard join",
      selfJoin = true)
    val cand = prefix.select(col("token"), col("rep").as("rl"), col("sz").as("__szl"))
      .join(prefix.select(col("token"), col("rep").as("rr"), col("sz").as("__szr")),
        Seq("token"))
      .where(col("rl") < col("rr") &&
        lit(threshold) * col("__szl") <= col("__szr") &&
        lit(threshold) * col("__szr") <= col("__szl"))
      .select(col("rl"), col("rr")).distinct()
      // materialized so its COUNT can size the verify shuffles — the
      // containmentPairs verifyPartitionsFor convention, which this face
      // lacked until the q281 25x curve went super-linear (44x wall on
      // 25x data): char-gram shingle sets are ~5x the word-shingle
      // payload, and at a fixed session width the verify joins drive
      // 25x intersect bytes into the same buckets and spill
      .localCheckpoint()
    val nCand = cand.count()
    val spark = clusters.sparkSession
    val width = sessionWidth(spark)
    // ONE stats action on the checkpointed cluster frame: row count and
    // the average toks/members widths size both the verify shuffle width
    // and the broadcast gate below
    val cstats = clusters.agg(count(lit(1)),
      coalesce(avg(size(col("toks"))), lit(0.0)),
      coalesce(avg(size(col("members"))), lit(0.0))).head()
    val (nSets, avgSz, avgMembers) =
      (cstats.getLong(0), cstats.getDouble(1), cstats.getDouble(2))
    val verifyParts =
      if (nCand == 0) width else verifyPartitionsFor(nCand, avgSz, width)
    val side = clusters.select(col("rep"), col("toks"), col("members"))
    val sideL = side.select(col("rep").as("rl"), col("toks").as("__tl"),
      col("members").as("__ml"))
    val sideR = side.select(col("rep").as("rr"), col("toks").as("__tr"),
      col("members").as("__mr"))
    // MEASURED broadcast gate on the verify joins (the probe-face
    // convention, probeBroadcastBudget): the sized sort-merge chain below
    // re-shuffles every candidate row WITH its attached shingle array
    // between the two joins — measured 450 MB shuffled and ~60 s of
    // executor time for a 5k-doc corpus whose distinct-set side is 20 MB
    // (guide §8's move-payloads-once rule). When the side frame fits the
    // driver-derived budget, broadcast it into BOTH joins: the only
    // exchange left is the candidate id-pair spread, and each shingle
    // array crosses the wire once per executor instead of once per
    // candidate. Over budget (a corpus-sized side) the sized chain stands.
    // ADVICE r18: the plan broadcasts the side frame TWICE (sideL and
    // sideR are both hinted below), so the gate compares BOTH copies
    // against the budget; member ids may be strings (24 B/element covers
    // a short UTF8String where longs need 8), and the hashed-relation
    // build overhead is already priced into probeBroadcastBudget's /8
    // heap derivation.
    val sideBytes = 2L * (nSets * (avgSz * 8 + avgMembers * 24 + 64)).toLong
    val bcastVerify = nCand > 0 &&
      sideBytes <= probeBroadcastBudget(spark)
    val joined =
      if (bcastVerify)
        // keyless spread of the checkpointed id-pair frame: round-robin
        // balances the intersect work even when one rep is hot
        cand.repartition(verifyParts)
          .join(broadcast(sideL), Seq("rl"))
          .join(broadcast(sideR), Seq("rr"))
      else
        cand.repartition(verifyParts, col("rl"))
          .join(sideL.repartition(verifyParts, col("rl")), Seq("rl"))
          .repartition(verifyParts, col("rr"))
          .join(sideR.repartition(verifyParts, col("rr")), Seq("rr"))
    val cross = joined
      .withColumn("__ic", graft.expressions.SortedIntersect.sortedIntersectCount(col("__tl"), col("__tr")))
      .withColumn("__jac", col("__ic").cast("double") /
        (size(col("__tl")) + size(col("__tr")) - col("__ic")))
      .where(col("__jac") >= threshold)
      .select(explode(col("__ml")).as("a"), col("__mr"), col("__jac"))
      .select(col("a"), explode(col("__mr")).as("b"), col("__jac"))
      .select(least(col("a"), col("b")).as("id_l"),
        greatest(col("a"), col("b")).as("id_r"), col("__jac").as("jaccard"))
    within.unionByName(
      cross.select(col("id_l"), col("id_r"), col("jaccard")))
      .select(col("id_l"), col("id_r"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** EXACT shingle-CONTAINMENT join: ordered pairs where at least `tau` of
    * the PART document's shingle set sits inside the WHOLE document —
    * `c(A→B) = |A∩B| / |A|`. The asymmetric complement to
    * [[allPairsJaccard]]: a quote, an excerpt, or a page fully embedded in
    * a larger one has containment ≈ 1 while its Jaccard vanishes as the
    * host grows, so resemblance dedup never sees it. The emitted
    * `jaccard` column makes the gap visible (`jaccard < tau` rows are
    * exactly what resemblance-threshold dedup missed).
    *
    * Zero false negatives by prefix filtering on the PART side only: if
    * `c(A→B) >= tau`, A has at most `floor((1-tau)|A|)` shingles outside
    * B, so among A's `floor((1-tau)|A|) + 1` rarest shingles at least one
    * is shared — joining that prefix against the FULL postings of the
    * corpus finds every qualifying pair (the containment variant of the
    * Bayardo prefix argument; no length prune applies because B may be
    * arbitrarily larger). Rarest-first prefixes keep fan-out small;
    * verification is row-local `array_intersect` on candidate pairs.
    *
    * Returns `(id_part, id_whole, sz_part, overlap, containment,
    * jaccard)`; high `tau` keeps prefixes short — the operator is meant
    * for the 0.8+ subsumption regime.
    */
  /** Rarest-first containment prefix of each part-side shingle set —
    * `(doc, token)` rows of the `floor((1-tau)|A|) + 2` lowest-df tokens
    * per doc, the zero-false-negative candidate generator SHARED by
    * [[containmentPairs]] (df = the self-corpus) and [[containmentProbe]]
    * (df = the standing corpus): one implementation, so a correction to
    * the bound or the ordering can never land in only one of them.
    *
    * + 2, not + 1: the exact bound is floor_exact((1-tau)|A|) + 1, but
    * (1.0 - tau) * |A| in double can land 1 ulp BELOW the exact product
    * at integer boundaries (1.0 - 0.9 = 0.0999…98, times 30 = 2.999…96,
    * floor 2 where the exact floor is 3) — one extra prefix token
    * absorbs the drift and keeps zero-false-negative against the naive
    * all-pairs oracle. Tokens ABSENT from `dfreq` join left-null, fill
    * to df 0 and sort first; they generate no candidates, which is safe:
    * the pigeonhole witness is host-present by definition, so it has
    * df >= 1 and survives in the prefix behind at most the absent ones.
    */
  private[graft] def containmentPrefix(
      partSets: DataFrame, dfreq: DataFrame, tau: Double): DataFrame =
    partSets.select(col("doc"), explode(col("toks")).as("token"))
      .join(dfreq, Seq("token"), "left")
      .na.fill(0L, Seq("__df"))
      .groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(col("__df"), col("token"))))
        .as("ost"))
      .select(col("doc"), size(col("ost")).as("sz"),
        explode(slice(col("ost"), lit(1),
          (floor(lit(1.0 - tau) * size(col("ost"))) + 2).cast("int")))
          .as("st"))
      // df rides out with each prefix token so the ubiquity cap and its
      // audit can key on it without a second dfreq join; sz rides out so
      // the probe's broadcast-budget gate needs no second action
      .select(col("doc"), col("sz"),
        col("st.token").as("token"), col("st.__df").as("__df"))

  /** Verify-stage shuffle width from the MATERIALIZED candidate count
    * (the [[graft.ext.DupGraph.triangleCensus]] sizing convention,
    * applied upward): each verify row carries TWO shingle arrays of
    * ~`avgSetSize` longs, so at a fixed session width a 25x corpus
    * drives 25x intersect payload into the same buckets and spills —
    * the measured q266 10x->25x super-linear segment. Width targets
    * ~32 MB of array payload per partition, never below the session's
    * parallelism (a small corpus keeps today's plan), with a sanity
    * ceiling far above any real candidate frame's need.
    */
  /** Byte budget for broadcasting the batch-derived sides of the probe
    * joins, derived from the DRIVER heap (the broadcast hash relation is
    * built there, and JVM hash-relation overhead multiplies the
    * estimated payload ~2-3x): an eighth of `spark.driver.memory` (a
    * 1g default driver gates at
    * 128 MB, where the previous hard-coded 256 MB constant — ADVICE
    * r15 — sat at the OOM edge), capped at 256 MB (the measured-safe
    * ceiling on this harness's large-heap session). Callers override
    * per call via the probes' `broadcastBudget` parameter;
    * `spark.sql.autoBroadcastJoinThreshold` is deliberately NOT the
    * source — its 10 MB default tunes AUTOMATIC planning, while this
    * gate broadcasts frames it has MEASURED, a different risk model.
    */
  private[graft] def probeBroadcastBudget(
      spark: org.apache.spark.sql.SparkSession): Long = {
    // when spark.driver.memory is unset (local mode, embedded sessions)
    // the driver heap is THIS JVM's -Xmx — Runtime.maxMemory, passed as
    // a plain byte count default
    val driverBytes = spark.sparkContext.getConf.getSizeAsBytes(
      "spark.driver.memory", Runtime.getRuntime.maxMemory().toString)
    math.min(256L * 1024 * 1024, driverBytes / 8)
  }

  /** Load one persisted standing-state parquet, WIDENED into cached
    * blocks when the files are small (optimization round 19). A state
    * saved from a small corpus lands in ONE parquet split, so every probe
    * stage that streams it — the broadcast-mode verify and candidate
    * joins — runs on ONE task no matter the session width (q284's
    * post-kernel wall was three ~0.75 s single-task verify jobs). Round
    * 18 tried widening the SAVED files and measured a net loss on the
    * STREAMED probes (per-micro-batch many-file scan scheduling);
    * widening the LOADED frame instead pays one bounded repartition +
    * materialization at load time and gives every later action — and
    * every micro-batch of a streamed probe — process-local parallel
    * cached reads, with the parquet never re-scanned per batch at all.
    *
    * The gate is the on-disk byte size from a driver-side listing (no
    * Spark job): above [[probeBroadcastBudget]] the frame loads as-is —
    * a corpus-sized state is already many splits, and the repartition
    * would be a pointless corpus shuffle. Width ≈ one cached partition
    * per 64 KB of file bytes (compressed parquet expands ~2-4x in cache;
    * the verify kernels are CPU-dense per byte), capped at the session
    * width so a streamed probe's per-batch task count stays bounded.
    */
  private[graft] def loadStateFrame(
      spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case _: java.io.IOException => Long.MaxValue }
    if (bytes > probeBroadcastBudget(spark)) df
    else {
      val w = math.min(sessionWidth(spark).toLong,
        bytes / (64L * 1024) + 1).toInt
      df.repartition(w).localCheckpoint(true)
    }
  }

  private[graft] def verifyPartitionsFor(
      nCand: Long, avgSetSize: Double, defaultParallelism: Int): Int = {
    val bytesPerCand = 2.0 * 8.0 * math.max(avgSetSize, 0.0) + 48.0
    val target = 32.0 * 1024 * 1024
    math.min(16384L, math.max(defaultParallelism.toLong,
      math.ceil(nCand * bytesPerCand / target).toLong)).toInt
  }

  /** Cap a prefix frame at `maxDf` document frequency: prefix tokens
    * more ubiquitous than the cap generate NO candidates. This is the
    * skew guard the [[winnowCandidatePairs]] `maxPostings` convention
    * prescribes for the containment family: a stopword/boilerplate-heavy
    * part document whose RAREST shingles are still corpus-frequent
    * otherwise fans each prefix token out against df-sized postings — a
    * skewed corpus turns that into the join's hot spot. Capping trades
    * the zero-false-negative guarantee for bounded fan-out: a qualifying
    * pair is lost only when EVERY shared prefix token is capped, and
    * [[containmentCapAudit]] surfaces exactly those tokens (df + reach)
    * so the trade is loudly reported, never silent. `Long.MaxValue`
    * (the default) keeps today's exact plan untouched.
    */
  private def capPrefix(prefix: DataFrame, maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) prefix else prefix.where(col("__df") <= maxDf)

  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 3,
      maxDf: Long = Long.MaxValue,
      route: Option[CharGramRouting] = None,
      adviseAbove: Long = DefaultAdviseCandidates,
      failAbove: Boolean = false): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    require(shingleK >= 1, "shingleK must be at least 1")
    // feeds postings, df counts, prefixes and both verify sides — one
    // materialization (the allPairsJaccard cluster-frame precedent)
    val docs = portableSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint()
    val postings = docs.select(col("doc"), explode(col("toks")).as("token"))
    val dfreq = postings.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    // shared rarest-first prefix (see containmentPrefix for the bound);
    // the ubiquity cap (see capPrefix) bounds per-token fan-out on
    // skewed corpora — default off, zero-false-negative preserved.
    // Checkpointed: the pre-flight gate and the candidate join both
    // read the prefix blocks (one build, two consumers)
    val gatedPrefix = capPrefix(containmentPrefix(docs, dfreq, tau), maxDf)
      .localCheckpoint()
    // default-ON pre-flight (the q283 advisor run by the join itself):
    // post-cap prefix mass bounds the generation stage — warn/fail
    // BEFORE the measured 46x-on-25x-skew melt, never after
    gateOpenJoin(gatedPrefix, adviseAbove, failAbove, "containment join")
    val prefix = gatedPrefix.select(col("doc").as("dl"), col("token"))
    // the candidate frame is the natural barrier between generation and
    // verification: materialize it (id pairs only — orders smaller than
    // the corpus) so its COUNT can size the verify-stage shuffles; the
    // count is free on the checkpointed frame
    val cand = prefix
      .join(postings.select(col("token"), col("doc").as("dr")), Seq("token"))
      .where(col("dl") =!= col("dr"))
      .select(col("dl"), col("dr")).distinct()
      .localCheckpoint()
    val nCand = cand.count()
    val spark = df.sparkSession
    // the width "today's plan" would use: the session shuffle width,
    // never below the core count — flooring on defaultParallelism alone
    // could NARROW the verify joins below the pre-sizing plan on a
    // library session (Spark's default 200 shuffle partitions over 8
    // cores) and reintroduce the very spill this sizing removes
    val width = sessionWidth(spark)
    // count + avg shingle-set size ride on the already-checkpointed docs
    // frame — one cheap agg, no corpus recompute, and it runs
    // UNCONDITIONALLY: a candidate-count-only skip branch needs a
    // bytes-per-row guess, and any fixed guess understates some corpus
    // (400-token sets are ~6.4 KB/row — 3x a "conservative" 2 KB).
    // verifyPartitionsFor floors at the session width, so sizing can only
    // widen. Candidates skew toward LARGE documents, so the corpus
    // average understates the verify payload on mixed corpora; the
    // 32 MB/partition target is itself several times below the spill
    // threshold, which absorbs that bias.
    val dstats = docs.agg(count(lit(1)),
      coalesce(avg(size(col("toks"))), lit(0.0))).head()
    val (nDocs, avgSz) = (dstats.getLong(0), dstats.getDouble(1))
    val verifyParts =
      if (nCand == 0) width else verifyPartitionsFor(nCand, avgSz, width)
    val side = docs.select(col("doc"), col("toks"))
    val sideL = side.select(col("doc").as("dl"), col("toks").as("__tl"))
    val sideR = side.select(col("doc").as("dr"), col("toks").as("__tr"))
    // MEASURED broadcast gate on the verify joins (see allPairsOnClusters
    // for the full argument): the sized sort-merge chain re-shuffles every
    // candidate row with its attached part-side array between the two
    // joins (measured 162 MB shuffled for a 6k-doc corpus); under the
    // driver-derived budget both joins broadcast the sets side and the
    // only exchange left is the candidate id-pair spread. Over budget the
    // explicit co-partitioned chain stands: both sides land on
    // HashPartitioning(key, verifyParts), so the joins add NO further
    // exchange — same shuffle count as the bare plan, width scaled to the
    // candidate payload instead of the fixed session default (AQE can
    // only coalesce, never widen, a uniform non-skewed spill).
    // both verify joins broadcast a copy of the side (ADVICE r18) — gate
    // on the two copies together
    val sideBytes = 2L * (nDocs * (avgSz * 8 + 64)).toLong
    val bcastVerify = nCand > 0 && sideBytes <= probeBroadcastBudget(spark)
    val joined =
      if (bcastVerify)
        cand.repartition(verifyParts)
          .join(broadcast(sideL), Seq("dl"))
          .join(broadcast(sideR), Seq("dr"))
      else
        cand.repartition(verifyParts, col("dl"))
          .join(sideL.repartition(verifyParts, col("dl")), Seq("dl"))
          .repartition(verifyParts, col("dr"))
          .join(sideR.repartition(verifyParts, col("dr")), Seq("dr"))
    joined
      .withColumn("__ic", graft.expressions.SortedIntersect.sortedIntersectCount(col("__tl"), col("__tr")))
      .withColumn("__cont", col("__ic").cast("double") / size(col("__tl")))
      .where(col("__cont") >= tau)
      .select(col("dl").as("id_part"), col("dr").as("id_whole"),
        size(col("__tl")).cast("long").as("sz_part"),
        // the whole side's size rides out for free (the verify join holds
        // both sets) so subsumption policies never re-shingle the corpus
        size(col("__tr")).cast("long").as("sz_whole"),
        col("__ic").cast("long").as("overlap"),
        round(col("__cont"), 6).as("containment"),
        round(col("__ic").cast("double") /
          (size(col("__tl")) + size(col("__tr")) - col("__ic")), 6).as("jaccard"))
  }

  /** Quote-in-host subsumption dedup over [[containmentPairs]]: drop
    * every doc whose shingle set is contained (>= `tau`) in a STRICTLY
    * LARGER doc's, and among mutually-contained equals keep the min id —
    * the asymmetric signal resemblance dedup misses (a 4-shingle quote
    * inside a 40-shingle host has Jaccard 0.1 but containment 1.0).
    * Deterministic: a doc's fate depends only on the pair frame, never
    * on another drop (chains A⊆B⊆C drop A and B, keep C — a quote of a
    * quote still sits in the host).
    *
    * Scale: the pair stage is the prefix-filtered [[containmentPairs]]
    * (zero-false-negative, never all-pairs); the subsumption policy runs
    * on the pair frame alone — `sz_whole` rides in it, so no second
    * shingle pass over the corpus.
    */
  def containmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 3): DataFrame = {
    // sz_whole rides in the pair frame — no second shingle pass
    val drop = containmentPairs(df, idCol, textCol, tau, shingleK)
      .where(col("sz_part") < col("sz_whole") ||
        (col("sz_part") === col("sz_whole") && col("id_part") > col("id_whole")))
      .select(col("id_part").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Ubiquity-cap telemetry for [[containmentPairs]] — the q155/q159
    * cap-audit convention on the containment prefix join: the prefix
    * tokens a `maxDf` cap would drop, one row per capped token with its
    * corpus document frequency and how many part-side prefixes carried
    * it (`df * n_prefix_docs` bounds the candidate fan-out the cap
    * saves). A qualifying pair is lost only when EVERY shared prefix
    * token appears here, so the audit is the loud report the capped
    * join's recall trade rests on — surfaced as data, never silently
    * filtered away. Returns `(token, df, n_prefix_docs)`; empty when
    * nothing caps.
    */
  def containmentCapAudit(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 3,
      maxDf: Long = Long.MaxValue,
      route: Option[CharGramRouting] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    require(shingleK >= 1, "shingleK must be at least 1")
    // two consumers (dfreq + prefix) — materialize once, the
    // containmentPairs convention
    val docs = portableSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint()
    val dfreq = dfreqOf(docs)
    containmentPrefix(docs, dfreq, tau)
      .where(col("__df") > maxDf)
      .groupBy(col("token"), col("__df"))
      .agg(count(lit(1)).as("n_prefix_docs"))
      .select(col("token"), col("__df").as("df"), col("n_prefix_docs"))
  }

  /** ONE-row candidate-mass report over a `(doc, token, __df)` prefix
    * frame — the shared kernel of the pre-flight advisors: each prefix
    * row joins every posting of its token, so the open prefix join
    * materializes AT MOST `sum(__df)` candidate rows (an upper bound:
    * self-matches and the post-join distinct only shrink it, and it is
    * EXACT for the generation stage, which is where a skewed corpus
    * melts — the q266-on-skew measurement). Columns: `prefix_rows`,
    * `candidates_est`, `n_prefix_tokens`, then the hottest token by mass
    * (`hot_token`, `hot_df`, `hot_mass` = df x prefix occurrences; ties
    * broken by token value, deterministic), and `advise_cap` =
    * `candidates_est > maxCandidates`. Two bounded aggregations over
    * the prefix frame — NO join runs.
    */
  private[graft] def prefixMassReport(
      prefix: DataFrame, maxCandidates: Long,
      selfJoin: Boolean = false): DataFrame = {
    // per-token generation bound depends on the JOIN SHAPE (round-16
    // self-review): containment joins prefix x POSTINGS — exactly
    // np * df rows per token — while the AllPairs faces join the prefix
    // to ITSELF, whose bound is np^2; np <= df, so using np * df there
    // over-gates a corpus whose hot tokens are common in sets but rare
    // in prefixes (boilerplate kept out of prefixes by set size), and
    // failAbove would abort a perfectly bounded run
    val perTok = prefix.groupBy(col("token"))
      .agg(count(lit(1)).as("__np"), first(col("__df")).as("__dfv"))
      .withColumn("__mass",
        if (selfJoin) col("__np") * col("__np")
        else col("__np") * col("__dfv"))
      .localCheckpoint() // feeds the total AND the argmax — one agg pass
    val tot = perTok.agg(
      coalesce(sum(col("__np")), lit(0L)).as("prefix_rows"),
      coalesce(sum(col("__mass")), lit(0L)).as("candidates_est"),
      count(lit(1)).as("n_prefix_tokens"))
    val hot = perTok
      .orderBy(col("__mass").desc, col("token").desc).limit(1)
      .select(col("token").as("hot_token"), col("__dfv").as("hot_df"),
        col("__mass").as("hot_mass"))
    // left join: an empty corpus yields one all-zero row with null hots
    // rather than zero rows (a report must always report)
    tot.join(hot, lit(true), "left")
      .withColumn("advise_cap", col("candidates_est") > maxCandidates)
  }

  /** Default pre-flight bound for the OPEN pair joins: at ~1e8 generated
    * candidate rows the verify stage still sizes comfortably
    * ([[verifyPartitionsFor]]: ~3k partitions at 200-token sets), while
    * the measured melts (q266 at 46x, q281 at 42x on 25x data) blew past
    * it by orders of magnitude — the bound separates "large but planned"
    * from "quadratic blow-up" with a wide margin on both sides.
    */
  val DefaultAdviseCandidates: Long = 100000000L

  /** The unconditional ceiling over [[DefaultAdviseCandidates]]-class
    * gates: at `adviseAbove x 50` the gate THROWS regardless of
    * `failAbove` (round-16 verdict: a warning is the right default at
    * the advisory bound, but at 100x an unattended pipeline must not be
    * able to ride a stderr line into a measured-46x-class melt — 50x
    * the advisory mass is no longer "large but planned", it is the
    * quadratic blow-up the gate exists to stop). A run that genuinely
    * plans that mass states it by raising `adviseAbove` (which raises
    * the ceiling with it) — there is deliberately NO flag that disables
    * the ceiling at a given bound.
    */
  val HardFailMultiple: Long = 50L

  /** The pre-flight gate the OPEN exact faces run BY DEFAULT (round-16
    * verdict: the measured 46x/42x melts must be impossible to hit
    * silently): one bounded mass report over the join's OWN prefix frame
    * — the exact generation-stage upper bound, not an estimate of
    * something else — warning on stderr above `adviseAbove`, throwing
    * instead under `failAbove`, and throwing UNCONDITIONALLY above
    * `adviseAbove x` [[HardFailMultiple]] (the round-17 hard ceiling).
    * The prefix frame arrives checkpointed, so the report costs two
    * bounded aggregations, never a corpus recompute, and the join that
    * follows reuses the same blocks.
    */
  private def gateOpenJoin(
      prefix: DataFrame, adviseAbove: Long, failAbove: Boolean,
      what: String, selfJoin: Boolean = false): Unit = {
    require(adviseAbove >= 1, "adviseAbove must be at least 1")
    val row = prefixMassReport(prefix, adviseAbove, selfJoin).head()
    if (row.getAs[Boolean]("advise_cap")) {
      val est = row.getAs[Long]("candidates_est")
      // saturating: a near-Long.MaxValue adviseAbove must not overflow
      // the ceiling into a small (or negative) number
      val ceiling =
        if (adviseAbove > Long.MaxValue / HardFailMultiple) Long.MaxValue
        else adviseAbove * HardFailMultiple
      val msg = s"$what pre-flight: estimated candidate mass " +
        s"$est exceeds $adviseAbove " +
        s"(hottest token df ${row.getAs[Any]("hot_df")}, mass " +
        s"${row.getAs[Any]("hot_mass")}) — the open join melts " +
        "super-linearly on skewed/gram-common corpora; run with a maxDf " +
        "ubiquity cap (review the cap audit for the recall trade), raise " +
        "adviseAbove if this mass is planned, or set failAbove=false " +
        "explicitly to proceed"
      if (est > ceiling) throw new IllegalStateException(
        s"$what pre-flight HARD CEILING: estimated candidate mass $est " +
          s"exceeds ${HardFailMultiple}x the advisory bound $adviseAbove " +
          s"(hottest token df ${row.getAs[Any]("hot_df")}, mass " +
          s"${row.getAs[Any]("hot_mass")}) — this is the quadratic " +
          "blow-up class, not a plannable overage, and it fails " +
          "regardless of failAbove; cap with maxDf (see the cap audit " +
          "for the recall trade) or raise adviseAbove to state the " +
          "planned mass explicitly")
      if (failAbove) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARN $msg")
    }
  }

  /** PRE-FLIGHT advisor for the open containment self-join (the q240
    * join-skew-advisor convention applied to the screen family): bound
    * the candidate mass the [[containmentPairs]] prefix join would
    * materialize BEFORE running it — on a boilerplate-skewed corpus the
    * open join's candidate generation grows ~quadratically (the measured
    * 24.8x wall at 10x skewed data) and the time to discover that must
    * not be the melted join itself. One shingle pass + two bounded
    * aggregations; see [[prefixMassReport]] for the columns and the
    * bound's tightness. When `advise_cap` is true, the remedies are the
    * `maxDf` ubiquity cap on [[containmentPairs]] and its loud
    * [[containmentCapAudit]] recall report.
    */
  def containmentJoinAdvisor(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 3,
      maxCandidates: Long = 100000000L,
      route: Option[CharGramRouting] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    require(shingleK >= 1, "shingleK must be at least 1")
    require(maxCandidates >= 1, "maxCandidates must be at least 1")
    val docs = portableSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint() // dfreq + prefix, the containmentCapAudit shape
    prefixMassReport(
      containmentPrefix(docs, dfreqOf(docs), tau), maxCandidates)
  }

  /** [[containmentJoinAdvisor]] for the PROBE face: the mass the
    * incoming batch's prefix would fan out against the STANDING state's
    * postings (df from the state — batch-sized work plus one bounded
    * agg, the [[containmentProbe]] cost model without the join).
    */
  def containmentProbeAdvisor(
      incoming: DataFrame, state: ContainmentState,
      idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 0,
      maxCandidates: Long = 100000000L): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    require(maxCandidates >= 1, "maxCandidates must be at least 1")
    // shingling from the state (the containmentProbe contract) so the
    // advisor measures exactly the mass the probe it advises would run
    require(shingleK == 0 || shingleK == state.shingleK,
      s"advisor shingleK=$shingleK but the state was built with " +
        s"shingleK=${state.shingleK} — pass 0 (or omit) to use the state's")
    val inc = portableSets(incoming, idCol, textCol, state.shingleK,
      state.route)
    prefixMassReport(
      containmentPrefix(inc, state.dfreq, tau), maxCandidates)
  }

  /** Imperative pre-flight gate over [[containmentJoinAdvisor]]: runs
    * the (cheap, join-free) report, WARNS on stderr when the estimated
    * candidate mass exceeds `maxCandidates` — pointing at the `maxDf`
    * cap and the cap audit — and, with `failAbove = true`, throws
    * instead so a pipeline stops BEFORE the melted join burns the
    * cluster. Returns the report row either way for logging/telemetry.
    */
  def preflightContainmentJoin(
      df: DataFrame, idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 3,
      maxCandidates: Long = 100000000L,
      failAbove: Boolean = false,
      route: Option[CharGramRouting] = None): org.apache.spark.sql.Row = {
    // route forwards so a ROUTED pipeline's gate measures the routed
    // char-gram candidate mass, not the (materially lower) word-shingle
    // mass — char-gram dfs run ~5x higher on the q286 fixture geometry
    val row = containmentJoinAdvisor(df, idCol, textCol, tau, shingleK,
      maxCandidates, route).head()
    if (row.getAs[Boolean]("advise_cap")) {
      val msg = s"containment join pre-flight: estimated candidate mass " +
        s"${row.getAs[Long]("candidates_est")} exceeds $maxCandidates " +
        s"(hottest token df ${row.getAs[Any]("hot_df")}) — run " +
        "containmentPairs with a maxDf ubiquity cap and review " +
        "containmentCapAudit for the recall trade"
      if (failAbove) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARN $msg")
    }
    row
  }

  /** Precomputed containment state of a standing corpus: the hashed
    * shingle-set frame [[containmentPairs]] builds internally PLUS the
    * corpus-wide token document frequencies the probe prefix orders by
    * — both corpus-sized artifacts, computed once per corpus, persisted
    * (parquet), and probed against per increment (the [[MinhashState]]
    * contract applied to the containment signal). The df frame lives in
    * the state ON PURPOSE: it is batch-invariant, and recomputing it per
    * probe would re-aggregate the whole corpus inside every micro-batch
    * of a streaming screen.
    *
    * MAINTENANCE CONTRACT (appends): [[appendContainmentState]] grows
    * `sets` per batch WITHOUT touching `dfreq`. A stale df frame can
    * only degrade prefix ORDERING (which tokens count as "rarest", so
    * candidate fan-out — a perf dial), NEVER completeness: the
    * pigeonhole bound behind [[containmentPrefix]] holds for ANY total
    * order of a part's tokens, and a token absent from a stale dfreq
    * sorts first (df 0) while its postings join still finds every host
    * that carries it — [[AllPairsSpec]] proves probe-result EQUALITY
    * between a stale-df appended state and a fresh rebuild. The one
    * df-SEMANTIC consumer is the optional `maxDf` cap: capped results
    * are defined against the df frame IN the state, so a cap user
    * should bound drift via `refreshDfreqAbove`. `staleDocs` counts
    * documents appended since `dfreq` was last built and persists with
    * the state.
    *
    * `shingleK` and `route` ride IN the state (the [[ResemblanceState]]
    * convention, round 16): probes and appends derive their shingling
    * from the state instead of per-call arguments — a mismatched re-pass
    * would build gram sets that never intersect the state's and silently
    * pass every duplicate, the exact failure mode the persisted-state
    * manifests guard against on disk. `shingleK`/`route` carry no
    * defaults for the [[MinhashState]] reason: frames built elsewhere
    * must be labeled with their true parameters.
    */
  final case class ContainmentState(
      sets: DataFrame, dfreq: DataFrame, staleDocs: Long,
      shingleK: Int, route: Option[CharGramRouting])

  /** Append an arriving batch to a standing [[ContainmentState]] — the
    * O(batch + union) ingest step of the containment screen. `dfreq` is
    * reused as-is (stale df is a perf dial, never a correctness one —
    * see the state's maintenance contract) until cumulative appended
    * docs exceed `refreshDfreqAbove` of the corpus, at which point the
    * df frame is rebuilt from the unioned sets in one corpus pass and
    * the drift counter resets. Pass `refreshDfreqAbove = 0` to force a
    * rebuild every append, `Double.MaxValue` to never rebuild. The
    * returned sets frame is checkpointed (append chains must not stack
    * union lineage over the corpus).
    *
    * RETRY-SAFE via KEEP-FIRST ids: doc ids already in the state are
    * dropped from the batch before the union, so re-appending the same
    * batch (a retried ingest step) is a no-op — without the guard a
    * replay silently duplicated `sets` rows, doubling probe hits,
    * `nTotal`, and every refreshed df count. The SAME guard means a
    * re-ingest of an existing id with CHANGED text is also ignored (the
    * first write wins and its shingle set keeps serving probes): the id
    * is the state's identity key, so mutated content needs a new id or
    * a state rebuild — deliberate, because distinguishing "replay" from
    * "mutation" would cost a content comparison against the full
    * standing sets on every append. The anti-join keys on the
    * batch-sized side; its cost is one id-column pass over the standing
    * sets, already paid by the union materialization in the same job.
    */
  def appendContainmentState(
      state: ContainmentState, incoming: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 0,
      refreshDfreqAbove: Double = 0.2): ContainmentState = {
    require(refreshDfreqAbove >= 0.0, "refreshDfreqAbove must be >= 0")
    // shingling derives FROM THE STATE (its scaladoc contract); an
    // explicit shingleK is only accepted when it agrees — a mismatch
    // must fail loudly, never shingle incompatibly
    require(shingleK == 0 || shingleK == state.shingleK,
      s"append shingleK=$shingleK but the state was built with " +
        s"shingleK=${state.shingleK} — pass 0 (or omit) to use the state's")
    // checkpoint the BATCH (post-guard) first: the union materialization
    // and the batch count below both read the stored blocks — without
    // this the incoming shingle pipeline (scan + tokenize + md5 +
    // groupBy + anti-join) would execute twice per append
    val inc = portableSets(incoming, idCol, textCol, state.shingleK,
        state.route)
      .join(state.sets.select(col("doc")), Seq("doc"), "left_anti")
      .localCheckpoint(true)
    val sets = state.sets.unionByName(inc).localCheckpoint(true)
    val nTotal = sets.count()
    val nInc = inc.count()
    val stale = state.staleDocs + nInc
    if (nTotal > 0 && stale.toDouble / nTotal > refreshDfreqAbove)
      ContainmentState(sets, dfreqOf(sets).localCheckpoint(true), 0L,
        state.shingleK, state.route)
    else ContainmentState(sets, state.dfreq, stale, state.shingleK, state.route)
  }

  private def dfreqOf(sets: DataFrame): DataFrame =
    sets.select(explode(col("toks")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("__df"))

  /** Build (or rebuild) the containment state for a standing corpus. */
  def containmentState(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3,
      route: Option[CharGramRouting] = None): ContainmentState = {
    val sets = portableSets(df, idCol, textCol, shingleK, route)
    ContainmentState(sets, dfreqOf(sets), 0L, shingleK, route)
  }

  /** [[containmentState]] with both frames eagerly checkpointed and the
    * df frame DERIVED from the already-checkpointed sets — exactly one
    * shingle pass over the corpus no matter how many probes consume the
    * state afterwards (the [[minhashStateCheckpointed]] argument; a lazy
    * state would re-shingle the corpus per probe action).
    */
  def containmentStateCheckpointed(
      df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3,
      route: Option[CharGramRouting] = None): ContainmentState = {
    val sets = portableSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint(true)
    ContainmentState(sets, dfreqOf(sets).localCheckpoint(true), 0L,
      shingleK, route)
  }

  /** The parameters a persisted [[ContainmentState]] was built with —
    * shingle sets from different `shingleK` never intersect correctly,
    * so a resume MUST match (the [[MinhashParams]] manifest contract).
    */
  final case class ContainmentParams(shingleK: Int,
      route: Option[CharGramRouting] = None) {
    // empty route suffix for the word-only default: pre-routing states
    // keep loading (the MinhashParams convention) — without the suffix a
    // routed state served to a word-shingled probe would silently pass
    // every duplicate (the gram sets never intersect)
    def encoded: String = s"shingleK=$shingleK" +
      route.map(_.encoded).getOrElse("")
  }

  /** Persist a [[ContainmentState]] (crash-safe manifest-last, the
    * [[saveMinhashState]] contract: safe to save into the directory the
    * state was loaded from).
    */
  def saveContainmentState(
      state: ContainmentState, dir: String, params: ContainmentParams): Unit = {
    val sets = state.sets.localCheckpoint(true)
    val dfreq = state.dfreq.localCheckpoint(true)
    StateManifest.save(dir, params.encoded) {
      sets.write.mode("overwrite").parquet(s"$dir/sets")
      dfreq.write.mode("overwrite").parquet(s"$dir/dfreq")
      StateManifest.saveStale(dir, state.staleDocs)
    }
  }

  /** Load a [[ContainmentState]] written by [[saveContainmentState]];
    * None when no complete state exists, loud failure on a parameter
    * mismatch.
    */
  def loadContainmentState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      expect: ContainmentParams): Option[ContainmentState] = {
    if (!StateManifest.complete(dir, Seq("sets", "dfreq"))) None
    else {
      StateManifest.check(dir, "containment state", expect.encoded,
        "shingles would never match")
      Some(ContainmentState(loadStateFrame(spark, s"$dir/sets"),
        loadStateFrame(spark, s"$dir/dfreq"), StateManifest.loadStale(dir),
        expect.shingleK, expect.route))
    }
  }

  /** Containment probe of an ARRIVING batch against a standing corpus —
    * the ingest face of [[containmentPairs]]: emit `(id_in, id_host,
    * sz_in, overlap, containment)` for every incoming doc whose shingle
    * set is contained (>= `tau`) in a corpus doc's ("is this new doc a
    * quote of something we already hold"). The corpus is never
    * re-shingled: its sets come from the persisted state.
    *
    * Zero-false-negative prefix filter, probe-side: incoming tokens
    * order rarest-first by the STANDING corpus's document frequency
    * (absent tokens df 0, sorted first — they generate no candidates,
    * and the pigeonhole still holds: a host containing >= ceil(tau*|A|)
    * of A's tokens must contain one of any floor((1-tau)*|A|)+1-subset,
    * and a contained token is by definition present in the corpus, so
    * the postings join finds it; the +2 slack absorbs the double-floor
    * ulp, the [[containmentPairs]] bound). Candidates are verified with
    * one exact intersection — never all-pairs.
    */
  def containmentProbe(
      incoming: DataFrame, state: ContainmentState,
      idCol: String, textCol: String,
      tau: Double = 0.9, shingleK: Int = 0,
      maxDf: Long = Long.MaxValue,
      broadcastBudget: Option[Long] = None): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau must be in (0, 1]")
    require(maxDf >= 1, "maxDf must be at least 1")
    // incoming shingles under the STATE's shingleK and routing (its
    // scaladoc contract — a mismatched re-pass silently finds nothing);
    // an explicit shingleK is accepted only when it agrees, 0 = derive
    require(shingleK == 0 || shingleK == state.shingleK,
      s"probe shingleK=$shingleK but the state was built with " +
        s"shingleK=${state.shingleK} — pass 0 (or omit) to use the state's")
    val inc = portableSets(incoming, idCol, textCol, state.shingleK,
        state.route)
      .localCheckpoint() // feeds the prefix pass and the verify side once
    // corpus-sized frames come FROM THE STATE as built: per-call work is
    // batch-sized only — a streaming screen must never re-checkpoint the
    // corpus sets or re-aggregate corpus-wide df per micro-batch (pass a
    // containmentStateCheckpointed / loaded state)
    val hosts = state.sets.select(col("doc").as("host"), col("toks"))
    val postings = hosts.select(col("host"), explode(col("toks")).as("token"))
    // shared rarest-first prefix against the STANDING df (see
    // containmentPrefix for the bound and the absent-token argument);
    // same ubiquity cap as the batch face (capPrefix — default off)
    // checkpointed: the size-gate stats and the candidate join both read
    // it, and the prefix pipeline (explode + df join + sort-agg) must
    // not run twice per probe
    val prefix = capPrefix(containmentPrefix(inc, state.dfreq, tau), maxDf)
      .select(col("doc").as("din"), col("sz"), col("token"), col("__df"))
      .localCheckpoint()
    // BROADCAST the batch-derived sides when they are MEASURED small:
    // the corpus-sized state frames (postings, host sets) should only
    // ever be SCANNED per probe, never shuffled — without the hints
    // Spark plans sort-merge joins that exchange the whole standing
    // corpus per batch, and the probe wall grows super-linearly in
    // corpus size at fixed width (ProbeBench measured 4.9x time on 2.5x
    // corpus; with the hints the fixed-increment probe curve is flat).
    // The gate is the advisor's own cost model evaluated on the frames
    // in hand (prefix rows for the prefix side, sum-of-df x batch array
    // bytes for the verify side): an UNCONDITIONAL hint OOMs the driver
    // the moment a caller probes a corpus-sized batch (q284 at 25x did,
    // at ~41k incoming docs), and over the byte budget the plan safely
    // reverts to sort-merge.
    // ONE action on the checkpointed frame: row count, candidate mass,
    // and the batch's avg set size (prefix-row-weighted — candidates
    // come proportionally from prefix rows, so the weighting is the
    // conservative one for a byte budget)
    val stats = prefix.agg(count(lit(1)), coalesce(sum(col("__df")), lit(0L)),
      coalesce(avg(col("sz")), lit(0.0))).head()
    val avgSz = stats.getDouble(2)
    val budget = broadcastBudget
      .getOrElse(probeBroadcastBudget(incoming.sparkSession))
    val bcast = stats.getLong(0) * 48 <= budget &&
      (stats.getLong(1) * (avgSz * 8 + 48)).toLong <= budget
    val prefixJoin = prefix.select(col("din"), col("token"))
    val cand = (if (bcast) broadcast(prefixJoin) else prefixJoin)
      .join(postings, Seq("token"))
      .where(col("din") =!= col("host"))
      .select(col("din"), col("host")).distinct()
    // single-split scan-stage verify is fine here — see the jaccardProbe
    // note on the native intersect kernel vs the reverted host spread
    val enriched = cand
      .join(inc.select(col("doc").as("din"), col("toks").as("__ti")), Seq("din"))
    (if (bcast) enriched.hint("broadcast") else enriched)
      .join(hosts.select(col("host"), col("toks").as("__th")), Seq("host"))
      .withColumn("__ic", graft.expressions.SortedIntersect.sortedIntersectCount(col("__ti"), col("__th")))
      .withColumn("__cont", col("__ic").cast("double") / size(col("__ti")))
      .where(col("__cont") >= tau)
      .select(col("din").as("id_in"), col("host").as("id_host"),
        size(col("__ti")).cast("long").as("sz_in"),
        col("__ic").cast("long").as("overlap"),
        round(col("__cont"), 6).as("containment"))
  }

  /** Per-doc rarest-first JACCARD prefix rows `(doc, sz, token, __df)` —
    * the symmetric (Bayardo) prefix of length `|X| - ceil(t|X|) + 1`,
    * ordered by (df, token) against the supplied df frame (absent
    * tokens df 0, sorted first). The completeness lemma needs ONE total
    * order shared by both join sides; [[jaccardProbe]] orders both the
    * standing prefixes (built here at state time) and the incoming
    * prefixes (built here per batch) by the SAME standing df, so the
    * globally smallest shared token of any qualifying pair sits inside
    * both prefixes — the q199 argument, probe-shaped.
    */
  private def jaccardPrefix(
      sets: DataFrame, dfreq: DataFrame, threshold: Double): DataFrame =
    sets.select(col("doc"), size(col("toks")).as("sz"),
        explode(col("toks")).as("token"))
      .join(dfreq, Seq("token"), "left")
      .na.fill(0L, Seq("__df"))
      .groupBy(col("doc"), col("sz"))
      .agg(array_sort(collect_list(struct(col("__df"), col("token"))))
        .as("ost"))
      .select(col("doc"), col("sz"),
        // floor((1-t)sz) + 2 — the clustersOfSets/containmentPrefix ulp
        // slack; the ceil form can cut one below the exact bound where
        // double t rounds up (t = 0.8, 0.9) and t*sz is integral
        explode(slice(col("ost"), lit(1),
          (floor(lit(1.0 - threshold) * col("sz")) + 2).cast("int")))
          .as("st"))
      .select(col("doc"), col("sz"),
        col("st.token").as("token"), col("st.__df").as("__df"))

  /** Precomputed EXACT-resemblance state of a standing corpus — the
    * third leg of the incremental screen triangle beside
    * [[MinhashState]] (approximate, banded recall) and
    * [[ContainmentState]] (asymmetric quote-in-host): shingle sets,
    * corpus df, AND the per-host Bayardo prefix at a FIXED threshold,
    * all computed once and persisted. The prefix lives in the state
    * because the symmetric filter needs prefixes on BOTH join sides —
    * rebuilding host prefixes per probe would re-aggregate the corpus
    * inside every micro-batch. `threshold`/`shingleK` ride in the state
    * so a probe can never run with mismatched parameters.
    */
  final case class ResemblanceState(
      sets: DataFrame, dfreq: DataFrame, prefix: DataFrame,
      threshold: Double, shingleK: Int, staleDocs: Long = 0L,
      route: Option[CharGramRouting] = None)

  /** Append an arriving batch of HOSTS to a standing
    * [[ResemblanceState]] — the ingest step of the exact-resemblance
    * screen. Unlike the containment state (where df is a pure perf
    * dial), the symmetric Bayardo filter is only complete when BOTH
    * prefix sides share ONE total token order — so `dfreq` stays
    * FROZEN as the ordering authority and the new hosts' prefixes are
    * built UNDER IT (batch-sized work; a host prefix built under
    * drifted df mixed with old-order prefixes could miss pairs).
    * Incoming probes also order by the state df, so every pair — old
    * host, appended host — sees one consistent order and the
    * completeness lemma holds. Past `refreshDfreqAbove` cumulative
    * appended fraction the WHOLE state rebuilds (sets-derived df and
    * all prefixes together — never mixed orders) and the drift counter
    * resets; stale df until then can only degrade prefix selectivity
    * (fan-out), the containment-state argument.
    *
    * RETRY-SAFE: doc ids already in the state drop from the batch
    * before the union (the [[appendContainmentState]] guard) — here a
    * replayed batch would ALSO duplicate prefix rows, double-counting
    * every candidate the duplicated host generates.
    */
  def appendResemblanceState(
      state: ResemblanceState, incoming: DataFrame,
      idCol: String, textCol: String,
      refreshDfreqAbove: Double = 0.2): ResemblanceState = {
    require(refreshDfreqAbove >= 0.0, "refreshDfreqAbove must be >= 0")
    // batch checkpoints (post-guard) first: union, prefix build and
    // count all read the stored blocks (the appendContainmentState
    // argument)
    val inc = portableSets(incoming, idCol, textCol, state.shingleK,
        state.route)
      .join(state.sets.select(col("doc")), Seq("doc"), "left_anti")
      .localCheckpoint(true)
    val sets = state.sets.unionByName(inc).localCheckpoint(true)
    val nTotal = sets.count()
    val stale = state.staleDocs + inc.count()
    if (nTotal > 0 && stale.toDouble / nTotal > refreshDfreqAbove) {
      val dfreq = dfreqOf(sets).localCheckpoint(true)
      ResemblanceState(sets, dfreq,
        jaccardPrefix(sets, dfreq, state.threshold).localCheckpoint(true),
        state.threshold, state.shingleK, 0L, state.route)
    } else
      ResemblanceState(sets, state.dfreq,
        state.prefix.unionByName(
          jaccardPrefix(inc, state.dfreq, state.threshold))
          .localCheckpoint(true),
        state.threshold, state.shingleK, stale, state.route)
  }

  /** Build the resemblance state; see [[resemblanceStateCheckpointed]]
    * for the probe-loop variant.
    */
  def resemblanceState(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, shingleK: Int = 3,
      route: Option[CharGramRouting] = None): ResemblanceState = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(shingleK >= 1, "shingleK must be at least 1")
    val sets = portableSets(df, idCol, textCol, shingleK, route)
    val dfreq = dfreqOf(sets)
    ResemblanceState(sets, dfreq,
      jaccardPrefix(sets, dfreq, threshold), threshold, shingleK,
      route = route)
  }

  /** [[resemblanceState]] with every corpus-sized frame eagerly
    * checkpointed and derived frames built FROM the checkpointed sets —
    * exactly one shingle pass over the corpus no matter how many probes
    * consume the state (the [[containmentStateCheckpointed]] argument).
    */
  def resemblanceStateCheckpointed(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.6, shingleK: Int = 3,
      route: Option[CharGramRouting] = None): ResemblanceState = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold must be in (0, 1]")
    require(shingleK >= 1, "shingleK must be at least 1")
    val sets = portableSets(df, idCol, textCol, shingleK, route)
      .localCheckpoint(true)
    val dfreq = dfreqOf(sets).localCheckpoint(true)
    ResemblanceState(sets, dfreq,
      jaccardPrefix(sets, dfreq, threshold).localCheckpoint(true),
      threshold, shingleK, route = route)
  }

  /** Parameters a persisted [[ResemblanceState]] was built with — the
    * prefix is only complete AT its build threshold, so a resume MUST
    * match (the [[ContainmentParams]] manifest contract).
    */
  final case class ResemblanceParams(threshold: Double, shingleK: Int,
      route: Option[CharGramRouting] = None) {
    // empty route suffix for the word-only default: pre-routing states
    // keep loading. The `pl=flr2` token versions the PREFIX FORMULA
    // (floor((1-t)sz)+2, round 15): the state persists host prefixes,
    // and one built under the old sz-ceil(t*sz)+1 bound can sit one
    // token SHORT of the exact Bayardo bound — loading it must fail
    // loudly (rebuild), not silently keep missing boundary pairs.
    def encoded: String = s"threshold=$threshold;shingleK=$shingleK;pl=flr2" +
      route.map(_.encoded).getOrElse("")
  }

  /** Persist a [[ResemblanceState]] (crash-safe manifest-last). */
  def saveResemblanceState(
      state: ResemblanceState, dir: String): Unit = {
    val encoded =
      ResemblanceParams(state.threshold, state.shingleK, state.route).encoded
    StateManifest.save(dir, encoded) {
      state.sets.localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/sets")
      state.dfreq.localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/dfreq")
      state.prefix.localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/prefix")
      StateManifest.saveStale(dir, state.staleDocs)
    }
  }

  /** Load a [[ResemblanceState]] written by [[saveResemblanceState]];
    * None when no complete state exists, loud failure on a parameter
    * mismatch.
    */
  def loadResemblanceState(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      expect: ResemblanceParams): Option[ResemblanceState] = {
    if (!StateManifest.complete(dir, Seq("sets", "dfreq", "prefix"))) None
    else {
      StateManifest.check(dir, "resemblance state", expect.encoded,
        "the prefix is only complete at its build threshold")
      Some(ResemblanceState(loadStateFrame(spark, s"$dir/sets"),
        loadStateFrame(spark, s"$dir/dfreq"),
        loadStateFrame(spark, s"$dir/prefix"),
        expect.threshold, expect.shingleK, StateManifest.loadStale(dir),
        expect.route))
    }
  }

  /** EXACT-Jaccard probe of an ARRIVING batch against a standing corpus
    * — the resemblance face of [[containmentProbe]]: emit `(id_in,
    * id_host, sz_in, sz_host, overlap, jaccard)` for every incoming doc
    * whose token-Jaccard with a corpus doc reaches the state's build
    * threshold ("is this new doc a near-copy of something we already
    * hold", with no banding recall curve — the complement to the
    * MinhashState screen). The corpus is never re-shingled or
    * re-prefixed: sets, df AND host prefixes come from the state;
    * per-call work is batch-sized plus the prefix equi-join.
    *
    * Zero false negatives: both prefixes order by the SAME standing df
    * (see [[jaccardPrefix]]), so the globally smallest shared token of
    * a qualifying pair sits in both — the symmetric length prune
    * (`t|A| <= |B| <= |A|/t`) cuts candidates before the row-local
    * intersect verify. `maxDf` (default off) is the [[containmentPairs]]
    * ubiquity cap applied to BOTH prefix sides; the recall trade is the
    * cap-audit contract (a lost pair has every shared prefix token
    * above the cap).
    */
  def jaccardProbe(
      incoming: DataFrame, state: ResemblanceState,
      idCol: String, textCol: String,
      maxDf: Long = Long.MaxValue,
      broadcastBudget: Option[Long] = None): DataFrame = {
    require(maxDf >= 1, "maxDf must be at least 1")
    // incoming shingles under the STATE's routing — routed and unrouted
    // gram sets never intersect correctly, so the choice is a state
    // parameter, not a call-site one
    val inc = portableSets(incoming, idCol, textCol, state.shingleK,
        state.route)
      .localCheckpoint() // feeds the prefix pass and the verify side once
    // checkpointed: the size-gate stats and the candidate join both
    // consume it (the containmentProbe argument)
    val incPrefix = capPrefix(
      jaccardPrefix(inc, state.dfreq, state.threshold), maxDf)
      .select(col("doc").as("din"), col("sz").as("__szi"), col("token"),
        col("__df"))
      .localCheckpoint()
    val hostPrefix = capPrefix(state.prefix, maxDf)
      .select(col("doc").as("host"), col("sz").as("__szh"), col("token"))
    // batch sides BROADCAST when MEASURED small, state frames only
    // scanned — see containmentProbe for the full argument: without the
    // hints the corpus-sized prefix/sets frames shuffle per probe (the
    // wall grows super-linearly in corpus size); with UNCONDITIONAL
    // hints a corpus-sized batch OOMs the driver. The gate is the
    // advisor cost model on the frames in hand; over budget the plan
    // reverts to sort-merge.
    // one action (the containmentProbe stats shape): count, mass, and
    // the prefix-row-weighted batch set size
    val stats = incPrefix.agg(count(lit(1)),
      coalesce(sum(col("__df")), lit(0L)),
      coalesce(avg(col("__szi")), lit(0.0))).head()
    val avgSz = stats.getDouble(2)
    val budget = broadcastBudget
      .getOrElse(probeBroadcastBudget(incoming.sparkSession))
    val bcast = stats.getLong(0) * 56 <= budget &&
      (stats.getLong(1) * (avgSz * 8 + 48)).toLong <= budget
    val incJoin = incPrefix.select(col("din"), col("__szi"), col("token"))
    val cand = (if (bcast) broadcast(incJoin) else incJoin)
      .join(hostPrefix, Seq("token"))
      .where(col("din") =!= col("host") &&
        lit(state.threshold) * col("__szi") <= col("__szh") &&
        lit(state.threshold) * col("__szh") <= col("__szi"))
      .select(col("din"), col("host")).distinct()
    // broadcast mode streams the STANDING sets scan through the verify
    // join, so the intersects run at the state's parquet split count —
    // fine now that the verify kernel is the native two-pointer
    // sorted_intersect_count (a round-18 spread of the intersects to the
    // sized verify width was measured a net loss once the kernel landed:
    // its extra candidate checkpoint/count/semi-join actions cost more
    // per micro-batch than the now-cheap single-split verify)
    val enriched = cand
      .join(inc.select(col("doc").as("din"), col("toks").as("__ti")), Seq("din"))
    (if (bcast) enriched.hint("broadcast") else enriched)
      .join(state.sets.select(col("doc").as("host"), col("toks").as("__th")),
        Seq("host"))
      .withColumn("__ic", graft.expressions.SortedIntersect.sortedIntersectCount(col("__ti"), col("__th")))
      .withColumn("__jac", col("__ic").cast("double") /
        (size(col("__ti")) + size(col("__th")) - col("__ic")))
      .where(col("__jac") >= state.threshold)
      .select(col("din").as("id_in"), col("host").as("id_host"),
        size(col("__ti")).cast("long").as("sz_in"),
        size(col("__th")).cast("long").as("sz_host"),
        col("__ic").cast("long").as("overlap"),
        round(col("__jac"), 6).as("jaccard"))
  }

  /** Winnowing fingerprints per document (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — MOSS): distinct window-min char-gram hashes over the
    * whitespace-normalized text. Two documents sharing any substring of
    * `k + w - 1`+ chars share a fingerprint — the plagiarism-detection
    * selection rule, ~1/w of the gram hashes, position-robust where
    * head-sampling is not. Returns `(idCol, fp)`.
    *
    * Row-local: the native expression does grams + deque window-min +
    * dedup in ONE pass per document ([[graft.expressions.GramHashRuntime
    * .winnowFingerprintSet]]); nothing is exploded until the already
    * ~len/w-sized fingerprint set leaves the scan.
    */
  def winnowFingerprints(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 7, w: Int = 5): DataFrame =
    df.where(col(textCol).isNotNull).select(col(idCol),
      explode(graft.expressions.GramHashExpressions.winnowFingerprintSet(
        regexp_replace(lower(trim(col(textCol))), "\\s+", " "), k, w)).as("fp"))

  /** Differential-testable winnowing: the same normalize / positional-gram
    * / window-min / distinct pipeline over the PORTABLE gram hash (md5
    * 60-bit prefix) — explode + windowed min instead of the one-pass
    * native kernel, every operator replayable in any SQL engine (the
    * [[simhashPortable]] convention). Exists to put the ALGORITHM under
    * the cross-engine oracle; [[winnowFingerprints]] is the production
    * path.
    */
  def winnowFingerprintsPortable(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 7, w: Int = 5): DataFrame = {
    // Row-LOCAL formulation (was: explode to one row per gram + a
    // partitionBy(doc) window min — a |corpus chars|-row exchange + sort
    // that dominated q193 at 4 s). The gram-hash vector, the w-window
    // mins, and the distinct fingerprint set are higher-order array ops
    // on the document row; nothing leaves the scan until the ~len/w
    // fingerprint set explodes for the postings join. Same algorithm,
    // same values, zero pre-join shuffle — the plan the native kernel
    // already had, now on the portable md5 hash too.
    val norm = regexp_replace(lower(trim(col(textCol))), "\\s+", " ")
    val base = df.where(col(textCol).isNotNull)
      .select(col(idCol), norm.as("__norm"))
      .withColumn("__ng", greatest(length(col("__norm")) - (k - 1), lit(1)))
    val grams = transform(sequence(lit(1), col("__ng")),
      i => conv(substring(md5(col("__norm").substr(i, lit(k))), 1, 15),
        16, 10).cast("long"))
    // window min at position i spans grams[i .. i+w-1]; slice clamps at
    // the array end exactly like the old rowsBetween(current, w-1) frame
    val wmins = transform(
      sequence(lit(1), greatest(col("__ng") - (w - 1), lit(1))),
      i => array_min(slice(col("__g"), i, lit(w))))
    base.withColumn("__g", grams)
      .select(col(idCol), explode(array_distinct(wmins)).as("fp"))
  }

  /** Winnowing candidate pairs: documents sharing at least `minShared`
    * fingerprints, with the shared count — the near-copy screen for
    * text reuse / plagiarism at corpus scale. Fingerprints appearing in
    * more than `maxPostings` documents (boilerplate fragments — the
    * fingerprint analog of stopwords) are dropped BEFORE the self-join,
    * bounding the per-fingerprint fan-out at `maxPostings^2`; total join
    * output is then <= maxPostings * |postings| — linear in the corpus.
    * Singleton fingerprints are also pruned (they cannot form a pair —
    * output-neutral, halves the join input).
    */
  def winnowCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 7, w: Int = 5, maxPostings: Int = 50, minShared: Int = 2,
      portable: Boolean = false): DataFrame = {
    require(maxPostings >= 2, "maxPostings must be at least 2")
    require(minShared >= 1, "minShared must be at least 1")
    val fps =
      if (portable) winnowFingerprintsPortable(df, idCol, textCol, k, w)
      else winnowFingerprints(df, idCol, textCol, k, w)
    // ONE pass over the fingerprint frame (was: a count groupBy + a semi
    // join + a self-join, each recomputing the fingerprint scan — 3x the
    // corpus work at any scale): group the posting list per fingerprint,
    // apply the ubiquity cap and the singleton prune on its SIZE, and
    // emit the <= C(maxPostings,2) ordered pairs row-locally from the
    // sorted id array. Join fan-out is bounded exactly as before; the
    // corpus is scanned once. collect_SET, not list: the fingerprint
    // frame is distinct per doc, but duplicate-id input rows would put
    // the same id twice in a posting list and the strictly-after pair
    // expansion would then emit (x,x) self-pairs the old self-join's
    // id_l < id_r predicate filtered — the set keeps the operator robust
    // to duplicate-id input at zero extra cost (ADVICE r11).
    val postings = fps.groupBy(col("fp"))
      .agg(sort_array(collect_set(col(idCol))).as("__ids"))
      .where(size(col("__ids")) >= 2 && size(col("__ids")) <= maxPostings)
    postings
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(slice(col("__ids"), i + 2, lit(maxPostings)), y =>
          struct(x.as("id_l"), y.as("id_r")))))).as("__p"))
      .select(col("__p.id_l"), col("__p.id_r"))
      .groupBy(col("id_l"), col("id_r")).agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** 64-bit SimHash per document: per-bit majority vote over token hashes
    * (multiplicity-weighted), computed by the native single-pass expression —
    * no explode, no shuffle, one long per document out of the scan.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.expressions.GramHashExpressions.simhash64(col(textCol)).as("simhash"))

  /** Differential-testable SimHash: the same multiplicity-weighted bit-vote
    * algorithm as [[simhash]], but over a PORTABLE token hash — the first 60
    * bits of md5(token) — so any SQL engine with `md5` can reproduce the
    * values bit-for-bit (the fast path's xxhash64 is Spark-internal). Docs
    * with no tokens get simhash 0.
    *
    * Formulation: explode + 60 map-side-combinable vote sums + one final
    * projection assembling the long — one shuffle of 60 narrow longs per
    * (doc, partition). The fast path ([[simhash]], one-pass native
    * expression, no explode/shuffle) remains the production choice; this
    * variant exists for cross-engine verification of the ALGORITHM, the
    * reference's own SQL-vs-SQL differential-test philosophy
    * (`R/ffsql.R:61-65`).
    */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60 // 15 md5 hex chars: max 2^60-1 fits signed 64-bit in any engine
    val tok = df.select(col(idCol),
      explode(text.tokens(col(textCol))).as("tok"))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"b$b")
    }
    val agg = tok.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val sim = (0 until bits).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    df.select(col(idCol))
      .join(agg.select(col(idCol), sim.as("simhash")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("simhash"), lit(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs within `maxHamming` bit flips. Candidates via
    * bit-band equality; by pigeonhole, `maxHamming` flips cannot touch all
    * of `maxHamming + 1` bands, so the band count DERIVES from `maxHamming`
    * — a fixed 4-band split would silently lose recall for maxHamming > 3.
    * Verified with `bit_count(xor)`.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      "maxHamming must be in [0, 31] (banding needs >=2-bit bands)")
    val sh = simhash(df, idCol, textCol)
    val nBands = maxHamming + 1
    val width = 64 / nBands // last band absorbs the remainder
    val bandCols = (0 until nBands).map { b =>
      val w = if (b == nBands - 1) 64 - b * width else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      struct(lit(b).as("band"),
        shiftright(col("simhash"), b * width).bitwiseAND(mask).as("bh"))
    }
    val buckets = sh.select(col(idCol), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val sized = dropOversizedBuckets(buckets, maxBucket)
    val l = sized.select(col("band"), col("bh"), col(idCol).as("id_l"), col("simhash").as("sh_l"))
    val r = sized.select(col("band"), col("bh"), col(idCol).as("id_r"), col("simhash").as("sh_r"))
    l.join(r, Seq("band", "bh"))
      .where(col("id_l") < col("id_r"))
      .withColumn("hamming", bit_count(col("sh_l").bitwiseXOR(col("sh_r"))))
      .where(col("hamming") <= maxHamming)
      .select("id_l", "id_r", "hamming").distinct()
  }

  /** Character-n-gram Jaccard near-dup pairs: MinHash-LSH candidates over
    * char n-grams, verified with exact char-n-gram Jaccard. Robust to
    * whitespace/token boundary edits where word shingles are not.
    */
  /** Banding default r=8 (bands=4 of 32 hashes): char-n-gram baseline
    * similarity between UNRELATED texts is high (~0.3 for prose over a
    * shared vocabulary), so the s-curve must be sharp — r=8 keeps noise
    * collisions at j=0.3 to ~2.6e-4 while retaining ~100% recall at j>=0.95.
    * Callers hunting lower-similarity pairs should raise `bands`.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, threshold: Double = 0.8, numHashes: Int = 32,
      bands: Int = 4, maxBucket: Int = 1000): DataFrame = {
    val grams = charNgramSets(df, idCol, textCol, n)
    val sig = signatureOf(grams, idCol, numHashes)
    val cand = bucketPairs(bandBuckets(sig, idCol, numHashes, bands), idCol, maxBucket)
    verifyJaccard(cand, grams, idCol, threshold)
  }

  /** Embedding-cosine near-duplicate pairs: random-hyperplane LSH buckets
    * (multiple independent tables for recall), exact cosine verification.
    * Equi-join on bucket keys only — no cross join at any scale.
    */
  def embeddingNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, tables: Int = 4, bits: Int = 12,
      maxBucket: Int = 2000): DataFrame = {
    val bucketCols = (0 until tables).map { t =>
      struct(lit(t).as("band"),
        vectors.hyperplaneBucket(col(vecCol), dim, bits, seed = 0x9E3779B97F4A7C15L + t).as("bh"))
    }
    val buckets = df.select(col(idCol), col(vecCol),
      explode(array(bucketCols: _*)).as("bb"))
      .select(col(idCol), col(vecCol), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val sized = dropOversizedBuckets(buckets, maxBucket)
    val l = sized.select(col("band"), col("bh"), col(idCol).as("id_l"), col(vecCol).as("v_l"))
    val r = sized.select(col("band"), col("bh"), col(idCol).as("id_r"), col(vecCol).as("v_r"))
    l.join(r, Seq("band", "bh"))
      .where(col("id_l") < col("id_r"))
      .withColumn("cosine", vectors.cosine(col("v_l"), col("v_r")))
      .where(col("cosine") >= threshold)
      .select(col("id_l"), col("id_r"), round(col("cosine"), 6).as("cosine"))
      .distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * clustering embeddings and dropping, within each cluster, every
    * document whose cosine similarity to a smaller-id cluster member
    * reaches `threshold`. Returns the KEPT rows as `(idCol, cell)`.
    *
    * Retention diverges from the paper deliberately: canonical-min-id (the
    * repo-wide dedup contract above) instead of the paper's
    * least-similar-to-centroid representative — the kept-set SIZE and the
    * threshold graph are the algorithm; which member survives is policy.
    *
    * Scale: candidate pairs come from an equi-join on the cell id — never
    * corpus-wide all-pairs. Within-cell pairing is O(sum c_i^2) BY DESIGN;
    * the paper's k controls cell size (pick k ~ N / target_cell_size, the
    * paper uses k = 11k cells for LAION-440M). With
    * [[Ivf.portableSeedModel]] the quantizer is reproducible in any engine
    * with md5, so the whole operator sits under a full hash oracle
    * (q129); [[Ivf.train]] is the density-adaptive production path.
    */
  def semDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      model: Ivf.Model, threshold: Double = 0.95): DataFrame = {
    val asg = corpus.select(col(idCol), col(vecCol),
      graft.expressions.VectorExpressions
        .nearestCentroids(col(vecCol), model.centroids, 1)(0).as("cell"))
    val l = asg.select(col("cell"), col(idCol).as("id_l"), col(vecCol).as("v_l"))
    val r = asg.select(col("cell"), col(idCol).as("id_r"), col(vecCol).as("v_r"))
    val dropped = l.join(r, Seq("cell"))
      .where(col("id_l") < col("id_r"))
      .where(vectors.cosine(col("v_l"), col("v_r")) >= threshold)
      .select(col("id_r").as(idCol)).distinct()
    asg.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** Incremental [[semDedup]]: `incoming` documents are dropped when they
    * are semantic near-dups of the STANDING corpus (the already-kept set)
    * or of a smaller-id incoming row in the same cell. The corpus is never
    * re-paired against itself — per-increment cost is
    * O(|incoming| x cell-mates), the same contract as the minhash and
    * exact-substring incremental faces (q64/q120).
    *
    * Train (or seed) the quantizer ONCE per corpus generation and reuse it
    * for every increment — re-fitting moves every cell boundary and
    * silently changes which pairs are ever compared
    * ([[Ivf.saveModel]]/[[Ivf.loadModel]] persist it bit-identically).
    */
  def semDedupIncremental(
      corpus: DataFrame, incoming: DataFrame, idCol: String, vecCol: String,
      model: Ivf.Model, threshold: Double = 0.95): DataFrame = {
    def assign(df: DataFrame) = df.select(col(idCol), col(vecCol),
      graft.expressions.VectorExpressions
        .nearestCentroids(col(vecCol), model.centroids, 1)(0).as("cell"))
    val corp = assign(corpus).select(col("cell"), col(vecCol).as("v_c"))
    val inc = assign(incoming)
    val vsCorpus = inc.join(corp, Seq("cell"))
      .where(vectors.cosine(col(vecCol), col("v_c")) >= threshold)
      .select(col(idCol)).distinct()
    val l = inc.select(col("cell"), col(idCol).as("id_l"), col(vecCol).as("v_l"))
    val r = inc.select(col("cell"), col(idCol).as("id_r"), col(vecCol).as("v_r"))
    val vsSelf = l.join(r, Seq("cell"))
      .where(col("id_l") < col("id_r"))
      .where(vectors.cosine(col("v_l"), col("v_r")) >= threshold)
      .select(col("id_r").as(idCol)).distinct()
    inc.join(vsCorpus.union(vsSelf).distinct(), Seq(idCol), "left_anti")
      .select(col(idCol), col("cell").cast("long").as("cell"))
  }

  /** Segment-level dedup — the "remove any line occurring >= N times in the
    * corpus" pass of C4/Gopher-style pipelines, adapted to unpunctuated
    * text: documents are chunked into runs of at most `width` whitespace-
    * separated words by ONE greedy regex pass, every occurrence of a
    * segment whose corpus-wide count reaches `minCount` is dropped, and the
    * survivors are reassembled in document order.
    *
    * Returns `(idCol, clean_text, n_total, n_kept)` — one row per distinct
    * `idCol` (the id must uniquely identify documents; duplicate ids merge
    * into one output row). Fully-deduplicated documents survive with empty
    * text, so downstream length filters see them.
    *
    * Scale: chunking is a codegen'd `regexp_extract_all` (no interpreted
    * HOF lambdas — see the shingling note above). The corpus streams
    * through the chunking scan twice — once into the map-side-combinable
    * segment-count aggregation, once into the rebuild join — which is the
    * scalable shape: the alternative single-evaluation plan (carry per-
    * occurrence doc lists through the count aggregation) holds unbounded
    * state for exactly the high-frequency segments this operator exists to
    * remove. The frequent-segment set (tiny — it is the corpus'
    * boilerplate) joins back as a left join AQE turns into a broadcast;
    * reassembly is one per-document aggregation whose state is bounded by
    * document length. Nothing is ever materialized corpus-wide.
    */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      width: Int = 8, minCount: Long = 2): DataFrame = {
    require(width > 0, "width must be positive")
    require(minCount > 1, "minCount must be at least 2 (1 would drop everything)")
    // greedy leftmost chunking. The whitespace class is spelled out because
    // Java and RE2 disagree on \S (Java's excludes \x0B, RE2's includes
    // it); with the explicit class the chunking is engine-identical, so a
    // DuckDB oracle segments the same way (no backtracking-dependent
    // constructs either).
    val pattern = s"(?:[^ \\t\\n\\x0B\\f\\r]+ ?){1,$width}"
    // posexplode_outer keeps zero-segment documents (empty/whitespace-only
    // text) as a null-seg placeholder row, so every input id survives to
    // the final aggregation — no third scan of df to restore them
    val segs = df
      .select(col(idCol), posexplode_outer(regexp_extract_all(
        col(textCol), lit(pattern), lit(0))))
      .select(col(idCol), col("pos").as("idx"), trim(col("col")).as("seg"))
    val frequent = segs.where(col("seg").isNotNull)
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= minCount)
      .select(col("seg"), lit(true).as("__drop"))
    // null seg never equi-joins, so placeholder rows keep __drop = null
    val keep = col("seg").isNotNull && col("__drop").isNull
    segs.join(frequent, Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(
        count(col("seg")).as("n_total"),
        count(when(keep, 1)).as("n_kept"),
        // collect_list skips nulls, so dropped segments and placeholders
        // vanish here; the struct sorts by idx first (unique per doc) =
        // document order
        array_join(
          sort_array(collect_list(when(keep, struct(col("idx"), col("seg")))))
            .getField("seg"), " ").as("clean_text"))
      .select(col(idCol), col("clean_text"), col("n_total"), col("n_kept"))
  }
}
