package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.SimilarityQueries

/** Scaling-curve harness (dev tooling, like Verify/Bench): measure the
  * heaviest dedup / graph / pipeline operators at sf0.1 and at a
  * synthetic 10x corpus ("sf1"), so sub-quadratic growth is a
  * MEASUREMENT, not an assertion from plan shape.
  *
  * The sf1 corpus is 10 ISOMORPHIC replicas of the sf0.1 documents and
  * embeddings tables:
  *   - replica `r` suffixes every token with a replica letter
  *     (`spark` -> `sparkc`), so per-doc token/shingle counts and the
  *     intra-replica near-dup structure are EXACTLY those of sf0.1
  *     while cross-replica shingles are disjoint — the pair graph is 10
  *     disjoint copies of the sf0.1 pair graph;
  *   - replica `r` rotates embedding coordinates by `r` positions (an
  *     isometry: intra-replica cosines identical, cross-replica cosines
  *     decorrelate like random vectors).
  *
  * Corpus size and pair structure therefore both scale exactly 10x: a
  * bucketed / prefix-filtered / window-equi-joined engine should grow
  * ~linearly in wall time (ratio ~10 on a fixed box, less where the box
  * was underutilized at sf0.1), while an all-pairs engine would grow
  * 100x. Ratios are reported per query; for most entries anything
  * super-linear beyond shuffle constants is a scaling bug to diagnose.
  * CAVEAT for the composed close-outs (q249/q269): their semantic
  * screen works corpus-slice x eval-slice where BOTH sides scale with
  * the fixture (a real deployment's eval benchmark is fixed), and their
  * per-source cap pins the post-cap stages to constant size — so a
  * super-linear ratio there is the fixture geometry, and a flat one
  * says nothing about the dedup paths; read those two against the
  * SURVEY §8 diagnosis, not the ~10x rule.
  *
  * Usage: `runMain graft.ScaleBench /root/testdata/sf0.1 /tmp/graft_sf1`
  * — builds the sf1 dir once (skip if present), times each heavy query
  * at both scales (min of `attempts` runs, noop sink — the Bench
  * convention), prints one JSON line per query plus a summary line.
  */
object ScaleBench {

  /** The ONE definition of the replica token-suffix scheme (round-18
    * review: three hand-copied instances of the regex/tag rule meant
    * the parity spec compared two copies of whatever drifted and the
    * scale rows could silently revert to timing an empty retrieval
    * pipeline). `TokenPattern` is the regexp_replace pattern buildScaled
    * applies to corpus text AND bm25QueriesSuffixed applies to query
    * text; [[replicaTag]] is the per-replica suffix: single letters up
    * to 26 replicas, uniform two-letter suffixes above (same-length
    * tags keep token statistics isomorphic across the corpus).
    */
  private[graft] val TokenPattern = "([\\p{L}\\p{N}_]+)"

  private[graft] def replicaTag(r: Int, replicas: Int): String =
    if (replicas <= 26) ('a' + r).toChar.toString
    else "" + ('a' + r / 26).toChar + ('a' + r % 26).toChar

  /** The heavy operators the round-12 verdict asked to curve: minhash
    * pair generation, the connected-components family, the
    * exact-substring family, exact AllPairs, the triangle census, and
    * the composed close-out.
    */
  private val HeavyQueries = Seq(
    "q21_dedup_minhash",
    "q70_dedup_components",
    "q139_dedup_keep_best",
    "q229_dedup_savings",
    "q107_exact_substring",
    "q116_exact_substring_apply",
    "q120_substring_dedup_incr",
    "q199_allpairs_jaccard",
    "q216_dup_triangles",
    "q249_curation_close",
    "q266_containment_pairs",
    "q269_curation_close_contained",
    "q270_containment_probe",
    "q260_embedding_covariance",
    // round 14: the cap telemetry and the capped join (the skew-defense
    // pair — on the skewed corpus the open q266 measures the hazard,
    // these two measure the guard)
    "q274_containment_cap_audit",
    "q276_containment_capped",
    // round 14: the families whose 100 TB claims previously rested on
    // plan shape alone (r13 verdict #6) — ANN rankers across the memory
    // tiers, the SCD2/CDC delta paths, and the end-to-end classifier fit
    "q24_knn_bruteforce",
    "q98_knn_lsh_portable",
    "q118_knn_ivf_portable",
    "q168_knn_pq",
    "q264_sq8_ann",
    "q144_scd2_incremental",
    "q91_cdc_merge",
    "q251_nb_classifier",
    // round 14: the exact-resemblance ingest probe (state build + probe
    // both scale with the fixture)
    "q278_resemblance_probe",
    // round 14: the streamed state-bounded paths — their 100 TB claim
    // is that state stays CONSTANT-per-group while data scales (clamped
    // AUC bins; frozen probe states), so a ~flat per-row curve is the
    // design's signature
    "q271_stream_containment_probe",
    "q279_stream_resemblance_probe",
    "q256_stream_classifier_auc",
    // round 15: script-aware routing (the CJK dedup face of AllPairs),
    // the persisted-state probe (production ingest shape — see
    // SURVEY.md for the probe-ONLY curves), and the pre-flight
    // candidate-mass advisor (must stay cheap at any scale: that is
    // its entire point)
    // CAVEAT q281: the token-suffix replica construction is NOT
    // char-gram-isomorphic — replicas share every interior gram window
    // (only token-tail windows differ), so char-gram df grows with
    // scale and the OPEN script-aware join's candidate mass is
    // super-linear BY FIXTURE GEOMETRY (measured 36-44x at 25x), the
    // q249 caveat applied to grams. Read q281 against q286 (the capped
    // twin, the production shape for gram-common corpora), not the
    // isomorphic ~linear rule.
    "q281_cjk_dedup",
    "q286_cjk_dedup_capped",
    // the routed APPROXIMATE screen: maxBucket bounds per-bucket pair
    // fan-out, so unlike the open q281 the gram-common replica geometry
    // should stay sub-linear here
    "q288_cjk_dedup_minhash",
    "q284_resemblance_probe_persisted",
    "q283_containment_advisor",
    // round 16: routed exact-substring (q107's CJK-blindness closed) —
    // window-equi-join with the maxBucket guard, so boilerplate skew
    // should collapse by content like the word face; the gram-common
    // replica caveat (q281) does NOT apply here (exact windows, not
    // char-gram dfs: token-suffix replicas share NO 12-token word
    // window, and Han twins of suffixed tokens share only interior
    // char runs — expect between-iso-and-q281 growth, read against
    // the q107 row)
    "q289_cjk_substring",
    // round 16: trained PQ (one oracled Lloyd step — the training
    // shuffle is m*dim values per corpus row + an O(m*c*subDim)
    // collect, so the curve should stay ~linear like q168's) and the
    // ADC-shortlist + exact-re-rank face (two corpus streams, both
    // broadcast-probed — ~linear, recall measured in RecallBench)
    "q291_knn_pq_trained",
    "q292_knn_pq_rerank",
    // round 16: soft dedup (q70's component machinery + one count per
    // component and one component-keyed join — the curve should track
    // q70's, never exceed it by more than the weight stage's joins)
    "q293_soft_dedup",
    "q294_soft_savings",
    // round 17: corpus-level paragraph dedup — two equi-key shuffles of
    // the exploded segment frame; the synthesized footers replicate with
    // the corpus, so expected growth is ~linear-in-segments with the
    // frequency skew absorbed map-side (min/count partial agg)
    "q301_paragraph_dedup",
    // round 17: the persisted IVF-PQ index probe (the ANN family's
    // q284 — first battery invocation builds + persists the index,
    // floors measure load + broadcast probe; the encode pass is linear
    // and the probe touches nProbe/nCells of the codes)
    "q299_ann_index_probe",
    // round 17: indexed hard-negative mining — the q299 probe at
    // shortlist depth + a broadcast exact rerank; expect the q299 class
    // (round 18: nCells now DERIVES from the corpus count, so the
    // r17 frozen-cells caveat no longer applies — the probed slice is
    // ~sqrt(N) and these curves should flatten toward the flat probe
    // walls recorded in SURVEY.md; the query slice still scales with the
    // corpus by fixture)
    "q305_hard_negatives_indexed",
    // round 18: the composed faces that shipped without scale rows
    // (r17 verdict #5) — triplets (bounded query set, broadcast mining
    // contract), the mining tuner (one probe at the deepest dial + an
    // in-contract exact truth pass over the fixture queries), and both
    // hybrid retrieval faces (BM25 posting-bounded + PRF; q310 dense =
    // brute-force broadcast stream, q311 dense = indexed shortlist +
    // exact rerank — the contrast pair: q311 should hold its lead as
    // the corpus grows)
    "q306_retrieval_triplets",
    "q309_mining_autotune",
    "q310_hybrid_rrf",
    "q311_hybrid_indexed",
    // round 18: the SQ8-refined mining face — q305 + the refine
    // re-score on the widened ADC cut; the extra stage touches
    // widen*S code rows per query, so the curve should track q305's
    // with a bounded constant on top
    "q312_hard_negatives_refined",
    // round 18: the streamed refined probe — q307's micro-batch
    // machinery over probeRefined; the refine reads widen*k persisted
    // code rows per query, so the curve should track the flat streamed
    // probe wall plus the bounded refine constant (the q312 story under
    // the streaming-harness class price)
    "q313_stream_refined_probe")

  /** Build the `replicas`x corpus: isomorphic token-suffixed document
    * replicas and coordinate-rotated embedding replicas. Id offsets are
    * multiples of 1e8 (≡ 0 mod 10), preserving the id%5 / id%10 slice
    * geometry the queries key on.
    *
    * `skewFrac > 0` additionally REPLACES that fraction of documents
    * (`doc_id % 10 < skewFrac * 10`) with pure-boilerplate windows: 50
    * consecutive words of one of ten 500-word circular templates, the
    * template and offset both functions of the BASE doc id and the
    * words NOT replica-suffixed — so boilerplate shingle df spans
    * replicas and grows linearly with scale while each skewed doc's
    * RAREST prefix shingles are still corpus-frequent (window shingles
    * sit in ~50 windows x docs-per-offset documents). This is the
    * stopword-heavy fan-out hazard the prefix joins' `maxDf` cap
    * guards: candidate generation grows ~quadratically with scale on
    * the uncapped path (per-doc fan-out itself scales with df), and the
    * overlapping windows also plant a REAL near-dup structure whose
    * true pair count grows with the square of docs-per-offset — read
    * skew curves against both effects, not the isomorphic ~linear rule.
    */
  def buildScaled(spark: SparkSession, srcDir: String, outDir: String,
      replicas: Int = 10, skewFrac: Double = 0.0): Unit = {
    // 100 ceiling: doc/vec id offsets stay strictly below RecallBench's
    // PlantBase (1e10); tag scheme
    // switches to uniform two-letter suffixes above 26 replicas (all
    // replicas get SAME-LENGTH suffixes, so token statistics stay
    // isomorphic across the whole corpus at any tier)
    require(replicas >= 2 && replicas <= 100, "replicas in [2, 100]")
    require(skewFrac >= 0.0 && skewFrac <= 1.0, "skewFrac in [0, 1]")
    // the skew cut keys on doc_id % 10, so only tenths are expressible —
    // fail loudly rather than silently quantize (skew=0.04 would build
    // an UNSKEWED corpus stamped as skewed)
    require(skewFrac * 10 == math.round(skewFrac * 10).toDouble,
      s"skewFrac must be a multiple of 0.1 (the cut keys on doc_id % 10); got $skewFrac")
    // the marker records the replica count AND the source dir (the
    // MinhashParams manifest contract): a rerun with a different scale
    // or source must rebuild, not silently reuse a stale corpus
    val done = new java.io.File(s"$outDir/_SCALE_OK")
    val stamp = s"replicas=$replicas;src=$srcDir;skew=$skewFrac"
    if (done.exists() &&
      new String(java.nio.file.Files.readAllBytes(done.toPath),
        java.nio.charset.StandardCharsets.UTF_8) == stamp) return
    done.delete() // stale or absent: rebuild, marker-last
    new java.io.File(outDir).mkdirs()
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    // boilerplate window over the circular template: template id and
    // offset derive from the BASE doc id (stable across replicas — the
    // id offset is ≡ 0 mod 1000), words deliberately unsuffixed
    val tpl = pmod(floor(col("doc_id") / 10).cast("long"), lit(10L))
    val off = pmod(floor(col("doc_id") / 100).cast("long"), lit(500L))
    val skewText = array_join(
      transform(sequence(lit(0L), lit(49L)),
        j => concat(lit("skw"), tpl.cast("string"), lit("w"),
          pmod(off + j, lit(500L)).cast("string"))), " ")
    val skewCut = math.round(skewFrac * 10).toInt
    val scaledDocs = (0 until replicas).map { r =>
      val tag = replicaTag(r, replicas)
      val suffixed =
        // one replacement per token: "$1" + letter is unambiguous where
        // a digit suffix would parse as part of the group number
        regexp_replace(col("text"), TokenPattern, "$1" + tag)
      docs.select(
        (col("doc_id") + lit(r.toLong * 100000000L)).as("doc_id"),
        (if (skewCut == 0) suffixed
        else when(pmod(col("doc_id"), lit(10L)) < skewCut, skewText)
          .otherwise(suffixed)).as("text"),
        col("lang"), col("source"),
        // a REPLACED doc's metadata must describe its new text (a
        // 20k-char n_chars on a 400-char boilerplate row would skew any
        // size-weighted reading of the skew corpus); suffixed rows keep
        // the source value — the isomorphism the curves key on
        (if (skewCut == 0) col("n_chars")
        else when(pmod(col("doc_id"), lit(10L)) < skewCut,
          length(skewText).cast("long")).otherwise(col("n_chars")))
          .as("n_chars"))
    }.reduce(_ unionByName _)
    scaledDocs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    // dim from the first PRESENT vector, with a descriptive failure — a
    // bare first() would throw an opaque NPE/NoSuchElement on a null or
    // absent first row
    val dimRow = emb.where(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty,
      s"$srcDir/embeddings.parquet has no non-null embedding vectors — " +
        "cannot infer the rotation dimension for the scaled corpus")
    val dim = dimRow(0).getInt(0)
    // rotation alone collides past `dim` replicas (rotation r ≡ r % dim
    // — replica dim+k would carry IDENTICAL vectors to replica k,
    // planting cross-replica exact dups the ANN curves would then
    // partly measure); compose with a global negation for the second
    // wrap — still an isometry (intra-replica cosines exact), and v vs
    // -v is maximally DISSIMILAR under cosine, so cross-replica
    // structure stays decorrelated up to 2*dim replicas
    require(replicas <= 2 * dim,
      s"replicas=$replicas exceeds 2*dim=${2 * dim} — the rotate+negate " +
        "isometry family is exhausted; a third wrap would plant exact dups")
    val elemType = emb.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val scaledEmb = (0 until replicas).map { r =>
      val negate = (r / dim) % 2 == 1
      emb.select(
        (col("vec_id") + lit(r.toLong * 100000000L)).as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val rot = element_at(col("embedding"), ((i + lit(r)) % dim) + 1)
          // cast back: the -1 multiply would otherwise widen float
          // elements to double and silently change the table schema
          if (negate) (rot * lit(-1)).cast(elemType) else rot
        }).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
    scaledEmb.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
    // orders feed the SCD2/CDC delta paths (q144/q91): the id offset is
    // a multiple of lcm(7, 10, 20) = 140, so every key-mod slice the
    // changelog fixtures key on (% 7 snapshots, % 10 / % 20 update
    // generations) keeps EXACTLY its sf0.1 proportions per replica —
    // history size, delta size and touched-key ratio all scale by
    // `replicas` and nothing else
    val ord = spark.read.parquet(s"$srcDir/orders.parquet")
    val scaledOrd = (0 until replicas).map { r =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(r.toLong * 100000040L))
        .withColumn("o_custkey", col("o_custkey") + lit(r.toLong * 100000040L))
    }.reduce(_ unionByName _)
    scaledOrd.repartition(16).write.mode("overwrite")
      .parquet(s"$outDir/orders.parquet")
    java.nio.file.Files.writeString(done.toPath, stamp)
  }

  /** `tag` is the replica-0 token suffix of the corpus at `dir` (empty
    * for the unsuffixed source): the hybrid-retrieval faces query by
    * FIXED text, and buildScaled suffixes every token of every replica,
    * so the queries must be suffixed into the scaled corpus's token
    * space or the scale row times an empty pipeline — zero BM25 hits,
    * empty PRF, no dense probe (the round-18 review finding that
    * invalidated the first recorded q310/q311 curves). Suffixed query
    * statistics stay isomorphic: each replica's postings are disjoint
    * by tag, so df/tf of the suffixed terms equal the source run's.
    */
  private def timeOnce(spark: SparkSession, name: String, dir: String,
      tag: String = ""): Double = {
    val t0 = System.nanoTime()
    val df = name match {
      case "q310_hybrid_rrf" if tag.nonEmpty =>
        SimilarityQueries.hybridRrf(spark, dir,
          SimilarityQueries.bm25QueriesSuffixed(tag))
      case "q311_hybrid_indexed" if tag.nonEmpty =>
        SimilarityQueries.hybridIndexed(spark, dir,
          SimilarityQueries.bm25QueriesSuffixed(tag))
      case _ => SparkEntry.queries(name)(spark, dir)
    }
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val attempts = if (args.length > 2) args(2).toInt else 2
    val replicas = if (args.length > 3) args(3).toInt else 10
    // further args restrict the battery (the Bench partial-run contract);
    // `skew=0.1` switches the scaled corpus to the boilerplate-skewed
    // variant (see buildScaled — pick a distinct outDir per skew setting)
    val extra = args.drop(4)
    val skewFrac = extra.collectFirst {
      case a if a.startsWith("skew=") => a.stripPrefix("skew=").toDouble
    }.getOrElse(0.0)
    val only = extra.filterNot(_.startsWith("skew=")).toSet
    val unknown = only.diff(HeavyQueries.toSet)
    require(unknown.isEmpty, s"not heavy-battery queries: ${unknown.mkString(", ")}")
    val battery = if (only.isEmpty) HeavyQueries else HeavyQueries.filter(only)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.local(cpus.toInt, "graft-scalebench")
    buildScaled(spark, srcDir, outDir, replicas, skewFrac)
    val nSmall = spark.read.parquet(s"$srcDir/documents.parquet").count()
    val nBig = spark.read.parquet(s"$outDir/documents.parquet").count()
    // replica-0's token tag under buildScaled's scheme — the shared
    // definition, not a copy
    val tag0 = replicaTag(0, replicas)
    val rows = battery.map { name =>
      val small = (1 to attempts).map(_ => timeOnce(spark, name, srcDir)).min
      // the OPEN exact faces gate on candidate mass and, past the
      // round-17 hard ceiling, REFUSE the melt regardless of flags —
      // at a large-enough tier that refusal IS the measurement (the
      // guard firing where the r15 skew runs measured 46x walls), so
      // record it as a gated row instead of crashing the battery
      val big = try {
        Right((1 to attempts).map(_ =>
          timeOnce(spark, name, outDir, tag = tag0)).min)
      } catch {
        case e: IllegalStateException
            if e.getMessage != null && e.getMessage.contains("HARD CEILING") =>
          Left(e.getMessage.takeWhile(_ != '\n'))
      }
      big match {
        case Right(b) =>
          val ratio = b / small
          println(f"""{"query":"$name","sf01_sec":$small%.3f,"sf1_sec":$b%.3f,"ratio":$ratio%.2f}""")
          f""""$name":[$small%.3f,$b%.3f,$ratio%.2f]"""
        case Left(msg) =>
          // the gate's first line goes to stderr (it may contain JSON-
          // hostile characters), the artifact row just records the fact
          System.err.println(s"[scalebench] $name gated: $msg")
          println(f"""{"query":"$name","sf01_sec":$small%.3f,"gated_hard_ceiling":true}""")
          f""""$name":[$small%.3f,"gated","gated"]"""
      }
    }
    val s = rows.mkString(",")
    println(s"""{"metric":"scale_curve","rows_small":$nSmall,"rows_big":$nBig,"queries":{$s}}""")
    spark.stop()
  }
}
