package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph authority scoring — the host-level PageRank used by web-corpus
  * curation pipelines (CommonCrawl/RefinedWeb rank hosts on the crawl link
  * graph and use the score as a document quality prior).
  *
  * Reproducibility contract (the house convention): every per-row operation
  * (rank/out-degree division, the damping affine map) runs in IEEE double —
  * bit-identical in any engine — and is immediately ROUNDED to a fixed
  * decimal scale; every cross-row SUM runs over those rounded DECIMALs
  * (exact, merge-order-independent). The iteration is therefore a decimal
  * fixed-point sequence any SQL engine replays verbatim: no tolerance, the
  * oracle hash-matches.
  */
object Graph {

  /** Edge bound for the driver-side walk: 100k edges collect to a few MB
    * (the broadcast-join-threshold order, as in
    * [[DupGraph.triangleCensus]]).
    */
  private val LocalEdgeLimit = 100000L

  /** `iters` rounds of damped PageRank over a directed edge frame
    * `(srcCol, dstCol)` (parallel edges are collapsed; self-loops kept —
    * they are ordinary edges to the algorithm). Returns one row per node:
    * `(node, out_deg, rank)` with `rank` the scale-`scale` decimal as
    * DOUBLE.
    *
    * Semantics: `rank_0 = round(1/N)`; each round,
    * `contrib(u) = round(rank(u) / out_deg(u))` flows along every edge,
    * `rank'(v) = round((1-d)/N + d * sum(contribs into v))`. Dangling
    * nodes (out-degree 0) contribute nothing — their mass leaks, the
    * simplest standard variant, chosen because redistribution would need
    * a per-round global scalar (a driver sync per iteration).
    *
    * Scale: the edge frame is consumed every round, so it is eagerly
    * localCheckpoint'ed ONCE (on a cluster this is the cached link graph
    * every PageRank implementation keeps resident); each round is one
    * broadcast-free equi-join edges-to-ranks on `src` plus one
    * map-side-combinable sum on `dst` — the canonical iterate, shuffle
    * volume O(E) per round on exactly the join keys. `iters` is a fixed
    * small constant (authority scores converge geometrically; curation
    * uses the ORDER, which stabilizes in a handful of rounds).
    */
  def pageRank(
      edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 5, damping: Double = 0.85, scale: Int = 12,
      localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    require(iters >= 1, "iters must be at least 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val dec = s"decimal(28,$scale)"
    val eRaw = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nEdges = eRaw.count()
    // host graphs are often SMALL (20 sources, 1e4 domains) while the
    // frames they rank are huge; below the bound the exact decimal walk
    // runs driver-side (the DupGraph.localCensus pattern — identical
    // values, since every step is the same round-then-exact-sum), instead
    // of 2 exchanges x iters of scheduler overhead for a one-screen result
    if (nEdges <= localEdgeLimit)
      return localPageRank(edges.sparkSession, eRaw, iters, damping, scale)
    // size the per-round micro-stages to the MATERIALIZED edge count;
    // a 1e9-edge graph keeps full parallelism
    val parts = math.max(1L, math.min(
      edges.sparkSession.sparkContext.defaultParallelism.toLong,
      nEdges / 100000L + 1L)).toInt
    val e = eRaw.coalesce(parts)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val outDeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
    val base = nodes.join(outDeg, Seq("node"), "left")
      .na.fill(0L, Seq("out_deg"))
      .localCheckpoint() // O(V), reused every round + in the final select
    val n = base.count()
    require(n > 0, "graph has no nodes")
    var ranks = base.select(col("node"),
      round(lit(1.0) / n, scale).cast(dec).as("rank"))
    for (_ <- 1 to iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "src")
          .join(outDeg.withColumnRenamed("node", "src"), Seq("src")), Seq("src"))
        .select(col("dst").as("node"),
          round(col("rank").cast("double") / col("out_deg"), scale)
            .cast(dec).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("__in"))
      ranks = base.select(col("node")).join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit((1.0 - damping) / n) +
            lit(damping) * coalesce(col("__in").cast("double"), lit(0.0)),
            scale).cast(dec).as("rank"))
    }
    base.join(ranks, Seq("node"))
      .select(col("node"), col("out_deg"), col("rank").cast("double").as("rank"))
  }

  /** Driver-side exact replica of the distributed walk: per-step rounding
    * via `BigDecimal.valueOf(...).setScale(HALF_UP)` (the Round
    * expression's own rule) and exact decimal in-sums — value-identical
    * output, one collect, zero per-round stages. Node type is whatever
    * the edge frame carries (schema copied from it).
    */
  private def localPageRank(
      spark: org.apache.spark.sql.SparkSession, e: DataFrame,
      iters: Int, damping: Double, scale: Int): DataFrame = {
    def rs(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(scale, java.math.RoundingMode.HALF_UP)
    val es = e.collect().map(r => (r.get(0), r.get(1)))
    val nodes = es.flatMap(p => Seq(p._1, p._2)).distinct
    val outDeg = es.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n = nodes.length
    require(n > 0, "graph has no nodes")
    var rank: Map[Any, java.math.BigDecimal] =
      nodes.map(v => v -> rs(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        rs(rank(u).doubleValue() / outDeg(u))
      }.reduce(_ add _)).toMap
      rank = nodes.map { v =>
        val s = in.get(v).map(_.doubleValue()).getOrElse(0.0)
        v -> rs((1.0 - damping) / n + damping * s)
      }.toMap
    }
    val nodeType = e.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node", nodeType, nullable = true),
      org.apache.spark.sql.types.StructField("out_deg",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(nodes.map(v => org.apache.spark.sql.Row(
        v, outDeg.getOrElse(v, 0L), rank(v).doubleValue())): _*)
    spark.createDataFrame(rows, schema)
  }
}
