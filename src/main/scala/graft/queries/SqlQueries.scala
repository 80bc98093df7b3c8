package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.prepareBucketedTables
import graft.functions.text
import graft.ops.Ops

/** The delegated-SQL capability sweep (SURVEY.md §2.6): the relational
  * surface the reference pushes to the remote DB inside `query` — joins,
  * set operations, windows, grouping sets, pivots, scalar and date
  * functions, plan-shape operators (bucketed, salted, Bloom and fuzzy
  * joins, z-order) and SQL text run through the engine itself.
  */
object SqlQueries extends Family {
  import Shared._

  val cases: Seq[Case] = Seq(

    Case("q01_pricing_summary", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""")),

    Case("q02_filter_pushdown", (s, d) => {
      t(s, d, "lineitem")
        .where(col("l_shipdate").cast("timestamp") >= ts("1998-01-01") &&
          col("l_discount").between(0.02, 0.06) && col("l_quantity") < 10)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net_price"))
        .orderBy("l_orderkey", "l_linenumber", "net_price")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber,
         l_extendedprice * (1.0 - l_discount) AS net_price
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber, net_price""")),

    Case("q03_topk_revenue", (s, d) => {
      val c = t(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, d, "orders").where(col("o_orderdate").cast("timestamp") < ts("1999-01-01"))
      t(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, oracle = Some(
      """SELECT l_orderkey,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    Case("q04_region_revenue", (s, d) => {
      val asia = t(s, d, "region").where(col("r_name") === "ASIA")
      t(s, d, "lineitem")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, oracle = Some(
      """SELECT n_name,
         CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
         GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    Case("q05_running_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running",
          sum(col("o_totalprice").cast("decimal(18,4)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("running"))
        .orderBy("o_custkey", "rn")
    }, oracle = Some(
      """SELECT o_custkey,
         CAST(row_number() OVER w AS INTEGER) AS rn, o_orderkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER
           (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, rn""")),

    Case("q06_intersect", (s, d) => {
      t(s, d, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")
    }, oracle = Some(
      """SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk""")),

    Case("q07_except", (s, d) => {
      t(s, d, "orders").select(col("o_orderkey").as("k"))
        .except(t(s, d, "lineitem").select(col("l_orderkey").as("k")))
        .orderBy("k")
    }, oracle = Some(
      """SELECT o_orderkey AS k FROM orders
         EXCEPT SELECT l_orderkey AS k FROM lineitem ORDER BY k""")),

    Case("q08_rollup", (s, d) => {
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    Case("q09_semijoin", (s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")),

    Case("q10_antijoin", (s, d) => {
      t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey, o_orderstatus FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
         ORDER BY o_orderkey""")),

    Case("q11_having", (s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .where(col("n_orders") >= 5)
        .orderBy("o_custkey")
    }, oracle = Some(
      """SELECT o_custkey, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
         FROM orders GROUP BY o_custkey HAVING count(*) >= 5
         ORDER BY o_custkey""")),

    Case("q12_scalar_funcs", (s, d) => {
      t(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_up"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        length(col("p_name")).cast("long").as("name_len"),
        concat(col("p_brand"), lit("#"), col("p_type")).as("brand_type"),
        when(col("p_size") < 10, "small").when(col("p_size") < 30, "mid")
          .otherwise("big").as("size_class"),
        round(col("p_retailprice") / 7.0, 3).as("price_div"))
        .orderBy("p_partkey")
    }, oracle = Some(
      """SELECT p_partkey, upper(p_brand) AS brand_up,
         substring(p_name, 1, 8) AS name_pfx,
         CAST(length(p_name) AS BIGINT) AS name_len,
         concat(p_brand, '#', p_type) AS brand_type,
         CASE WHEN p_size < 10 THEN 'small' WHEN p_size < 30 THEN 'mid'
              ELSE 'big' END AS size_class,
         round(p_retailprice / 7.0, 3) AS price_div
         FROM part ORDER BY p_partkey""")),

    Case("q13_date_funcs", (s, d) => {
      val od = col("o_orderdate").cast("timestamp")
      t(s, d, "orders").select(
        col("o_orderkey"),
        year(od).cast("long").as("yr"),
        month(od).cast("long").as("mo"),
        quarter(od).cast("long").as("qtr"),
        epochSec(date_trunc("month", od)).as("month_start_epoch"),
        datediff(od.cast("date"), lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
         CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start_epoch,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since
         FROM orders ORDER BY o_orderkey""")),

    Case("q54_sql_native_fn", (s, d) => {
      // The native expressions surfaced in SQL text via GraftExtensions —
      // a reference user's SQL-string workflow calling an engine extension
      // function, checked against DuckDB's built-in equivalent.
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_v")
      s.sql("""
        SELECT a.vec_id AS id_l, b.vec_id AS id_r,
               round(cosine_similarity(a.embedding, b.embedding), 6) + 0
                 AS cosine
        FROM embeddings_v a JOIN embeddings_v b ON a.vec_id + 1 = b.vec_id
        ORDER BY id_l""")
    }, oracle = Some(
      """SELECT a.vec_id AS id_l, b.vec_id AS id_r,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) + 0
             AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id + 1 = b.vec_id
         ORDER BY id_l""")),

    Case("q36_cube", (s, d) => {
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    }, oracle = Some(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")),

    Case("q37_percentile", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          min(col("l_quantity")).as("qmin"), max(col("l_quantity")).as("qmax"))
        .orderBy("l_returnflag")
    }, oracle = Some(
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.9) AS p90,
         min(l_quantity) AS qmin, max(l_quantity) AS qmax
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Case("q38_pivot", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("l_returnflag")
    }, oracle = Some(
      """SELECT l_returnflag,
         count(*) FILTER (WHERE l_linestatus = 'F') AS "F",
         count(*) FILTER (WHERE l_linestatus = 'O') AS "O"
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Case("q39_window_funcs", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle = Some(
      """SELECT o_custkey, o_orderkey,
         CAST(rank() OVER w AS INTEGER) AS rnk,
         CAST(dense_rank() OVER w AS INTEGER) AS drnk,
         CAST(ntile(4) OVER w AS INTEGER) AS quartile,
         lag(o_totalprice, 1) OVER w AS prev_price,
         lead(o_totalprice, 1) OVER w AS next_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey""")),

    Case("q40_range_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // trailing-7-day revenue per customer: RANGE frame over epoch seconds
      val base = t(s, d, "orders")
        .withColumn("od_epoch", epochSec(col("o_orderdate")))
      val w = Window.partitionBy("o_custkey").orderBy(col("od_epoch"))
        .rangeBetween(-6L * 86400L, 0L)
      base.select(
        col("o_custkey"), col("o_orderkey"), col("od_epoch"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("trailing_7d"))
        .orderBy("o_custkey", "od_epoch", "o_orderkey")
    }, oracle = Some(
      """WITH b AS (SELECT o_custkey, o_orderkey,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS od_epoch, o_totalprice
           FROM orders)
         SELECT o_custkey, o_orderkey, od_epoch,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER
             (PARTITION BY o_custkey ORDER BY od_epoch
              RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_7d
         FROM b ORDER BY o_custkey, od_epoch, o_orderkey""")),

    Case("q41_distinct_agg", (s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }, oracle = Some(
      """SELECT l_returnflag,
         count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Case("q44_ordinal", (s, d) => {
      // dense row ordinals over a deterministically ordered single partition
      // — the ffdf implicit row order, driver-checkable
      val sorted = t(s, d, "customer").orderBy("c_custkey").coalesce(1)
      graft.ops.Ordinals.withRowOrdinal(sorted, "rowpos")
        .select(col("c_custkey"), col("rowpos"))
        .orderBy("c_custkey")
    }, oracle = Some(
      """SELECT c_custkey,
         CAST(row_number() OVER (ORDER BY c_custkey) - 1 AS BIGINT) AS rowpos
         FROM customer ORDER BY c_custkey""")),

    Case("q45_approx_sketches", (s, d) => {
      // approximate aggregations from DETERMINISTIC mergeable summaries, so
      // the sketch VALUES hash-match a DuckDB oracle (HLL/t-digest internals
      // are engine-specific; KMV + equi-width histograms are not):
      // distinct-count estimate = (k-1)*2^32 / k-th smallest md5-32 hash
      // (exact count when under k), p50 = midpoint of the first 1000-wide
      // price bucket reaching half the cumulative count. Both are O(k)/
      // O(buckets) state, map-side combinable — the scale properties that
      // make sketches worth using, with none of the engine specificity.
      import org.apache.spark.sql.expressions.Window
      val k = 256
      val li = t(s, d, "lineitem")
      val h = conv(substring(md5(col("l_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("long")
      val kmv = li
        .groupBy(col("l_returnflag"))
        .agg(graft.expressions.BottomKAgg.bottomKHashes(h, k).as("bk"))
        .select(col("l_returnflag"),
          round(when(size(col("bk")) < k, size(col("bk")).cast("double"))
            .otherwise(lit((k - 1).toDouble) * lit(4294967296.0) /
              element_at(col("bk"), k).cast("double")), 4).as("n_orders_kmv"))
      val wcum = Window.partitionBy("l_returnflag").orderBy("bucket")
      val wtot = Window.partitionBy("l_returnflag")
      val med = li
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") / 1000).cast("long").as("bucket"))
        .groupBy(col("l_returnflag"), col("bucket")).agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(wcum))
        .withColumn("tot", sum(col("c")).over(wtot))
        .where(col("cum") * 2 >= col("tot"))
        .groupBy(col("l_returnflag")).agg(min(col("bucket")).as("mb"))
        .select(col("l_returnflag"),
          (col("mb").cast("double") * 1000.0 + 500.0).as("p50_hist"))
      kmv.join(med, Seq("l_returnflag")).orderBy("l_returnflag")
    }, oracle = Some(
      """WITH h AS (SELECT DISTINCT l_returnflag,
             CAST(concat('0x', substring(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
           FROM lineitem),
         r AS (SELECT l_returnflag, hv,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS nd
           FROM h),
         kmv AS (SELECT l_returnflag,
             round(CASE WHEN max(nd) < 256 THEN CAST(max(nd) AS DOUBLE)
                   ELSE 255.0 * 4294967296.0 /
                     CAST(max(CASE WHEN rn = 256 THEN hv END) AS DOUBLE) END, 4)
               AS n_orders_kmv
           FROM r GROUP BY l_returnflag),
         b AS (SELECT l_returnflag,
             CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         cb AS (SELECT l_returnflag, bucket, c,
             sum(c) OVER (PARTITION BY l_returnflag ORDER BY bucket) AS cum,
             sum(c) OVER (PARTITION BY l_returnflag) AS tot FROM b),
         med AS (SELECT l_returnflag, min(bucket) AS mb FROM cb
                 WHERE 2 * cum >= tot GROUP BY l_returnflag)
         SELECT k.l_returnflag, k.n_orders_kmv,
           CAST(m.mb AS DOUBLE) * 1000.0 + 500.0 AS p50_hist
         FROM kmv k JOIN med m USING (l_returnflag)
         ORDER BY l_returnflag""")),

    Case("q46_bucketed_join", (s, d) => {
      import graft.io.BucketedTables
      // co-located join: both sides bucketed by the join key at write time;
      // the join itself plans with no shuffle exchange. The writes are a
      // one-time layout cost (idempotent per source dir) — re-running the
      // query reuses the tables, so a benchmark times the join, not the
      // write (prepare happens in [[benchPrepare]] / the first invocation).
      val (ordersTbl, lineitemTbl) = prepareBucketedTables(s, d)
      BucketedTables.read(s, lineitemTbl)
        .join(BucketedTables.read(s, ordersTbl),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
          col("l_quantity"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, o_custkey, l_quantity, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    Case("q47_salted_join", (s, d) => {
      // skew-resistant salted join; result must equal the plain join
      graft.ops.SkewJoin.salted(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey")),
        t(s, d, "supplier").select(col("s_suppkey"), col("s_name")),
        leftKeys = Seq("l_suppkey"), rightKeys = Seq("s_suppkey"), saltFactor = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("s_name"))
        .orderBy("l_orderkey", "l_linenumber", "s_name")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, s_name
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         ORDER BY l_orderkey, l_linenumber, s_name""")),

    Case("q73_json_extract", (s, d) => {
      // semi-structured props column: JSON path extraction stays codegen'd
      // (GetJsonObject), the aggregation gets map-side partial combine
      t(s, d, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy("event_type")
    }, oracle = Some(
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY event_type ORDER BY event_type""")),

    Case("q74_group_topk", (s, d) => {
      // native two-phase heap operator (graft.plans.GroupTopK) — the window
      // formulation (Ops.topKPerGroup) is its semantic twin and both are
      // gated by this query's DuckDB oracle (equality also asserted in
      // GroupTopKSpec)
      graft.plans.GroupTopK(t(s, d, "orders"), Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }, oracle = Some(
      """SELECT o_custkey, CAST(rn AS BIGINT) AS rnk, o_orderkey, o_totalprice
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rn
               FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rnk""")),

    Case("q146_fuzzy_join", (s, d) => {
      // SymSpell-blocked fuzzy linkage: supplier names vs a copy with one
      // deterministically-deleted character; the equi-join on deletion
      // variants finds every distance<=1 pair (incl. cross matches like
      // ...001 vs ...011) without an all-pairs stage — the oracle states
      // the same result AS the brute-force cross join
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
      val pos = (col("s_suppkey") % length(col("s_name"))) + 1
      val pert = sup.select(
        (col("s_suppkey") + 100000L).as("p_suppkey"),
        concat(col("s_name").substr(lit(1), pos - 1),
          col("s_name").substr(pos + 1, length(col("s_name"))))
          .as("p_name"))
      graft.ops.FuzzyJoin.symspellJoin(
          sup, "s_suppkey", "s_name", pert, "p_suppkey", "p_name",
          maxBlock = 1 << 20)
        .orderBy("s_suppkey", "p_suppkey")
    }, oracle = Some(
      """WITH pert AS (SELECT s_suppkey + 100000 AS p_suppkey,
             substr(s_name, 1, pos - 1) || substr(s_name, pos + 1) AS p_name
           FROM (SELECT s_suppkey, s_name,
               CAST(s_suppkey % length(s_name) + 1 AS INT) AS pos
             FROM supplier))
         SELECT s.s_suppkey, s.s_name, p.p_suppkey, p.p_name,
           levenshtein(s.s_name, p.p_name) AS edit_distance
         FROM supplier s CROSS JOIN pert p
         WHERE levenshtein(s.s_name, p.p_name) <= 1
         ORDER BY s.s_suppkey, p.p_suppkey""")),

    Case("q153_fuzzy_join2", (s, d) => {
      // SymSpell at its standard radius: maxEdits=2 (2-deletion
      // neighborhoods BOTH sides, length-difference prune before the
      // levenshtein verify). Names carry two deterministic deletions; the
      // oracle states the result AS the brute-force distance<=2 cross join
      // — the blocking-completeness guarantee, now at radius 2.
      val sup = t(s, d, "supplier").select(col("s_suppkey"), col("s_name"))
      val pos1 = (col("s_suppkey") % length(col("s_name"))) + 1
      val pert = sup
        .withColumn("n1", concat(col("s_name").substr(lit(1), pos1 - 1),
          col("s_name").substr(pos1 + 1, length(col("s_name")))))
        .withColumn("pos2", (col("s_suppkey") * 7) % length(col("n1")) + 1)
        .select((col("s_suppkey") + 100000L).as("p_suppkey"),
          concat(col("n1").substr(lit(1), col("pos2") - 1),
            col("n1").substr(col("pos2") + 1, length(col("n1")))).as("p_name"))
      graft.ops.FuzzyJoin.symspellJoin(
          sup, "s_suppkey", "s_name", pert, "p_suppkey", "p_name",
          maxEdits = 2, maxBlock = 1 << 20)
        .orderBy("s_suppkey", "p_suppkey")
    }, oracle = Some(
      """WITH p1 AS (SELECT s_suppkey,
             substr(s_name, 1, pos - 1) || substr(s_name, pos + 1) AS n1
           FROM (SELECT s_suppkey, s_name,
               CAST(s_suppkey % length(s_name) + 1 AS INT) AS pos
             FROM supplier)),
         pert AS (SELECT s_suppkey + 100000 AS p_suppkey,
             substr(n1, 1, pos2 - 1) || substr(n1, pos2 + 1) AS p_name
           FROM (SELECT s_suppkey, n1,
               CAST((s_suppkey * 7) % length(n1) + 1 AS INT) AS pos2
             FROM p1))
         SELECT s.s_suppkey, s.s_name, p.p_suppkey, p.p_name,
           levenshtein(s.s_name, p.p_name) AS edit_distance
         FROM supplier s CROSS JOIN pert p
         WHERE levenshtein(s.s_name, p.p_name) <= 2
         ORDER BY s.s_suppkey, p.p_suppkey""")),

    Case("q155_fuzzy_cap_audit", (s, d) => {
      // cap telemetry as data: the variants the maxBlock stop-gram guard
      // would drop from a self-linkage on market segment (5 values x ~300
      // rows each — every variant block is quadratic-hot). The audit is
      // the join's own guard aggregation surfaced instead of silently
      // anti-joined away; the oracle replays the deletion neighborhood
      // and the n_l*n_r > maxBlock cut in SQL
      val c = t(s, d, "customer")
      graft.ops.FuzzyJoin.symspellJoinAudit(
          c, "c_custkey", "c_mktsegment",
          c.withColumnRenamed("c_custkey", "c_custkey_r"),
          "c_custkey_r", "c_mktsegment",
          maxEdits = 1, maxBlock = 1000)
        .orderBy("variant")
    }, oracle = Some(
      // deletion-neighborhood replay: per id the DISTINCT variants (the
      // string itself + each single-char deletion), per-variant counts on
      // each side, then the same n_l * n_r > maxBlock cut the guard makes
      """WITH l AS (SELECT c_custkey AS id, c_mktsegment AS v FROM customer
             WHERE c_mktsegment IS NOT NULL AND len(c_mktsegment) > 0),
         vars AS (SELECT DISTINCT id, variant FROM (
           SELECT id, v AS variant FROM l
           UNION ALL
           SELECT id, substr(v, 1, CAST(i AS INT) - 1)
                   || substr(v, CAST(i AS INT) + 1) AS variant
           FROM l, unnest(generate_series(1, len(v))) AS t(i)
         )),
         cnt AS (SELECT variant, count(*) AS n FROM vars GROUP BY 1)
         SELECT variant, n AS n_left, n AS n_right,
           n * n AS candidates_dropped
         FROM cnt WHERE n * n > 1000 ORDER BY variant""")),

    Case("q93_bloom_join", (s, d) => {
      // semi join with a Bloom prefilter on the fact side: a kilobyte
      // sketch of the qualifying order keys probes inside codegen BEFORE
      // the lineitem shuffle; the exact semi join afterwards removes false
      // positives, so the answer is exactly the plain semi join
      val urgent = t(s, d, "orders").where(
        col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
      graft.ops.BloomJoin.semi(t(s, d, "lineitem"), "l_orderkey",
          urgent, "o_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0)
         ORDER BY l_orderkey, l_linenumber""")),

    Case("q95_zorder", (s, d) => {
      // Morton z-values over (custkey, price decile): the 2-D data-skipping
      // layout key; zbucket = the top bits = the file-grain cluster id.
      // Oracle SQL is GENERATED from the same step table (ZOrder.zValue16Sql)
      val x = col("o_custkey") % 65536
      val y = floor(col("o_totalprice") / lit(10.0)).cast("long") % 65536
      t(s, d, "orders")
        .select(col("o_orderkey"), graft.ops.ZOrder.zValue16(x, y).as("zval"))
        .withColumn("zbucket", shiftright(col("zval"), 24))
        .orderBy("o_orderkey")
    }, oracle = Some(
      {
      val z = graft.ops.ZOrder.zValue16Sql(
        "o_custkey % 65536", "CAST(floor(o_totalprice / 10.0) AS BIGINT) % 65536")
      s"""SELECT o_orderkey, zval, (zval >> 24) AS zbucket
          FROM (SELECT o_orderkey, $z AS zval FROM orders)
          ORDER BY o_orderkey"""
    })),

    Case("q99_unpivot", (s, d) => {
      // wide->long melt (Dataset.unpivot — Spark's native UNPIVOT): the
      // delegated-SQL surface's reshaping op, inverse of q38's pivot
      t(s, d, "lineitem").where(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_discount"), col("l_tax"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          variableColumnName = "metric", valueColumnName = "val")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    }, oracle = Some(
      // UNION ALL melt: portable across engines (DuckDB's UNPIVOT keyword
      // would also work, but the long form pins column naming exactly)
      """WITH src AS (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
           FROM lineitem WHERE l_orderkey < 100)
         SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM src
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
         UNION ALL
         SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
         ORDER BY l_orderkey, l_linenumber, metric""")),

    Case("q100_grouping_sets", (s, d) => {
      // explicit GROUPING SETS with grouping() disambiguation of the
      // all-rows NULL vs a genuine NULL key — completes the q08/q36
      // rollup/cube family
      t(s, d, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority), ())
        ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
                 o_orderpriority NULLS FIRST""")
    }, oracle = Some(
      """SELECT o_orderstatus, o_orderpriority,
         CAST(grouping(o_orderstatus) AS INTEGER) AS g_status,
         CAST(grouping(o_orderpriority) AS INTEGER) AS g_prio,
         count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                 (o_orderstatus, o_orderpriority), ())
         ORDER BY g_status, g_prio, o_orderstatus NULLS FIRST,
                  o_orderpriority NULLS FIRST""")),

    Case("q35_sql_text", (s, d) => {
      // The reference's core capability: an arbitrary user SQL string
      // answered by the engine (`R/ffsql.R:171-176`) — here Spark SQL itself.
      t(s, d, "region").createOrReplaceTempView("region_v")
      t(s, d, "nation").createOrReplaceTempView("nation_v")
      s.sql("""
        WITH n AS (SELECT n_regionkey, count(*) AS n_nations
                   FROM nation_v GROUP BY n_regionkey)
        SELECT r_name, n_nations FROM region_v
        JOIN n ON r_regionkey = n_regionkey
        ORDER BY r_name""")
    }, oracle = Some(
      """WITH n AS (SELECT n_regionkey, count(*) AS n_nations
                    FROM nation GROUP BY n_regionkey)
         SELECT r_name, n_nations FROM region
         JOIN n ON r_regionkey = n_regionkey
         ORDER BY r_name""")),
  )
}
