package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Multimodal
import graft.functions.text
import graft.io.{ReadSql, WriteSql}
import graft.ops.{MatchMerge, NaLocfPlusOne, Ops}

/** Reference parity (SURVEY.md §2.3-2.5) and interchange: the ETLUtils
  * operators (matchmerge, recoder, rename, factorise, LOCF), the chunked
  * JDBC round trips, file-format and media-table round trips, partitioned
  * and evolving parquet layouts, and change capture (snapshot diff, CDC
  * apply, SCD2, incremental and streamed materialized aggregates).
  */
object ReferenceQueries extends Family {
  import Shared._

  /** Shared q143/q144 SCD2 changelog fixture over pre-selected orders
    * columns: generation 1 inserts every key, 2 and 3 are update waves on
    * overlapping key slices, 4 deletes every 10th-mod-7 key. `gens`
    * selects which generations to emit (q144 splits history vs delta).
    */
  private def scd2Changelog(o: DataFrame, gens: Seq[Long]): DataFrame = {
    def ch(src: DataFrame, seq: Long, op: String,
        ck: Column, tp: Column): DataFrame =
      src.select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
        ck.as("o_custkey"), tp.as("o_totalprice"))
    val byGen: Map[Long, DataFrame] = Map(
      1L -> ch(o, 1L, "I", col("o_custkey"), col("o_totalprice")),
      2L -> ch(o.where(col("o_orderkey") % 10 === 3), 2L, "U",
        col("o_custkey"), col("o_totalprice") + 1000.0),
      3L -> ch(o.where(col("o_orderkey") % 20 === 3), 3L, "U",
        col("o_custkey"), col("o_totalprice") + 2000.0),
      4L -> ch(o.where(col("o_orderkey") % 10 === 7), 4L, "D",
        lit(null).cast("long"), lit(null).cast("double")))
    gens.map(byGen).reduce(_ unionByName _)
  }

  /** DuckDB full rebuild of the q143/q144 SCD2 fixture: the window-lead
    * formulation over the complete 4-generation changelog. q144's
    * incremental merge is oracled against this SAME rebuild — incremental
    * == full history is the operator's contract.
    */
  private val scd2RebuildSql: String =
    """WITH ch AS (
         SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_totalprice
           FROM orders
         UNION ALL
         SELECT o_orderkey, 2, 'U', o_custkey, o_totalprice + 1000.0
           FROM orders WHERE o_orderkey % 10 = 3
         UNION ALL
         SELECT o_orderkey, 3, 'U', o_custkey, o_totalprice + 2000.0
           FROM orders WHERE o_orderkey % 20 = 3
         UNION ALL
         SELECT o_orderkey, 4, 'D', NULL, NULL
           FROM orders WHERE o_orderkey % 10 = 7),
       v AS (SELECT *, lead(seq) OVER
           (PARTITION BY o_orderkey ORDER BY seq ASC, op DESC) AS valid_to
         FROM ch)
       SELECT o_orderkey, o_custkey, o_totalprice, seq AS valid_from,
              valid_to, CAST(valid_to IS NULL AS INT) AS is_current
       FROM v WHERE op <> 'D'
       ORDER BY o_orderkey, valid_from"""

  val cases: Seq[Case] = Seq(

    Case("q14_matchmerge_inner", (s, d) => {
      MatchMerge(t(s, d, "lineitem"), t(s, d, "part"),
        byX = Seq("l_partkey"), byY = Seq("p_partkey"),
        addColumns = Seq("p_brand", "p_retailprice"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("p_brand"), col("p_retailprice"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    }, oracle = Some(
      """SELECT l_orderkey, l_linenumber, l_partkey, p_brand, p_retailprice
         FROM lineitem JOIN part ON l_partkey = p_partkey
         ORDER BY l_orderkey, l_linenumber, l_partkey""")),

    Case("q15_matchmerge_left", (s, d) => {
      MatchMerge(t(s, d, "orders"), t(s, d, "customer"),
        byX = Seq("o_custkey"), byY = Seq("c_custkey"), allX = true,
        addColumns = Seq("c_name", "c_mktsegment"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey, o_custkey, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""")),

    Case("q16_recoder", (s, d) => {
      Ops.recodeCol(t(s, d, "lineitem"), "l_returnflag",
        from = Seq("A", "R"), to = Seq("ACCEPTED", "RETURNED"))
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"))
        .orderBy("flag")
    }, oracle = Some(
      """SELECT CASE WHEN l_returnflag = 'A' THEN 'ACCEPTED'
                     WHEN l_returnflag = 'R' THEN 'RETURNED'
                     ELSE l_returnflag END AS flag, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY flag""")),

    Case("q17_rename", (s, d) => {
      Ops.renameColumns(t(s, d, "region"),
        from = Seq("r_regionkey", "r_name"), to = Seq("regionkey", "region_name"))
        .orderBy("regionkey")
    }, oracle = Some(
      """SELECT r_regionkey AS regionkey, r_name AS region_name
         FROM region ORDER BY regionkey""")),

    Case("q18_factorise", (s, d) => {
      val nation = t(s, d, "nation")
      val f = Ops.factorise(nation, cols = Seq("n_name"), ordered = true)
      val levels = Ops.levelsOf(f, "n_name").getOrElse(Nil)
      f.select(col("n_name").as("level")).distinct()
        .withColumn("rnk", Ops.levelRank(col("level"), levels).cast("long"))
        .orderBy("level")
    }, oracle = Some(
      """SELECT n_name AS level,
         CAST(row_number() OVER (ORDER BY n_name) AS BIGINT) AS rnk
         FROM (SELECT DISTINCT n_name FROM nation) ORDER BY level""")),

    Case("q19_locf", (s, d) => {
      val ev = events(s, d).select(col("event_id"),
        when(pmod(col("event_id"), lit(5)).isin(1, 2), lit(null))
          .otherwise(col("value")).as("x"))
      NaLocfPlusOne(ev, orderCol = "event_id", valueCol = "x", outCol = "filled")
        .select(col("event_id"), col("filled"))
        .orderBy("event_id")
    }, oracle = Some(
      """WITH t AS (SELECT event_id,
             CASE WHEN event_id % 5 IN (1,2) THEN NULL ELSE value END AS x
             FROM events),
         t2 AS (SELECT event_id, x,
             sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) OVER w AS ix,
             last_value(x IGNORE NULLS) OVER w AS locf
             FROM t WINDOW w AS (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t3 AS (SELECT event_id, x, ix, locf,
             max(CASE WHEN x IS NOT NULL THEN ix ELSE 0 END) OVER
               (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
             FROM t2)
         SELECT event_id, locf + (ix - cm) AS filled FROM t3 ORDER BY event_id""")),

    Case("q53_recoder_numeric", (s, d) => {
      // type-generic recoder (reference `R/utils.R:24-32`): integer column
      Ops.recodeCol(t(s, d, "lineitem"), "l_linenumber",
        from = Seq(1, 2), to = Seq(101, 102))
        .groupBy(col("l_linenumber").as("ln"))
        .agg(count(lit(1)).as("n"))
        .orderBy("ln")
    }, oracle = Some(
      """SELECT CASE WHEN l_linenumber = 1 THEN 101
                     WHEN l_linenumber = 2 THEN 102
                     ELSE l_linenumber END AS ln, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY ln""")),

    Case("q33_jdbc_roundtrip", (s, d) => {
      System.setProperty("derby.system.home", "/tmp/graft_derby")
      // one fixed DB path: overwrite=true makes the write idempotent, so
      // repeated gate/bench runs reuse one directory under /tmp
      val url = "jdbc:derby:/tmp/graft_derby/rt_fixed;create=true"
      WriteSql(t(s, d, "region"), url, "REGION_RT", overwrite = true, batchSize = 100)
      ReadSql(s, url, "SELECT * FROM REGION_RT", fetchSize = 2)
        .select(col("r_regionkey"), col("r_name"))
        .orderBy("r_regionkey")
    }, oracle = Some("""SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""")),

    Case("q105_jdbc_partitioned", (s, d) => {
      // the PARALLEL scan path (ReadSql partitionColumn/numPartitions —
      // N executor connections over disjoint key ranges) must return the
      // same rows as the serial path; oracled against the source table
      System.setProperty("derby.system.home", "/tmp/graft_derby")
      // one fixed DB path, as in q33
      val url = "jdbc:derby:/tmp/graft_derby/pt_fixed;create=true"
      WriteSql(t(s, d, "nation"), url, "NATION_PT", overwrite = true, batchSize = 100)
      ReadSql(s, url, "SELECT * FROM NATION_PT",
          partitionColumn = Some("\"n_nationkey\""),
          lowerBound = 0L, upperBound = 25L, numPartitions = 4)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .orderBy("n_nationkey")
    }, oracle = Some("""SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey""")),

    Case("q34_multimodal", (s, d) => {
      // REAL codec round trip: text -> PNG bytes (javax.imageio encode) ->
      // decode + full-raster scan. Dims/fill are pure functions of the
      // source byte length, so DuckDB can predict what a correct decode
      // returns without ever seeing the PNG.
      val media = Multimodal.encodePngMediaTable(t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(media, featureDim = Some(8))
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("width"), col("height"), col("mean_gray"),
          size(col("features")).cast("long").as("feature_dim"))
        .orderBy("media_id")
    }, oracle = Some(
      """SELECT doc_id AS media_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
         CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height,
         CAST(octet_length(encode(text)) % 256 AS BIGINT) AS mean_gray,
         CAST(8 AS BIGINT) AS feature_dim
         FROM documents ORDER BY media_id""")),

    Case("q122_multimodal_resize", (s, d) => {
      // REAL resize through the codec twice: gradient PNG (pixel =
      // (n+x+y)%256) -> decode -> exact integer-mapped NN downscale to
      // maxSide 24 -> re-encode -> decode + full-raster scan. The oracle
      // recomputes every resized pixel in SQL, so the resample GEOMETRY
      // (not just plumbing) is differentially tested.
      val media = Multimodal.encodePngMediaTable(
        t(s, d, "documents").where(col("doc_id") < 200 && col("text").isNotNull),
        "doc_id", "text", gradient = true)
      Multimodal.decodeImages(Multimodal.resizeImages(media, maxSide = 24))
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("mean_gray"))
        .orderBy("media_id")
    }, oracle = Some(
      // every resized pixel recomputed in SQL: nearest-neighbor source pixel
      // is (x*w div tw, y*h div th), gradient value (n+sx+sy)%256, mean =
      // integer-floor of the pixel sum — exactly the engine's raster loop
      """WITH src AS (SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         dims AS (SELECT media_id, n, n % 64 + 16 AS w, n % 48 + 16 AS h
                  FROM src),
         t AS (SELECT media_id, n, w, h,
             CASE WHEN greatest(w, h) <= 24 THEN w
                  ELSE greatest(1, CAST(round(w * 24.0 / greatest(w, h)) AS INTEGER))
             END AS tw,
             CASE WHEN greatest(w, h) <= 24 THEN h
                  ELSE greatest(1, CAST(round(h * 24.0 / greatest(w, h)) AS INTEGER))
             END AS th
           FROM dims),
         px AS (SELECT media_id, n, w, h, tw, th,
                  unnest(generate_series(0, tw - 1)) AS x FROM t),
         pxy AS (SELECT media_id, n, w, h, tw, th, x,
                   unnest(generate_series(0, th - 1)) AS y FROM px),
         s AS (SELECT media_id, tw, th,
                 sum((n + (x * w // tw) + (y * h // th)) % 256) AS tot
               FROM pxy GROUP BY 1, 2, 3)
         SELECT media_id, CAST(tw AS BIGINT) AS width,
           CAST(th AS BIGINT) AS height,
           CAST(tot // (tw * th) AS BIGINT) AS mean_gray
         FROM s ORDER BY media_id""")),

    Case("q123_multimodal_audio", (s, d) => {
      // REAL audio codec round trip (javax.sound.sampled): deterministic
      // 16-bit PCM -> WAV encode -> decode + full-frame amplitude scan.
      // Every decoded sample is a pure function of the source byte length,
      // so the oracle predicts frames, duration and mean |amplitude|
      // without parsing a WAV.
      val media = Multimodal.encodeWavMediaTable(
        t(s, d, "documents").where(col("doc_id") < 200 && col("text").isNotNull),
        "doc_id", "text")
      Multimodal.decodeAudio(media)
        .select(col("media_id"), col("n_samples"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("duration_ms"), col("mean_amp"))
        .orderBy("media_id")
    }, oracle = Some(
      """WITH src AS (SELECT doc_id AS media_id,
             octet_length(encode(text)) AS n
           FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
         d AS (SELECT media_id, n, n % 1000 + 100 AS num FROM src),
         sm AS (SELECT media_id, num,
                  sum(abs(((n + i) % 65536) - 32768)) AS tot
                FROM (SELECT media_id, n, num,
                        unnest(generate_series(0, num - 1)) AS i FROM d)
                GROUP BY 1, 2)
         SELECT media_id, CAST(num AS BIGINT) AS n_samples,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(num * 1000 // 8000 AS BIGINT) AS duration_ms,
           CAST(tot // num AS BIGINT) AS mean_amp
         FROM sm ORDER BY media_id""")),

    Case("q48_locf_grouped", (s, d) => {
      // per-user LOCF+1 — window-partitioned, fully parallel (no total order)
      val ev = events(s, d).select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(7)).isin(2, 3), lit(null))
          .otherwise(col("value")).as("x"))
      graft.ops.NaLocfPlusOne.byGroup(ev, Seq("user_id"), "event_id", "x", "filled")
        .select(col("user_id"), col("event_id"), col("filled"))
        .orderBy("user_id", "event_id")
    }, oracle = Some(
      """WITH t AS (SELECT user_id, event_id,
             CASE WHEN event_id % 7 IN (2,3) THEN NULL ELSE value END AS x
             FROM events),
         t2 AS (SELECT user_id, event_id, x,
             sum(CASE WHEN x IS NULL THEN 1 ELSE 0 END) OVER w AS ix,
             last_value(x IGNORE NULLS) OVER w AS locf
             FROM t WINDOW w AS (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         t3 AS (SELECT user_id, event_id, x, ix, locf,
             max(CASE WHEN x IS NOT NULL THEN ix ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
             FROM t2)
         SELECT user_id, event_id,
           CASE WHEN x IS NOT NULL THEN x ELSE locf + (ix - cm) END AS filled
         FROM t3 ORDER BY user_id, event_id""")),

    Case("q49_multimodal_frames", (s, d) => {
      // frame-sampling + resize-planning plumbing; hash values are engine-
      // specific -> rows-only check
      val media = Multimodal.fakeMediaTable(t(s, d, "documents"), "doc_id", "text")
      Multimodal.frameSample(media, frames = 4)
        .join(Multimodal.planResize(media, maxSide = 256), Seq("media_id"))
        .select(col("media_id"), size(col("frame_hashes")).cast("long").as("n_frames"),
          col("target_width"), col("target_height"))
        .orderBy("media_id")
    }, oracle = Some(
      """WITH m AS (SELECT doc_id AS media_id,
             CAST(length(text) % 640 + 32 AS INTEGER) AS w,
             CAST(length(text) % 480 + 32 AS INTEGER) AS h
           FROM documents)
         SELECT media_id, CAST(4 AS BIGINT) AS n_frames,
           CAST(CASE WHEN greatest(w, h) <= 256 THEN round(w * 1.0)
                ELSE round(w * (256.0 / greatest(w, h))) END AS INTEGER) AS target_width,
           CAST(CASE WHEN greatest(w, h) <= 256 THEN round(h * 1.0)
                ELSE round(h * (256.0 / greatest(w, h))) END AS INTEGER) AS target_height
         FROM m ORDER BY media_id""")),

    Case("q76_resample_locf", (s, d) => {
      graft.ops.Resample.locf(events(s, d), "user_id", "ts", "value",
        bucketSeconds = 3600L)
        .select(col("user_id"), col("bucket").as("h"), col("n_events"),
          col("sum_value"))
        .orderBy("user_id", "h")
    }, oracle = Some(
      // LOCF via the count-of-non-null grouping trick: each gap bucket joins
      // the group of the last observed bucket, whose max is its single sum
      """WITH e AS (SELECT user_id,
             CAST(floor(floor(epoch(ts))/3600) AS BIGINT) AS h, value FROM events),
         b AS (SELECT user_id, min(h) AS lo, max(h) AS hi FROM e GROUP BY user_id),
         grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS h FROM b),
         agg AS (SELECT user_id, h, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sv
           FROM e GROUP BY user_id, h),
         j AS (SELECT g.user_id, g.h, coalesce(a.n, 0) AS n_events, a.sv
               FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.h = a.h),
         k AS (SELECT *, count(sv) OVER (PARTITION BY user_id ORDER BY h
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp FROM j)
         SELECT user_id, h, n_events,
           max(sv) OVER (PARTITION BY user_id, grp) AS sum_value
         FROM k ORDER BY user_id, h""")),

    Case("q143_scd2_history", (s, d) => {
      // SCD Type-2 dimension build: a 4-generation changelog (insert-all,
      // two update waves, a delete wave) becomes effective-dated version
      // rows; one changelog shuffle (the per-key ordering window)
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.ops.Scd2.buildHistory(scd2Changelog(o, Seq(1L, 2L, 3L, 4L)),
          "o_orderkey", "seq", "op")
        .orderBy("o_orderkey", "valid_from")
    }, oracle = Some(scd2RebuildSql)),

    Case("q144_scd2_incremental", (s, d) => {
      // incremental SCD2 merge: history from generations 1-2, delta =
      // generations 3-4; result must be bit-identical to a full rebuild
      // (the oracle IS the rebuild). History never shuffles: the touched
      // keys' close-seqs arrive by broadcast join, only the delta pays
      // the window shuffle.
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val hist = graft.ops.Scd2.buildHistory(
        scd2Changelog(o, Seq(1L, 2L)), "o_orderkey", "seq", "op")
      graft.ops.Scd2.applyDelta(hist, scd2Changelog(o, Seq(3L, 4L)),
          "o_orderkey", "seq", "op")
        .orderBy("o_orderkey", "valid_from")
    }, oracle = Some(
      // the incremental merge must equal the full rebuild — same oracle
      scd2RebuildSql)),

    Case("q226_image_shapes", (s, d) => {
      // corpus-level image geometry report through the REAL codec (q34
      // PNG round trip): orientation buckets, exact pixel totals, ppm
      // aspect via integer div — the multimodal curation cut that decides
      // resize/crop policy; the oracle predicts every dimension from the
      // source byte length without parsing a PNG
      val media = Multimodal.encodePngMediaTable(
        t(s, d, "documents").where(col("text").isNotNull), "doc_id", "text")
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("width"), col("height"),
          when(col("width") > col("height"), lit("wide"))
            .when(col("width") < col("height"), lit("tall"))
            .otherwise(lit("square")).as("orientation"),
          expr("CAST(10000 * width AS BIGINT) div height").as("__ap"))
        .groupBy(col("orientation"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("width").cast("long") * col("height")).as("total_pixels"),
          min(col("width")).as("min_w"), max(col("width")).as("max_w"),
          min(col("height")).as("min_h"), max(col("height")).as("max_h"),
          sum(col("__ap")).as("aspect_sum"))
        .withColumn("mean_aspect",
          round(col("aspect_sum").cast("double") / col("n_images"), 6))
        .orderBy("orientation")
    }, oracle = Some(
      // dims predicted from the source byte length (the q34 contract:
      // w = n%64+16, h = n%48+16) — a correct decode is implied by the
      // report matching without the oracle ever parsing a PNG
      """WITH dims AS (SELECT doc_id,
             CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS w,
             CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS h
           FROM documents WHERE text IS NOT NULL),
         c AS (SELECT CASE WHEN w > h THEN 'wide' WHEN w < h THEN 'tall'
               ELSE 'square' END AS orientation, w, h,
             CAST((10000 * w) // h AS BIGINT) AS ap FROM dims)
         SELECT orientation, count(*) AS n_images,
           CAST(sum(CAST(w AS BIGINT) * h) AS BIGINT) AS total_pixels,
           min(w) AS min_w, max(w) AS max_w,
           min(h) AS min_h, max(h) AS max_h,
           CAST(sum(ap) AS BIGINT) AS aspect_sum,
           round(CAST(sum(ap) AS DOUBLE) / count(*), 6) AS mean_aspect
         FROM c GROUP BY 1 ORDER BY 1""")),

    Case("q250_jpeg_roundtrip", (s, d) => {
      // q34's differential codec contract on the SECOND image codec —
      // JPEG, the dominant web-crawl format: text -> REAL JPEG bytes
      // (javax.imageio encode) -> decode + full-raster scan. JPEG is
      // lossy, but the uniform-gray fill lives entirely in each block's
      // DC coefficient, which the JDK codec round-trips exactly for all
      // 256 gray values (spec-gated in MultimodalSpec) — so dims AND
      // mean-gray stay pure functions of the source byte length and
      // DuckDB predicts a correct decode without ever parsing a JPEG.
      val media = Multimodal.encodeJpegMediaTable(
        t(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeImages(media)
        .select(col("media_id"), col("meta.format").as("format"),
          col("meta.n_bytes").as("n_bytes"),
          col("width"), col("height"), col("mean_gray"))
        .orderBy("media_id")
    }, oracle = Some(
      // the q34 contract on the lossy codec: uniform-gray JPEG round-trips
      // the DC coefficient exactly, so dims AND mean-gray stay predictable
      // from the source byte length alone
      """SELECT doc_id AS media_id,
         CASE WHEN text IS NULL THEN NULL ELSE 'image/jpeg' END AS format,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) % 64 + 16 AS INTEGER) AS width,
         CAST(octet_length(encode(text)) % 48 + 16 AS INTEGER) AS height,
         CAST(octet_length(encode(text)) % 256 AS BIGINT) AS mean_gray
         FROM documents ORDER BY media_id""")),

    Case("q84_snapshot_diff", (s, d) => {
      // incremental-corpus audit: v_old = ids < 400, v_new = ids >= 100 with
      // every 50th doc's text revised — exercises all four statuses
      val docs = t(s, d, "documents")
      val vOld = docs.where(col("doc_id") < 400)
      val vNew = docs.where(col("doc_id") >= 100)
        .withColumn("text",
          when(col("doc_id") % 50 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.ops.SnapshotDiff(vOld, vNew, "doc_id", "text")
        .orderBy("doc_id")
    }, oracle = Some(
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400),
         n AS (SELECT doc_id,
             md5(CASE WHEN doc_id % 50 = 0 THEN text || ' v2' ELSE text END) AS h
           FROM documents WHERE doc_id >= 100)
         SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.h IS NULL THEN 'added'
                WHEN n.h IS NULL THEN 'removed'
                WHEN o.h <> n.h THEN 'changed'
                ELSE 'unchanged' END AS status
         FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
         ORDER BY doc_id""")),

    Case("q91_cdc_merge", (s, d) => {
      // CDC upsert-apply: snapshot = orders with key % 7 != 0; changelog =
      // inserts (the held-out keys), two update generations (seq 2 overrides
      // seq 1 on half the updated keys) and deletes. Latest (seq, op) per
      // key wins; the snapshot side never shuffles (broadcast anti join).
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val snap = o.where(col("o_orderkey") % 7 =!= 0)
      def ch(src: DataFrame, seq: Long, op: String,
          ck: Column, tp: Column): DataFrame =
        src.select(col("o_orderkey"), lit(seq).as("seq"), lit(op).as("op"),
          ck.as("o_custkey"), tp.as("o_totalprice"))
      val changes =
        ch(o.where(col("o_orderkey") % 7 === 0), 1, "I",
          col("o_custkey"), col("o_totalprice"))
        .unionByName(ch(snap.where(col("o_orderkey") % 10 === 3), 1, "U",
          col("o_custkey"), col("o_totalprice") + 1000.0))
        .unionByName(ch(snap.where(col("o_orderkey") % 20 === 3), 2, "U",
          col("o_custkey"), col("o_totalprice") + 2000.0))
        .unionByName(ch(snap.where(col("o_orderkey") % 10 === 7), 1, "D",
          lit(null).cast("long"), lit(null).cast("double")))
      graft.ops.ChangeApply(snap, changes, "o_orderkey", "seq", "op")
        .orderBy("o_orderkey")
    }, oracle = Some(
      """WITH snap AS (SELECT o_orderkey, o_custkey, o_totalprice
             FROM orders WHERE o_orderkey % 7 <> 0),
         ch AS (
           SELECT o_orderkey, 1 AS seq, 'I' AS op, o_custkey, o_totalprice
             FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT o_orderkey, 1, 'U', o_custkey, o_totalprice + 1000.0
             FROM snap WHERE o_orderkey % 10 = 3
           UNION ALL
           SELECT o_orderkey, 2, 'U', o_custkey, o_totalprice + 2000.0
             FROM snap WHERE o_orderkey % 20 = 3
           UNION ALL
           SELECT o_orderkey, 1, 'D', NULL, NULL
             FROM snap WHERE o_orderkey % 10 = 7),
         w AS (SELECT *, row_number() OVER
             (PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn FROM ch)
         SELECT o_orderkey, o_custkey, o_totalprice FROM snap
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM ch)
         UNION ALL
         SELECT o_orderkey, o_custkey, o_totalprice FROM w
         WHERE rn = 1 AND op <> 'D'
         ORDER BY o_orderkey""")),

    Case("q96_csv_roundtrip", (s, d) => {
      // lossless text-format interchange: documents (incl. the free-text
      // column) through RFC-4180 CSV and back; oracle = the source table,
      // so any quoting/escaping loss breaks the hash
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      graft.io.TextTables.csvRoundTrip(docs,
          graft.io.TextTables.scratchDir("csv_rt", d))
        .orderBy("doc_id")
    }, oracle = Some("""SELECT doc_id, text, lang, source FROM documents ORDER BY doc_id""")),

    Case("q136_orc_roundtrip", (s, d) => {
      // events through ORC and back — the columnar interchange face;
      // byte-lossless, so the oracle is the source table
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.io.TextTables.orcRoundTrip(ev,
          graft.io.TextTables.scratchDir("orc_rt", d))
        .select(col("event_id"), epochSec(col("ts")).as("es"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         user_id, event_type, value FROM events ORDER BY event_id""")),

    Case("q268_embedding_jsonl_roundtrip", (s, d) => {
      // vector ingest interchange: the embeddings table through JSONL and
      // back under the explicit array<float> schema — the gate external
      // embedding dumps enter through. Losslessness is proven per
      // COMPONENT: the round-tripped vector explodes to (vec_id, i, x)
      // with the float cast to double (exact widening), and the oracle is
      // the SOURCE parquet exploded the same way — one flipped bit in any
      // of the 32k floats breaks the hash
      val emb = t(s, d, "embeddings")
      graft.io.TextTables.embeddingJsonlRoundTrip(emb,
          graft.io.TextTables.scratchDir("emb_rt", d))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "x")))
        .select(col("vec_id"), col("i"), col("x").cast("double").as("x"))
        .orderBy("vec_id", "i")
    }, oracle = Some(
      // the oracle is the SOURCE table exploded per component (float ->
      // double widening is exact in both engines), so any bit lost in the
      // JSONL round trip breaks the hash
      """SELECT vec_id, CAST(i - 1 AS INTEGER) AS i,
           CAST(e[i] AS DOUBLE) AS x
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                 unnest(generate_series(1, len(embedding))) AS i
               FROM embeddings)
         ORDER BY vec_id, i""")),

    Case("q97_jsonl_roundtrip", (s, d) => {
      // events (timestamps + doubles) through JSON Lines and back;
      // double round-trips via shortest-repr, timestamp via ISO-8601
      val ev = events(s, d).select(col("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"))
      graft.io.TextTables.jsonlRoundTrip(ev,
          graft.io.TextTables.scratchDir("jsonl_rt", d))
        .select(col("event_id"), epochSec(col("ts")).as("es"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    }, oracle = Some(
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS es,
         user_id, event_type, value FROM events ORDER BY event_id""")),

    Case("q101_partition_pruning", (s, d) => {
      // Hive-partitioned layout + partition pruning — THE scan optimization
      // at 100 TB: the o_orderstatus predicate becomes a PartitionFilter,
      // so non-matching partition DIRECTORIES are never listed or read
      // (PlanAuditSpec asserts the plan shape). Layout write happens once
      // per scratch dir; later invocations plan straight against it.
      // fingerprint salt: a regenerated orders.parquet at the same path gets
      // a fresh scratch dir instead of silently serving the stale layout
      val dir = graft.io.TextTables.scratchDir("part_orders", d,
        graft.io.TextTables.sourceFingerprint(s"$d/orders.parquet"))
      if (!new java.io.File(dir, "_SUCCESS").exists()) {
        t(s, d, "orders").write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(dir)
      }
      s.read.parquet(dir)
        .where(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    }, oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
         FROM orders WHERE o_orderstatus = 'F'
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Case("q102_incremental_agg", (s, d) => {
      // materialized-view maintenance: per-priority order stats refreshed
      // from row deltas only (base NEVER rescanned). The oracle recomputes
      // from scratch — decimal-routed delta arithmetic makes refresh equal
      // recompute bit-exactly, which is the whole point of the operator
      val orders = t(s, d, "orders").select(col("o_orderkey"),
        col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      val base = orders.where(col("o_orderkey") % 50 =!= 0)
      val aggOld = base.groupBy("g").agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(27,4)")).cast("double").as("sum_value"))
      val changedOld = base.where(col("o_orderkey") % 97 === 0)
      val changedNew = changedOld.withColumn("v", col("v") + 500.0)
      val inserts = orders.where(col("o_orderkey") % 50 === 0)
      graft.ops.IncrementalAgg.refresh(aggOld, changedOld,
          changedNew.unionByName(inserts), Seq("g"), "v")
        .orderBy("g")
    }, oracle = Some(
      // full recompute over the post-delta table — the refresh path must
      // match it bit-exactly (decimal-routed delta arithmetic)
      """WITH o AS (SELECT o_orderkey, o_orderpriority AS g, o_totalprice AS v
             FROM orders),
         base AS (SELECT * FROM o WHERE o_orderkey % 50 <> 0),
         newt AS (
           SELECT g, v FROM base WHERE o_orderkey % 97 <> 0
           UNION ALL SELECT g, v + 500.0 FROM base WHERE o_orderkey % 97 = 0
           UNION ALL SELECT g, v FROM o WHERE o_orderkey % 50 = 0)
         SELECT g, count(*) AS n,
           CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
         FROM newt GROUP BY g ORDER BY g""")),

    Case("q103_stream_matview", (s, d) => {
      // streaming materialized view: per-priority order stats maintained
      // incrementally over a 3-batch stream — the final state must equal
      // the one-shot aggregate (q102's delta arithmetic, streaming face)
      import graft.streaming.{CorpusStreams, MaterializedAgg}
      val orders = t(s, d, "orders")
      val mid = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val staged = CorpusStreams.stageIdSlices(s, s"$d/orders.parquet",
        "o_orderkey", Seq(mid / 3, 2 * mid / 3))
      MaterializedAgg.streamingRefresh(s, staged,
          Seq("o_orderpriority"), "o_totalprice", shufflePartitions = Some(8),
          batchAdaptive = Some(false))
        .orderBy("o_orderpriority")
    }, oracle = Some(
      // the recompute oracle: the incrementally maintained view must equal
      // the one-shot aggregate bit-exactly
      """SELECT o_orderpriority, count(*) AS n,
         CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_value
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Case("q104_schema_evolution", (s, d) => {
      // parquet schema evolution (the reference's append-path widening,
      // §1.2, done the Spark way): files with an old 2-column schema and a
      // new 3-column schema in one dataset; mergeSchema unions them,
      // null-filling the column the old files lack
      val dir = graft.io.TextTables.scratchDir("schema_evo", d,
        graft.io.TextTables.sourceFingerprint(s"$d/orders.parquet"))
      // gate on BOTH _SUCCESS markers (q101's pattern): a crash between the
      // v1 and v2 writes must not leave a partial layout that later runs
      // serve forever
      if (!new java.io.File(s"$dir/v1", "_SUCCESS").exists() ||
          !new java.io.File(s"$dir/v2", "_SUCCESS").exists()) {
        val o = t(s, d, "orders")
        o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$dir/v1")
        o.where(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$dir/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
        .orderBy("o_orderkey")
    }, oracle = Some(
      """SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN NULL ELSE o_orderpriority END
             AS o_orderpriority
         FROM orders ORDER BY o_orderkey""")),

    Case("q106_compaction", (s, d) => {
      // small-files maintenance: fragment documents into 64 tiny files (the
      // accumulated-appends shape), compact to ~4 range-clustered files,
      // prove content identity against the SOURCE table. md5(text) keeps
      // the oracle row narrow while hashing every payload byte.
      import graft.io.{Compaction, TextTables}
      val salt = TextTables.sourceFingerprint(s"$d/documents.parquet")
      val frag = TextTables.scratchDir("compact_in", d, salt)
      if (!new java.io.File(frag, "_SUCCESS").exists()) {
        s.read.parquet(s"$d/documents.parquet")
          .repartition(64).write.mode("overwrite").parquet(frag)
      }
      val out = TextTables.scratchDir("compact_out", d, salt)
      val target = math.max(1L, (Compaction.dataBytes(s, frag) + 3) / 4)
      Compaction.compact(s, frag, out, targetFileBytes = target,
          clusterBy = Seq("doc_id"))
        .select(col("doc_id"), md5(col("text")).as("h"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }, oracle = Some(
      """SELECT doc_id, md5(text) AS h, lang, source, n_chars
         FROM documents ORDER BY doc_id""")),
  )
}
