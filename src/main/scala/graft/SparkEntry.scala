package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.queries.Registry
import graft.queries.Shared.t

/** Driver contract: one entry per implemented operator (SURVEY.md §2 plus the
  * training-data-pipeline extensions), each with a DuckDB oracle where the
  * semantics are ANSI-SQL-expressible. Each query is declared once, its
  * oracle SQL beside its body, in a family under `graft/queries/`
  * ([[graft.queries.Registry]]); the maps here are derived from there.
  */
object SparkEntry {

  /** Query id -> body, built once. Its key order, which is `Bench`'s
    * battery order, is the immutable `HashMap`'s: it depends only on the
    * set of ids, not on where they are declared.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.cases.map(c => c.id -> c.run).toMap

  /** Query id -> DuckDB oracle SQL, for every query that has one. */
  val oracleSql: Map[String, String] =
    Registry.cases.flatMap(c => c.oracle.map(c.id -> _)).toMap

  /** Flagship query on sf=0.001 (multi-join star-schema aggregation). */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_region_revenue")(spark, "/root/testdata/sf0.001")

  /** One-time physical layout for the bucketed-join query: both fact tables
    * bucketed+sorted by the join key, names tagged by source dir so distinct
    * scale factors never alias. Idempotent — the write happens once per JVM;
    * later q46 invocations plan straight against the bucketed scan.
    */
  def prepareBucketedTables(s: SparkSession, d: String): (String, String) = {
    import graft.io.BucketedTables
    // tag = sanitized dir path (readable) + md5 prefix of the EXACT path:
    // sanitization alone is lossy ("/sf0.1" and "/sf0_1" collapse), so the
    // hash suffix keeps distinct source dirs from aliasing each other's
    // tables and silently serving wrong-scale data
    val sanitized = d.replaceAll("[^A-Za-z0-9]", "_").toLowerCase(java.util.Locale.ROOT)
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString
    val tag = s"${sanitized}_$digest"
    val ordersTbl = s"graft_v_orders_$tag"
    val lineitemTbl = s"graft_v_lineitem_$tag"
    BucketedTables.ensureBucketed(
      t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      ordersTbl, "o_orderkey", 8, sortCol = Some("o_orderkey"))
    BucketedTables.ensureBucketed(
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"), col("l_quantity")),
      lineitemTbl, "l_orderkey", 8, sortCol = Some("l_orderkey"))
    (ordersTbl, lineitemTbl)
  }

  /** Benchmark prepare phase: all one-time layout work that must NOT be
    * charged to a timed query (bucketed-table writes). Verify/correctness
    * paths don't need to call this — queries self-prepare on first use.
    */
  def benchPrepare(s: SparkSession, d: String): Unit = {
    prepareBucketedTables(s, d)
    ()
  }
}
