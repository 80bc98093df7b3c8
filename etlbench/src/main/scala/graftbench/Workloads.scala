package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_date}

import graft.ext.{Dedup, Packing}
import graft.functions.text
import graft.io.{ReadSql, WriteSql}
import graft.ops.{MatchMerge, NaLocfPlusOne, Ops}
import graft.streaming.CorpusStreams

/** One benchmark workload. The harness calls [[prepare]] several times and
  * [[expect]] once during set-up, then repeats [[op]] (timed), [[check]]
  * and [[restore]] (both untimed).
  */
trait Workload {
  def name: String
  /** Items one op completes: rows written or input documents. */
  def items: Long
  /** Warm-up runs exactly this many untimed ops: the JIT needs tens of
    * ops of the planner and scheduler paths before op times level off.
    * A fixed count keeps `setup_s` proportional to the cost of an op.
    */
  def warmupOps: Int
  /** A run times at least this many ops, however short `--seconds` is. */
  def minTimedOps: Int
  /** Generates and loads the inputs; each call replaces the previous one's. */
  def prepare(rep: Int): Unit
  /** Computes the expected outputs by a path independent of the op's. */
  def expect(): Unit
  def op(i: Int): Unit
  /** None when op `i`'s output is right, else what is wrong with it. */
  def check(i: Int): Option[String]
  /** Puts back the state every op starts from. */
  def restore(): Unit
  /** Per-layer metrics only this workload can compute, from a traced op. */
  def layerCounts(t: Tracer): Map[String, Double] = Map.empty
  def close(): Unit
}

final case class Env(spark: SparkSession, k: Int, seed: Long, work: Path, t: Tracer)

object Workload {
  def apply(name: String, env: Env): Workload = name match {
    case "etl_roundtrip" => new EtlRoundtrip(env)
    case "corpus_stream" => new CorpusStream(env)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Names: Seq[String] = Seq("etl_roundtrip", "corpus_stream")

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally walk.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.forEach(x => Files.copy(x, to.resolve(from.relativize(x).toString)))
    finally walk.close()
  }

  /** Files and directories under `p`, `p` itself excluded. */
  def entries(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.count() - 1 finally walk.close()
    }
}

/** ETLUtils' own loop: JDBC range read -> recode -> rename -> lookup ->
  * per-group LOCF -> JDBC overwrite, one equal-size key slice per op.
  */
final class EtlRoundtrip(env: Env) extends Workload {
  import env._
  val name = "etl_roundtrip"
  private val SliceRows = 2000
  private val Slices = 8
  private val Groups = 64
  val items: Long = SliceRows.toLong
  val warmupOps = 28
  val minTimedOps = 20

  private var db = ""
  private def url = Data.derbyUrl(db)
  private var facts: IndexedSeq[Data.Fact] = IndexedSeq.empty
  private var dim: DataFrame = _
  private var expected: IndexedSeq[(Int, Long)] = IndexedSeq.empty
  private val letters = ('A' to 'Z').map(_.toString)

  def prepare(rep: Int): Unit = {
    val prev = db
    db = s"etlbench_etl_$rep"
    facts = Data.facts(seed, SliceRows * Slices, Groups)
    val c = Data.connect(db, create = true)
    try {
      Data.exec(c, "CREATE TABLE FACT (ID INT PRIMARY KEY, GRP INT, A VARCHAR(1), " +
        "B VARCHAR(10), C DOUBLE, V DOUBLE)")
      Data.exec(c, "CREATE TABLE DIM (GRP INT PRIMARY KEY, G_NAME VARCHAR(16), G_WEIGHT DOUBLE)")
      Data.load(c, "INSERT INTO FACT VALUES (?, ?, ?, ?, ?, ?)", facts) { (ps, f) =>
        ps.setInt(1, f.id); ps.setInt(2, f.grp); ps.setString(3, f.a)
        ps.setString(4, f.b); ps.setDouble(5, f.c)
        f.v match {
          case Some(x) => ps.setDouble(6, x)
          case None => ps.setNull(6, java.sql.Types.DOUBLE)
        }
      }
      Data.load(c, "INSERT INTO DIM VALUES (?, ?, ?)", Data.dim(Groups)) { (ps, d) =>
        ps.setInt(1, d._1); ps.setString(2, d._2); ps.setDouble(3, d._3)
      }
    } finally c.close()
    // the lookup dimension is read once and held with its lineage cut, so
    // the per-op scans the ledger counts are the FACT scans alone
    dim = Ops.renameColumns(ReadSql(spark, url, "SELECT GRP, G_NAME, G_WEIGHT FROM DIM"),
      Seq("GRP", "G_NAME", "G_WEIGHT"), Seq("grp", "g_name", "g_weight"))
      .localCheckpoint(true)
    if (prev.nonEmpty) Data.dropDerby(prev)
  }

  def expect(): Unit = {
    val d = Data.dim(Groups)
    expected = (0 until Slices).map { j =>
      val rows = Data.etlExpected(facts.slice(j * SliceRows, (j + 1) * SliceRows), d)
      (rows.size, Data.rowSetHash(rows))
    }
  }

  def op(i: Int): Unit = {
    val lo = (i % Slices) * SliceRows
    val hi = lo + SliceRows
    val read = t.span("io.read_sql") {
      t.boundary("io.jdbc_rows", ReadSql(spark, url,
        s"SELECT ID, GRP, A, B, C, V FROM FACT WHERE ID >= $lo AND ID < $hi",
        fetchSize = 500,
        transform = _.withColumn("B_DATE", to_date(col("B"))),
        levels = Map("A" -> letters.reverse),
        partitionColumn = Some("ID"), lowerBound = lo, upperBound = hi,
        numPartitions = k))
    }
    val recoded = t.span("ops.recode") {
      t.boundary("ops.recode", Ops.recodeCol(read, "A", Data.RecodeFrom, Data.RecodeTo))
    }
    val renamed = t.span("ops.rename") {
      Ops.renameColumns(recoded, Seq("ID", "GRP", "A", "B", "C", "V", "B_DATE"),
        Seq("id", "grp", "letter", "day", "c", "v", "day_date"))
    }
    val joined = t.span("ops.matchmerge") {
      t.boundary("ops.matchmerge",
        MatchMerge(renamed, dim, Seq("grp"), Seq("grp"), allX = true))
    }
    val filled = t.span("ops.locf") {
      t.boundary("io.rows_written",
        NaLocfPlusOne.byGroup(joined, Seq("grp"), "id", "v", "v_filled"))
    }
    t.span("io.write_sql") { WriteSql(filled, url, "FACT_OUT", overwrite = true) }
  }

  def check(i: Int): Option[String] = {
    val (n, h) = expected(i % Slices)
    val c = Data.connect(db)
    val rows = try Data.query(c, Data.EtlColumns.map(x => s""""$x"""")
      .mkString("SELECT ", ", ", " FROM FACT_OUT")) finally c.close()
    val got = Data.rowSetHash(rows)
    if (rows.size == n && got == h) None
    else Some(s"FACT_OUT holds ${rows.size} rows (hash $got), expected $n (hash $h)")
  }

  def restore(): Unit = {
    val c = Data.connect(db)
    try {
      val rs = c.getMetaData.getTables(null, null, "FACT_OUT", null)
      val exists = try rs.next() finally rs.close()
      if (exists) Data.exec(c, "DROP TABLE FACT_OUT")
    } finally c.close()
  }

  def close(): Unit = if (db.nonEmpty) Data.dropDerby(db)
}

/** The restartable daily ingest, from JDBC to packed output. Each op takes
  * one day's increment of documents: a `ReadSql` range read, PII scrub and
  * token count, staging with `stageIdSlices`, one `corpusDedupStreaming`
  * call against the saved base state (restored before every op), then
  * next-fit packing of the survivors and a parquet write.
  */
final class CorpusStream(env: Env) extends Workload {
  import env._
  val name = "corpus_stream"
  private val BaseDocs = 300
  private val IncrementDocs = 150
  private val Increments = 2
  val Budget = 2048L
  val items: Long = IncrementDocs.toLong
  // set-up already runs the dedup paths (base state, expected results)
  val warmupOps = 6
  val minTimedOps = 8

  private var db = ""
  private def url = Data.derbyUrl(db)
  private def docsParquet = work.resolve("docs").toString
  private def baseState = work.resolve("base_state")
  private def state = work.resolve("state")
  private def features = work.resolve("increment")
  private def sink = work.resolve("sink")
  private def ckpt = work.resolve("checkpoint")
  private def out = work.resolve("packed")
  private var staged: Option[Path] = None
  private var survivors: DataFrame = _
  private var expected: IndexedSeq[Set[Long]] = IndexedSeq.empty

  private def scrubbed(df: DataFrame): DataFrame =
    df.withColumn("text", text.scrubPII(col("text")))

  private def increment(j: Int): (Long, Long) = {
    val lo = BaseDocs.toLong + j * IncrementDocs
    (lo, lo + IncrementDocs)
  }

  def prepare(rep: Int): Unit = {
    val prev = db
    db = s"etlbench_docs_$rep"
    val corpus = new Data.Corpus(seed)
    val base = corpus.docs((0 until BaseDocs).map(_.toLong))
    // near-duplicates of an increment copy the base or the same increment
    val docs = base ++ (0 until Increments).flatMap { j =>
      val (lo, hi) = increment(j)
      corpus.docs(lo until hi, pool = base)
    }
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("overwrite").parquet(docsParquet)
    val c = Data.connect(db, create = true)
    try {
      Data.exec(c, "CREATE TABLE DOCS (DOC_ID BIGINT PRIMARY KEY, TEXT VARCHAR(8000), " +
        "SOURCE VARCHAR(16))")
      Data.load(c, "INSERT INTO DOCS VALUES (?, ?, ?)", docs) { (ps, d) =>
        ps.setLong(1, d.id); ps.setString(2, d.text); ps.setString(3, d.source)
      }
    } finally c.close()
    val st = Dedup.minhashState(
      scrubbed(spark.read.parquet(docsParquet).where(col("doc_id") < BaseDocs)),
      "doc_id", "text")
    Workload.deleteTree(baseState)
    Dedup.saveMinhashState(st, baseState.toString, st.params)
    if (prev.nonEmpty) Data.dropDerby(prev)
    restore()
  }

  def expect(): Unit = {
    val all = scrubbed(spark.read.parquet(docsParquet))
    expected = (0 until Increments).map { j =>
      val (lo, hi) = increment(j)
      Dedup.minhashDedup(all.where(col("doc_id") < BaseDocs ||
        (col("doc_id") >= lo && col("doc_id") < hi)), "doc_id", "text")
        .where(col("doc_id") >= BaseDocs).select("doc_id").collect().map(_.getLong(0)).toSet
    }
  }

  def op(i: Int): Unit = {
    val (lo, hi) = increment(i % Increments)
    val raw = t.span("io.read_sql") {
      t.boundary("io.jdbc_rows", ReadSql(spark, url,
        s"SELECT DOC_ID, TEXT, SOURCE FROM DOCS WHERE DOC_ID >= $lo AND DOC_ID < $hi",
        fetchSize = 200, partitionColumn = Some("DOC_ID"), lowerBound = lo,
        upperBound = hi, numPartitions = k))
    }
    val feat = t.span("functions.text") {
      t.boundary("functions.text", raw.select(col("DOC_ID").as("doc_id"),
        text.scrubPII(col("TEXT")).as("text"), col("SOURCE").as("source"))
        .withColumn("n_tok", text.tokenCount(col("text"))))
    }
    staged = Some(t.span("io.stage") {
      feat.write.parquet(features.toString)
      java.nio.file.Paths.get(CorpusStreams.stageIdSlices(spark, features.toString,
        "doc_id", Nil))
    })
    survivors = t.span("streaming.call") {
      CorpusStreams.corpusDedupStreaming(spark, staged.get.toString, "doc_id", "text",
        sinkDir = Some(sink.toString), stateDir = Some(state.toString),
        checkpointDir = Some(ckpt.toString), batchAdaptive = Some(false),
        shufflePartitions = Some(1))
    }
    val packed = t.span("ext.pack") {
      t.boundary("ext.pack", Packing.nextFitPack(
        spark.read.parquet(features.toString).join(survivors, Seq("doc_id"), "left_semi"),
        "n_tok", "doc_id", Budget, Seq("source")))
    }
    t.span("io.parquet_write") {
      packed.select("doc_id", "source", "n_tok", "bin_id")
        .write.mode("overwrite").parquet(out.toString)
    }
  }

  def check(i: Int): Option[String] = {
    val want = expected(i % Increments)
    val kept = survivors.collect().map(_.getLong(0)).toSet
    val rows = spark.read.parquet(out.toString).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong, r.getLong(3)))
    val ids = rows.map(_._1)
    val overfull = rows.groupBy(r => (r._2, r._4)).values
      .count(b => b.length > 1 && b.map(_._3).sum > Budget)
    if (kept != want)
      Some(s"${kept.size} survivors, expected ${want.size} " +
        s"(${(kept -- want).size} extra, ${(want -- kept).size} missing)")
    else if (ids.length != ids.distinct.length || ids.toSet != want)
      Some(s"packed ${ids.length} rows (${ids.distinct.length} ids), " +
        s"expected each of ${want.size} survivors once")
    else if (overfull > 0) Some(s"$overfull bins exceed the budget of $Budget tokens")
    else None
  }

  def restore(): Unit = {
    (staged.toSeq ++ Seq(features, sink, ckpt, out, state)).foreach(Workload.deleteTree)
    staged = None
    Workload.copyTree(baseState, state)
  }

  override def layerCounts(t: Tracer): Map[String, Double] =
    (for (in <- t.counts.get("io.jdbc_rows"); kept <- t.counts.get("ext.pack"))
      yield "ext.dedup.drop_share" -> (in - kept).toDouble / in).toMap

  def close(): Unit = if (db.nonEmpty) Data.dropDerby(db)
}
