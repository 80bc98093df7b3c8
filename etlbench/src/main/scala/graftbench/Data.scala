package graftbench

import java.sql.{Connection, DriverManager}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.hashing.MurmurHash3

/** Seeded inputs and the helpers that check outputs against them. */
object Data {

  // ---- FACT / DIM: the reference fixture's shape (letter, date text,
  // one of ten doubles) widened with an id, a group key and a nullable
  // value that comes in NA runs.

  final case class Fact(id: Int, grp: Int, a: String, b: String, c: Double,
      v: Option[Double])

  val TenDoubles: IndexedSeq[Double] = IndexedSeq(-1.8598258, -1.2176535,
    -0.7561983, -0.3312094, -0.0257164, 0.1832577, 0.4708893, 0.7912346,
    1.0453215, 1.3116202)

  def facts(seed: Long, n: Int, groups: Int): IndexedSeq[Fact] = {
    val r = new Random(seed)
    var naLeft = 0
    (0 until n).map { id =>
      if (naLeft == 0 && r.nextDouble() < 0.2) naLeft = 1 + r.nextInt(4)
      val v = if (naLeft > 0) { naLeft -= 1; None } else Some(r.nextInt(100000) / 100.0)
      Fact(id, r.nextInt(groups), ('A' + r.nextInt(26)).toChar.toString,
        f"2012-04-${3 + r.nextInt(11)}%02d", TenDoubles(r.nextInt(10)), v)
    }
  }

  /** Unique-key dimension; every eighth group is absent, so the left-outer
    * lookup leaves some rows unmatched.
    */
  def dim(groups: Int): IndexedSeq[(Int, String, Double)] =
    (0 until groups).filter(_ % 8 != 7).map(g => (g, s"grp_$g", g * 0.5))

  val RecodeFrom: Seq[String] = Seq("A", "B")
  val RecodeTo: Seq[String] = Seq("a.123", "b.123")

  /** Output columns of the ETL pipeline, in the order they are hashed. */
  val EtlColumns: Seq[String] = Seq("id", "grp", "letter", "day", "c", "v",
    "day_date", "g_name", "g_weight", "v_filled")

  /** The ETL pipeline computed directly on the generated rows: recode,
    * rename, left-outer lookup, per-group LOCF plus run position in id
    * order. Returns one value list per output row, in [[EtlColumns]] order.
    */
  def etlExpected(rows: Seq[Fact], dimRows: Seq[(Int, String, Double)]): Seq[Seq[Any]] = {
    val d = dimRows.map { case (g, n, w) => g -> (n, w) }.toMap
    val filled = rows.groupBy(_.grp).values.flatMap { g =>
      var last: Option[Double] = None
      var run = 0L
      g.sortBy(_.id).map { f =>
        f.v match {
          case Some(x) => last = Some(x); run = 0; f.id -> Some(x)
          case None => run += 1; f.id -> last.map(_ + run.toDouble)
        }
      }
    }.toMap
    rows.map { f =>
      val letter = RecodeFrom.indexOf(f.a) match {
        case -1 => f.a
        case i => RecodeTo(i)
      }
      val (gName, gWeight) = d.get(f.grp) match {
        case Some((n, w)) => (n, w)
        case None => (null, null)
      }
      Seq(f.id, f.grp, letter, f.b, f.c, f.v.getOrElse(null), f.b, gName,
        gWeight, filled(f.id).getOrElse(null))
    }
  }

  /** Canonical text of one value, shared by both sides of every check. */
  def fmt(x: Any): String = x match {
    case null => "∅"
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => java.lang.Double.toString(d)
    case d: java.sql.Date => d.toString
    case s: String => s
    case o => o.toString
  }

  /** Order-independent 64-bit hash of a row set (sum of row hashes). */
  def rowSetHash(rows: Iterable[Seq[Any]]): Long =
    rows.foldLeft(0L) { (acc, r) =>
      val s = r.map(fmt).mkString("|")
      acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL))
    }

  // ---- Corpus: seeded documents over a fixed vocabulary, with emails and
  // URLs for the PII scrubber and near-duplicates planted at a fixed share.

  final case class Doc(id: Long, text: String, source: String)

  val Sources: IndexedSeq[String] = IndexedSeq("web", "books", "forum", "code")

  /** Share of generated documents that are planted near-duplicates. */
  val NearDupShare = 0.2

  final class Corpus(seed: Long) {
    private val r = new Random(seed)
    private val vocab: IndexedSeq[String] = (0 until 4000).map { _ =>
      val len = 3 + r.nextInt(7)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct

    private def word(): String =
      vocab((vocab.length * math.pow(r.nextDouble(), 1.3)).toInt)

    private def fresh(): String = {
      val words = ArrayBuffer.fill(40 + r.nextInt(60))(word())
      if (r.nextDouble() < 0.3)
        words.insert(r.nextInt(words.length), s"${word()}.${word()}@example.com")
      if (r.nextDouble() < 0.2)
        words.insert(r.nextInt(words.length),
          s"https://www.${word()}.org/${word()}?utm_source=${word()}")
      words.mkString(" ")
    }

    /** `original` with one or two words replaced. */
    private def nearCopy(original: String): String = {
      val words = original.split(' ')
      (0 until 1 + r.nextInt(2)).foreach(_ => words(r.nextInt(words.length)) = word())
      words.mkString(" ")
    }

    /** Documents `ids`, in order. A planted near-duplicate copies an
      * earlier document of `pool` or of this call.
      */
    def docs(ids: Seq[Long], pool: IndexedSeq[Doc] = IndexedSeq.empty): IndexedSeq[Doc] = {
      val out = ArrayBuffer.empty[Doc]
      ids.foreach { id =>
        val earlier = pool.length + out.length
        val text =
          if (earlier > 0 && r.nextDouble() < NearDupShare) {
            val j = r.nextInt(earlier)
            nearCopy(if (j < pool.length) pool(j).text else out(j - pool.length).text)
          } else fresh()
        out += Doc(id, text, Sources(r.nextInt(Sources.length)))
      }
      out.toIndexedSeq
    }
  }

  // ---- in-memory Derby

  def derbyUrl(db: String): String = s"jdbc:derby:memory:$db"

  def connect(db: String, create: Boolean = false): Connection =
    DriverManager.getConnection(derbyUrl(db) + (if (create) ";create=true" else ""))

  /** Drops the in-memory database `db`; Derby reports success as an error. */
  def dropDerby(db: String): Unit =
    try DriverManager.getConnection(derbyUrl(db) + ";drop=true").close()
    catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }

  def exec(c: Connection, sql: String): Unit = {
    val s = c.createStatement()
    try s.execute(sql) finally s.close()
  }

  /** Batch-inserts `rows` with `insert`, binding each row with `bind`. */
  def load[T](c: Connection, insert: String, rows: Seq[T])(
      bind: (java.sql.PreparedStatement, T) => Unit): Unit = {
    c.setAutoCommit(false)
    val ps = c.prepareStatement(insert)
    try {
      rows.grouped(1000).foreach { chunk =>
        chunk.foreach { row => bind(ps, row); ps.addBatch() }
        ps.executeBatch()
      }
      c.commit()
    } finally { ps.close(); c.setAutoCommit(true) }
  }

  /** Every row of `sql`, as value lists. */
  def query(c: Connection, sql: String): Seq[Seq[Any]] = {
    val s = c.createStatement()
    try {
      val rs = s.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = ArrayBuffer.empty[Seq[Any]]
      while (rs.next()) out += (1 to n).map(i => rs.getObject(i))
      out.toSeq
    } finally s.close()
  }
}
