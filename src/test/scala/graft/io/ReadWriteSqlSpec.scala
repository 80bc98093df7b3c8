package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftspec.JobLog

import graft.{SparkSpec, TempDirs}

/** JDBC source/sink semantics against embedded Derby (the in-container
  * stand-in for the reference's Oracle/MySQL/PostgreSQL/Hive/SQLite targets).
  * Replays the reference's example flows: scan+limit (`R/ffsql.R:52-65`),
  * transform hook (`:70-76`), append (`:82-95`), round-trip (`:946-964`).
  */
class ReadWriteSqlSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  System.setProperty("derby.system.home", "/tmp/graft_derby_test")
  private val url =
    s"jdbc:derby:${TempDirs.make("graft_derby_db")}/db;create=true"

  // the reference fixture shape: a TEXT, b TEXT(date), c REAL (FIXTURES.md §1)
  private def fixture = {
    val letters = ('A' to 'Z').map(_.toString)
    val dates = (3 to 13).map(d => f"2012-04-$d%02d")
    val rows = for {
      d <- dates; l <- letters; i <- 0 until 10
    } yield (l, d, (i - 5) / 3.7)
    rows.toDF("a", "b", "c") // 2,860 rows like inst/smalldb.sqlite3
  }

  test("verbose listener reports per-action rows + wall-time (R/ffsql.R:201-205)") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    Verbose.register(spark, lines.add(_))
    try {
      spark.range(100).toDF("n").collect()
      // QueryExecutionListener callbacks arrive asynchronously on the
      // listener bus — poll with a deadline rather than sleeping blind.
      val deadline = System.currentTimeMillis() + 15000
      while (lines.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(!lines.isEmpty, "no verbose line arrived within 15s")
      val l = lines.peek()
      assert(l.contains("[graft.verbose]"))
      assert(l.contains("rows scanned"))
      assert(l.contains(" s, "), s"wall-time missing in: $l")
    } finally Verbose.unregister(spark)
  }

  test("round-trip: write then read back equals input (R/ffsql.R:946-964)") {
    val in = fixture
    WriteSql(in, url, "TESTDATA", overwrite = true, batchSize = 500)
    val back = ReadSql(spark, url, "SELECT * FROM TESTDATA")
    assert(back.count() == 2860)
    assert(back.columns.toSeq == Seq("a", "b", "c"))
    // content equality modulo row order
    assert(back.except(in).count() == 0 && in.except(back).count() == 0)
  }

  test("nrows caps the scan like the reference nrows argument") {
    val n = ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 123).count()
    assert(n == 123)
  }

  test("batchBytes derives a sane fetchsize from the JDBC schema") {
    // ~40 bytes/row estimated => batchBytes 4000 -> fetchsize ~100; just
    // verify the read works and returns everything.
    val df = ReadSql(spark, url, "SELECT * FROM TESTDATA", batchBytes = 4000)
    assert(df.count() == 2860)
  }

  test("transform hook can change schema (transFUN, R/ffsql.R:70-76)") {
    val df = ReadSql(spark, url, "SELECT * FROM TESTDATA",
      transform = d => d.withColumn("b_date", to_date(col("b")))
        .withColumn("b_minus7", date_sub(to_date(col("b")), 7)))
    assert(df.columns.toSeq == Seq("a", "b", "c", "b_date", "b_minus7"))
    val r = df.where(col("b") === "2012-04-10").select("b_minus7").head()
    assert(r.getDate(0).toString == "2012-04-03")
  }

  test("appendTo re-executes and concatenates (R/ffsql.R:267-272)") {
    val first = ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 100)
    val appended = ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 100,
      appendTo = Some(first))
    assert(appended.count() == 200)
  }

  test("write requires non-empty input (stopifnot(nrow>0), R/ffsql.R:980)") {
    val empty = fixture.where(lit(false))
    intercept[IllegalArgumentException] {
      WriteSql(empty, url, "SHOULD_NOT_EXIST")
    }
    // raised before any DDL: overwrite and append alike leave a table be
    val five = fixture.limit(5)
    WriteSql(five, url, "GUARDED", overwrite = true)
    val msgs = Seq(
      intercept[IllegalArgumentException] {
        WriteSql(empty, url, "GUARDED", overwrite = true)
      },
      intercept[IllegalArgumentException] {
        WriteSql(empty, url, "GUARDED", append = true)
      }).map(_.getMessage)
    assert(msgs.distinct == Seq("requirement failed: nothing to write: input has zero rows"))
    val back = ReadSql(spark, url, "SELECT * FROM GUARDED")
    assert(back.count() == 5 && back.except(five).count() == 0)
  }

  test("default save mode errors when the table exists; append appends") {
    val five = fixture.limit(5)
    intercept[Exception] { WriteSql(five, url, "TESTDATA") } // ErrorIfExists
    WriteSql(five, url, "TESTDATA", append = true, batchSize = 5)
    assert(ReadSql(spark, url, "SELECT * FROM TESTDATA").count() == 2865)
  }

  test("levels override + append-time dictionary union (R/ffsql.R:191-200,311-316)") {
    import graft.ops.Ops
    // force a dictionary on `a` that reverses the natural order
    val custom = ('A' to 'Z').map(_.toString).reverse
    val first = ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 50,
      levels = Map("a" -> custom))
    assert(Ops.levelsOf(first, "a").contains(custom))
    intercept[IllegalArgumentException] {
      ReadSql(spark, url, "SELECT * FROM TESTDATA", levels = Map("zz" -> Seq("x")))
    }
    // append: dictionary union keeps old levels first, appends unseen ones
    val base = Ops.factorise(
      ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 10),
      cols = Seq("a"), levelsOverride = Map("a" -> Seq("A", "B")))
    val appended = ReadSql(spark, url, "SELECT * FROM TESTDATA", nrows = 40,
      appendTo = Some(base))
    val lv = Ops.levelsOf(appended, "a").get
    assert(lv.take(2) == Seq("A", "B")) // old levels first
    assert(appended.count() == 50)
    assert(lv.distinct == lv)
  }

  test("append-time dictionary union appends unseen levels in FIRST-SEEN row order (R/ffsql.R:311-316)") {
    import graft.ops.Ops
    // row order Z, M, A (with a duplicate Z): lexicographic union would give
    // A, M, Z — the reference appends in order of first appearance.
    val t = Seq((1, "Z"), (2, "M"), (3, "A"), (4, "Z")).toDF("pos", "a")
    WriteSql(t, url, "ORDER_LEVELS", overwrite = true)
    val base = Ops.factorise(
      ReadSql(spark, url, "SELECT * FROM ORDER_LEVELS WHERE \"pos\" < 0"),
      cols = Seq("a"), levelsOverride = Map("a" -> Seq("Q")))
    val appended = ReadSql(spark, url,
      "SELECT * FROM ORDER_LEVELS ORDER BY \"pos\"", appendTo = Some(base))
    assert(Ops.levelsOf(appended, "a").contains(Seq("Q", "Z", "M", "A")))
  }

  test("zero-row query returns an empty DataFrame WITH schema (divergence from reference, SURVEY §1.2)") {
    val df = ReadSql(spark, url, "SELECT * FROM TESTDATA WHERE 1 = 0")
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(df.count() == 0)
    // still composable: downstream ops work on the empty frame
    assert(df.groupBy("a").count().count() == 0)
  }

  test("ordered write: single sorted partition (parity mode, SURVEY §2.2)") {
    val df = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "v")
    WriteSql(df, url, "ORDERED_T", overwrite = true, orderedBy = Some("k"))
    val back = ReadSql(spark, url, "SELECT * FROM ORDERED_T")
    assert(back.orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("partitioned parallel scan returns the same data") {
    // Spark created the table with quoted lowercase identifiers, and Derby
    // upcases unquoted ones — quote "c" in the query and the partition column.
    val expected = ReadSql(spark, url, "SELECT * FROM TESTDATA").count()
    val df = ReadSql(spark, url, "SELECT * FROM TESTDATA WHERE \"c\" IS NOT NULL",
      partitionColumn = Some("\"c\""), lowerBound = -2, upperBound = 2,
      numPartitions = 4)
    assert(df.count() == expected)
    assert(df.rdd.getNumPartitions == 4)
  }

  test("write over a window shuffle of a JDBC read scans the source once") {
    import graft.ops.NaLocfPlusOne
    WriteSql(fixture.withColumn("id", monotonically_increasing_id()), url,
      "ONE_PASS_SRC", overwrite = true)
    // the benchmark's shape: a partitioned JDBC read feeding a per-group
    // window, so the probe and the write share one shuffle
    val read = ReadSql(spark, url, "SELECT * FROM ONE_PASS_SRC",
      partitionColumn = Some("\"id\""), lowerBound = 0L,
      upperBound = 1L << 34, numPartitions = 4)
    val filled = NaLocfPlusOne.byGroup(read, Seq("a"), "id", "c", "c_filled")
    val (_, log) = JobLog.of(spark) {
      WriteSql(filled, url, "ONE_PASS_OUT", overwrite = true)
    }
    assert(log.jdbcScans == 1, s"JDBC scan stages: ${log.stages.map(_.name)}")
    assert(ReadSql(spark, url, "SELECT * FROM ONE_PASS_OUT").count() == 2860)
  }

  test("each write runs its input afresh: a changed source is seen") {
    WriteSql(fixture.limit(10), url, "FRESH_SRC", overwrite = true)
    // a shuffle over the JDBC read, whose files the write reuses
    val counted = ReadSql(spark, url, "SELECT * FROM FRESH_SRC").groupBy("a").count()
    WriteSql(counted, url, "FRESH_OUT", overwrite = true)
    WriteSql(fixture.limit(5), url, "FRESH_SRC", append = true)
    WriteSql(counted, url, "FRESH_OUT", overwrite = true)
    val back = ReadSql(spark, url, "SELECT * FROM FRESH_OUT")
    assert(back.agg(sum(col("count"))).head().getLong(0) == 15)
  }

  test("requireNonEmpty = false runs no probe job") {
    val df = spark.range(0, 8, 1, 2).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    val (_, unchecked) = JobLog.of(spark) {
      WriteSql(df, url, "NO_PROBE", overwrite = true, requireNonEmpty = false)
    }
    val (_, checked) = JobLog.of(spark) {
      WriteSql(df, url, "NO_PROBE", overwrite = true)
    }
    assert(unchecked.jobs == 1, "the insert job alone")
    assert(checked.jobs == 2, "the emptiness probe, then the insert")
    assert(ReadSql(spark, url, "SELECT * FROM NO_PROBE").count() == 8)
  }
}
