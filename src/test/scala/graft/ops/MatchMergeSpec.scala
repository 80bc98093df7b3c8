package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.graftspec.JobLog

import graft.SparkSpec

/** Reference fixture from `R/matchmerge.R:57-68` (FIXTURES.md §2):
  * left(idlhs = 1,2,3,4,3,4,5; a = A..G), right(idrhs = 1..4; b = H,I,J,K).
  */
class MatchMergeSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def left = Seq(
    (1, "A"), (2, "B"), (3, "C"), (4, "D"), (3, "E"), (4, "F"), (5, "G"))
    .toDF("idlhs", "a")
  private def right = Seq((1, "H"), (2, "I"), (3, "J"), (4, "K"))
    .toDF("idrhs", "b")

  test("inner: LHS rows with unmatched keys dropped, duplicates of LHS kept") {
    val out = MatchMerge(left, right, Seq("idlhs"), Seq("idrhs"))
      .orderBy("a").as[(Int, String, String)].collect()
    assert(out.length == 6) // the id-5 row dropped
    assert(out.map(_._2).toSeq == Seq("A", "B", "C", "D", "E", "F"))
    assert(out.map(_._3).toSeq == Seq("H", "I", "J", "K", "J", "K"))
  }

  test("left-outer: all 7 LHS rows, null b for unmatched id 5") {
    val out = MatchMerge(left, right, Seq("idlhs"), Seq("idrhs"), allX = true)
      .orderBy("a").collect()
    assert(out.length == 7)
    val g = out.find(_.getString(1) == "G").get
    assert(g.isNullAt(2))
  }

  test("duplicate RHS key rejected (reference `R/matchmerge.R:149-160`)") {
    val dupRight = Seq((1, "H"), (1, "I")).toDF("idrhs", "b")
    val e = intercept[IllegalArgumentException] {
      MatchMerge(left, dupRight, Seq("idlhs"), Seq("idrhs")).collect()
    }
    assert(e.getMessage.contains("doubles"))
    // opt-out mirrors check.duplicates=FALSE
    val n = MatchMerge(left, dupRight, Seq("idlhs"), Seq("idrhs"),
      checkDuplicates = false).count()
    assert(n == 2) // id-1 row matches both RHS rows
  }

  test("lookup (vector-y mode): single renamed column appended") {
    val out = MatchMerge.lookup(left, right, Seq("idlhs"), Seq("idrhs"),
      valueCol = "b", as = "b.renamed", allX = true)
    assert(out.columns.toSeq == Seq("idlhs", "a", "b.renamed"))
    assert(out.count() == 7)
  }

  test("name collision on appended column gets suffix") {
    val r2 = right.withColumnRenamed("b", "a") // collides with left's a
    val out = MatchMerge(left, r2, Seq("idlhs"), Seq("idrhs"))
    assert(out.columns.toSeq == Seq("idlhs", "a", "a_y"))
  }

  test("suffix collision cascades when x already holds the suffixed name") {
    val l = Seq((1, "v", "w")).toDF("idlhs", "b", "b_y")
    val r = Seq((1, "rb")).toDF("idrhs", "b")
    val out = MatchMerge(l, r, Seq("idlhs"), Seq("idrhs"))
    assert(out.columns.toSeq == Seq("idlhs", "b", "b_y", "b_y_y"))
    assert(out.columns.distinct.length == out.columns.length)
  }

  test("empty suffix rejected (collision rename would never terminate)") {
    val e = intercept[IllegalArgumentException] {
      MatchMerge(left, right.withColumnRenamed("b", "a"),
        Seq("idlhs"), Seq("idrhs"), suffix = "")
    }
    assert(e.getMessage.contains("suffix"))
  }

  test("exprKeys: computed key columns join like by.iskey=FALSE (R/matchmerge.R:127-134)") {
    // key on the RHS is idrhs*10; LHS computes idlhs*10 to match
    val r10 = right.withColumn("idx10", col("idrhs") * 10).drop("idrhs")
    val out = MatchMerge.exprKeys(left, r10,
      byX = Seq(col("idlhs") * 10), byY = Seq(col("idx10")),
      addColumns = Seq("b"))
      .orderBy("a").as[(Int, String, String)].collect()
    assert(out.length == 6)
    assert(out.map(_._3).toSeq == Seq("H", "I", "J", "K", "J", "K"))
    // no temp key columns leak into the output
    assert(!out.isEmpty)
    val cols = MatchMerge.exprKeys(left, r10,
      byX = Seq(col("idlhs") * 10), byY = Seq(col("idx10")),
      addColumns = Seq("b")).columns.toSeq
    assert(cols == Seq("idlhs", "a", "b"))
  }

  test("exprKeys: duplicate computed RHS key still rejected") {
    val e = intercept[IllegalArgumentException] {
      MatchMerge.exprKeys(left, right,
        byX = Seq(col("idlhs") % 2), byY = Seq(col("idrhs") % 2),
        addColumns = Seq("b"))
    }
    assert(e.getMessage.contains("doubles"))
  }

  test("multi-column key: true equi-join, not paste concatenation") {
    // the classic paste collision: ("a b", "c") vs ("a", "b c")
    val l = Seq(("a b", "c", 1), ("a", "b c", 2)).toDF("k1", "k2", "v")
    val r = Seq(("a b", "c", "X")).toDF("j1", "j2", "w")
    val strict = MatchMerge(l, r, Seq("k1", "k2"), Seq("j1", "j2"))
    assert(strict.count() == 1) // only the genuinely equal key
    val compat = MatchMerge(l, r, Seq("k1", "k2"), Seq("j1", "j2"),
      pasteCompat = true, checkDuplicates = false)
    assert(compat.count() == 2) // reference byte-behavior: both collide
  }

  test("empty sides behave: empty y -> inner empty / left all-null; empty x -> empty") {
    val emptyRight = right.where(col("idrhs") < 0)
    assert(MatchMerge(left, emptyRight, Seq("idlhs"), Seq("idrhs")).count() == 0)
    val lo = MatchMerge(left, emptyRight, Seq("idlhs"), Seq("idrhs"), allX = true)
    assert(lo.count() == 7 && lo.where(col("b").isNotNull).count() == 0)
    val emptyLeft = left.where(col("idlhs") < 0)
    assert(MatchMerge(emptyLeft, right, Seq("idlhs"), Seq("idrhs")).count() == 0)
  }

  test("null join keys never match (match() semantics: NA finds nothing)") {
    val l = Seq((Some(1), "a"), (None, "b")).toDF("k", "v")
    val r = Seq((Some(1), "x"), (None, "y")).toDF("k2", "w")
    val inner = MatchMerge(l, r, Seq("k"), Seq("k2"))
    assert(inner.count() == 1) // only the 1-1 match; null != null
    val outer = MatchMerge(l, r, Seq("k"), Seq("k2"), allX = true)
    assert(outer.count() == 2)
    assert(outer.where(col("v") === "b").select("w").head().isNullAt(0))
  }

  test("left-join preserves LHS cardinality when RHS key unique (property)") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 5) {
      val l = Seq.fill(40)((rng.nextInt(10), rng.nextInt(100))).toDF("k", "v")
      val r = (0 until 10).map(k => (k, s"r$k")).toDF("k2", "w")
      assert(MatchMerge(l, r, Seq("k"), Seq("k2"), allX = true).count() == 40)
    }
  }

  test("key check raises exactly when groupBy on y's keys finds a count > 1") {
    import org.apache.spark.sql.DataFrame
    val weirdNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    // (case, y, key columns, pasteCompat, expected duplicate)
    val cases: Seq[(String, DataFrame, Seq[String], Boolean, Boolean)] = Seq(
      ("unique ints", Seq((1, "a"), (2, "b")).toDF("k", "w"), Seq("k"), false, false),
      ("repeated int", Seq((1, "a"), (1, "b")).toDF("k", "w"), Seq("k"), false, true),
      ("two null keys", Seq((Option.empty[Int], "a"), (None, "b")).toDF("k", "w"),
        Seq("k"), false, true),
      ("null and a value", Seq((Option.empty[Int], "a"), (Some(0), "b")).toDF("k", "w"),
        Seq("k"), false, false),
      ("-0.0 and 0.0", Seq((-0.0, "a"), (0.0, "b")).toDF("k", "w"), Seq("k"), false, true),
      ("NaN and NaN", Seq((Double.NaN, "a"), (weirdNaN, "b")).toDF("k", "w"),
        Seq("k"), false, true),
      ("NaN and 0.0", Seq((Double.NaN, "a"), (0.0, "b")).toDF("k", "w"),
        Seq("k"), false, false),
      ("-0.0 inside a struct", Seq((-0.0, "a"), (0.0, "b")).toDF("d", "w")
        .select(struct(col("d")).as("k"), col("w")), Seq("k"), false, true),
      ("equal binary keys", Seq((Array[Byte](1, 2), "a"), (Array[Byte](1, 2), "b"))
        .toDF("k", "w"), Seq("k"), false, true),
      ("distinct binary keys", Seq((Array[Byte](1, 2), "a"), (Array[Byte](2, 1), "b"))
        .toDF("k", "w"), Seq("k"), false, false),
      ("multi-column, one column differs", Seq((1, "x", "a"), (1, "y", "b"))
        .toDF("k1", "k2", "w"), Seq("k1", "k2"), false, false),
      ("multi-column repeat with a null", Seq((1, null: String, "a"), (1, null, "b"))
        .toDF("k1", "k2", "w"), Seq("k1", "k2"), false, true),
      ("pasteCompat checks the columns, not the pasted key",
        Seq(("a b", "c", "w1"), ("a", "b c", "w2")).toDF("k1", "k2", "w"),
        Seq("k1", "k2"), true, false),
      ("pasteCompat repeat", Seq(("a", "b", "w1"), ("a", "b", "w2"))
        .toDF("k1", "k2", "w"), Seq("k1", "k2"), true, true),
      ("case-folding collation", Seq(("a", "w1"), ("A", "w2")).toDF("s", "w")
        .select(collate(col("s"), "UTF8_LCASE").as("k"), col("w")), Seq("k"), false, true))
    cases.foreach { case (name, y, keys, paste, expected) =>
      val grouped = y.groupBy(keys.map(col): _*).count().where(col("count") > 1)
      assert(!grouped.isEmpty == expected, s"$name: the table's expectation is wrong")
      val x = y.select(keys.map(col): _*)
      Seq(true, false).foreach { bc =>
        val raised =
          try {
            MatchMerge(x, y, keys, keys, pasteCompat = paste, broadcastRhs = bc)
            false
          } catch { case _: IllegalArgumentException => true }
        assert(raised == expected, s"$name (broadcastRhs = $bc)")
      }
    }
  }

  test("key check on a bounded y is one Spark job at call time") {
    val y = right.localCheckpoint()
    val (out, log) = JobLog.of(spark) {
      MatchMerge(left, y, Seq("idlhs"), Seq("idrhs"), allX = true)
    }
    assert(log.jobs == 1)
    assert(log.stages.size == 1, "a shuffle-free collect")
    assert(out.count() == 7)
    intercept[IllegalArgumentException] {
      MatchMerge(left, y.union(y).localCheckpoint(), Seq("idlhs"), Seq("idrhs"))
    }
  }
}
