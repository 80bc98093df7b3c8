package graft.io

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkSpec, TempDirs}

class TextTablesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // the gnarly cases a text dump must survive: separators, quotes, newlines,
  // unicode, empty string, null
  private def fixture = Seq(
    (1L, "plain"),
    (2L, "comma, inside"),
    (3L, "quote \" inside"),
    (4L, "both \", and\nnewline"),
    (5L, "unicode: café 日本語 😀"),
    (6L, ""),
    (7L, null)
  ).toDF("id", "text")

  private def tmp(prefix: String): String =
    TempDirs.make(prefix).toString

  test("CSV round trip is lossless including quotes, newlines, unicode AND null vs empty") {
    val back = TextTables.csvRoundTrip(fixture, tmp("graft_csv_spec"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    val exp = fixture.orderBy("id").as[(Long, String)].collect().toSeq
    // the nullValue sentinel + emptyValue options keep NULL distinct from ""
    // (bare CSV collapses both into an empty field)
    assert(back == exp)
  }

  test("CSV sentinel exclusion: a literal \\N value reads back as NULL (documented); JSONL keeps it") {
    // Spark's CSV parser compares nullValue against the UNQUOTED token, so a
    // string whose value is exactly the \N sentinel cannot survive the CSV
    // round trip — the documented exclusion in csvRoundTrip's contract.
    val tricky = Seq((1L, "\\N"), (2L, null: String)).toDF("id", "text")
    val csv = TextTables.csvRoundTrip(tricky, tmp("graft_csv_sentinel"))
      .orderBy("id").collect()
    assert(csv(0).isNullAt(1) && csv(1).isNullAt(1))
    // the JSONL path has no in-band marker and round-trips it losslessly
    val jsonl = TextTables.jsonlRoundTrip(tricky, tmp("graft_jsonl_sentinel"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(jsonl == Seq((1L, "\\N"), (2L, null)))
  }

  test("JSONL round trip is lossless including null vs empty string") {
    val back = TextTables.jsonlRoundTrip(fixture, tmp("graft_jsonl_spec"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    val exp = fixture.orderBy("id").as[(Long, String)].collect().toSeq
    assert(back == exp)
  }

  test("ORC round trip is lossless: null vs empty, microsecond ts, doubles") {
    val back = TextTables.orcRoundTrip(fixture, tmp("graft_orc_spec"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    val exp = fixture.orderBy("id").as[(Long, String)].collect().toSeq
    assert(back == exp)
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:11:12.123456"), 0.1 + 0.2),
      (2L, java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999"), math.Pi)
    ).toDF("id", "ts", "v")
    val back2 = TextTables.orcRoundTrip(df, tmp("graft_orc_ts"))
      .orderBy("id").as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    val exp2 = df.orderBy("id").as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    assert(back2 == exp2)
  }

  test("JSONL round trip preserves timestamps to the microsecond and doubles bit-exactly") {
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-03-01 10:11:12.123456"), 0.1 + 0.2),
      (2L, java.sql.Timestamp.valueOf("1999-12-31 23:59:59.999999"), math.Pi)
    ).toDF("id", "ts", "v")
    val back = TextTables.jsonlRoundTrip(df, tmp("graft_jsonl_ts"))
      .orderBy("id").as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    val exp = df.orderBy("id").as[(Long, java.sql.Timestamp, Double)].collect().toSeq
    assert(back == exp)
  }

  test("scratchDir is deterministic per source dir and distinct across dirs") {
    val a = TextTables.scratchDir("x", "/data/sf0.1")
    assert(a == TextTables.scratchDir("x", "/data/sf0.1"))
    assert(a != TextTables.scratchDir("x", "/data/sf0.01"))
  }

  test("embedding JSONL round trip is float32-bit-exact including null vector") {
    // adversarial floats: denormal, ulp-separated pair, negative zero,
    // extremes — shortest-repr decimals must re-parse to identical bits
    val vecs = Seq(
      (1L, Seq(0.1f, -0.2f, 1e-40f, 3.4028235e38f)),
      (2L, Seq(1.0000001f, 1.0000002f, -0.0f, 1.1754944e-38f)),
      (3L, null.asInstanceOf[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val back = TextTables.embeddingJsonlRoundTrip(vecs, tmp("emb_rt"))
      .orderBy("vec_id")
      .as[(Long, Option[Seq[Float]])].collect().toSeq
    val exp = vecs.orderBy("vec_id")
      .as[(Long, Option[Seq[Float]])].collect().toSeq
    // compare raw BITS: -0.0f == 0.0f under ==, so value equality is too
    // weak for a losslessness claim
    def bits(r: Seq[(Long, Option[Seq[Float]])]) =
      r.map { case (id, v) =>
        (id, v.map(_.map(java.lang.Float.floatToRawIntBits))) }
    assert(bits(back) == bits(exp))
  }

  test("embedding JSONL corrupt rows degrade to null, never fail the read") {
    val dir = tmp("emb_corrupt")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/dump.jsonl"),
      Seq(
        """{"vec_id": 1, "embedding": [0.5, -0.25]}""",
        """this line is not json at all {{{""",
        """{"vec_id": 3, "embedding": ["abc", 1.0]}""",
        """{"vec_id": 4, "embedding": [0.125]}""",
        """{"vec_id": 5, "embedding": [null, 0.5]}"""
      ).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // wrong-length guard on: vec 4 (dim 1 of 2) nulls too
    val got = TextTables.readEmbeddingJsonl(spark, dir, dim = Some(2))
      .orderBy("vec_id")
      .as[(Option[Long], Option[Seq[Float]])].collect().toSeq
    assert(got.length == 5) // every input line accounted for
    // clean row intact (Spark ASC sorts the malformed row's null id first)
    assert(got.contains((Some(1L), Some(Seq(0.5f, -0.25f)))))
    // the four corrupt shapes (malformed line, non-numeric element,
    // wrong length, EXPLICIT null element — schema-valid, so a
    // size-only guard would let it feed a null dot product) all
    // surface as null vectors
    assert(got.count(_._2.isEmpty) == 4)
    assert(got.count(_._1.isEmpty) == 1) // only the malformed line lost its id
  }
}
