package graft.ext

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The `+ 2` ulp slack of [[Dedup.rarestFirstPrefix]] at its boundary.
  *
  * At `tau = 0.9` a 30-shingle part contained in its host at EXACTLY 0.9
  * (27 of 30) has an exact prefix bound of `floor(0.1 * 30) + 1 = 4`, but
  * `(1.0 - 0.9) * 30` is 2.999…96 in double, so `floor(...) + 1` keeps 3.
  * The fixture makes the part's three rarest shingles the three its host
  * lacks: a prefix one token short of the exact bound holds no shared
  * shingle and the pair is lost, in the open join and in the probe alike.
  */
class PrefixBoundarySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val shared = (1 to 27).map(i => f"s$i%02d")
  // in the part only: df 1 in the self-join, absent from the standing
  // corpus in the probe — either way they sort first
  private val partOnly = Seq("pa", "pb", "pc")
  private val hostOnly = (1 to 10).map(i => f"h$i%02d")
  private val part = (1L, (partOnly ++ shared).mkString(" "))
  private val host = (2L, (shared ++ hostOnly).mkString(" "))
  private val other = (3L, "unrelated words that share nothing with either")

  test("containmentPairs keeps a pair contained at exactly tau = 0.9") {
    val got = Dedup.containmentPairs(Seq(part, host, other).toDF("doc_id", "text"),
        "doc_id", "text", tau = 0.9, shingleK = 1)
      .select("id_part", "id_whole", "sz_part", "overlap", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 30L, 27L, 0.9)))
  }

  test("containmentProbe keeps a pair contained at exactly tau = 0.9") {
    val state = Dedup.containmentState(Seq(host, other).toDF("doc_id", "text"),
      "doc_id", "text", shingleK = 1)
    val got = Dedup.containmentProbe(Seq(part).toDF("doc_id", "text"), state,
        "doc_id", "text", tau = 0.9)
      .select("id_in", "id_host", "sz_in", "overlap", "containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 30L, 27L, 0.9)))
  }
}
