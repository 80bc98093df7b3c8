package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Streamed face == batch twin, row for row, through the `SparkEntry`
  * query pairs that share one oracle SQL — the unit-test guard for the
  * streaming faces no other spec calls (their only other check is the
  * DuckDB gate).
  */
class StreamedTwinsSpec extends AnyFunSuite with SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  // (streamed query, its batch twin)
  private val twins = Seq(
    "q279_stream_resemblance_probe" -> "q278_resemblance_probe",
    "q184_stream_novelty" -> "q183_novelty",
    "q232_stream_semantic_decon" -> "q228_semantic_decontaminate",
    "q195_stream_transitions" -> "q191_event_transitions",
    "q198_stream_funnel" -> "q189_funnel",
    "q206_stream_rolling_active" -> "q201_rolling_active",
    "q209_stream_cusum" -> "q204_cusum_changepoint",
    "q225_stream_ewma" -> "q220_ewma_smooth",
    "q237_stream_ks_drift" -> "q230_ks_drift")

  twins.foreach { case (streamed, batch) =>
    test(s"$streamed equals its batch twin $batch at sf0.001") {
      assume(new java.io.File(sf).isDirectory, s"fixture $sf not found")
      assert(SparkEntry.oracleSql.get(streamed).exists(
        SparkEntry.oracleSql.get(batch).contains), "twins share one oracle")
      val want = SparkEntry.queries(batch)(spark, sf).collect().toSeq
      val got = SparkEntry.queries(streamed)(spark, sf).collect().toSeq
      assert(want.nonEmpty)
      assert(got == want)
    }
  }
}
