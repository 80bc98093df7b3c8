package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("median of odd and even sample counts") {
    assert(median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 40).map(_.toDouble).reverse
    assert(tail(xs) == Some((75.0, 30.0)))
    assert(xs.count(_ > 30.0) == TailMinBeyond)
    assert(tail((1 to 20).map(_.toDouble)) == Some((50.0, 10.0)))
    assert(tail((1 to 100).map(_.toDouble)) == Some((90.0, 90.0)))
  }

  test("tail needs more than ten samples") {
    assert(tail((1 to 10).map(_.toDouble)).isEmpty)
    val Some((p, v)) = tail((1 to 11).map(_.toDouble))
    assert(v == 1.0 && math.abs(p - 100.0 / 11) < 1e-9)
  }

  test("tail counts ties beyond it by position") {
    val xs = Seq.fill(15)(5.0) ++ Seq.fill(10)(9.0)
    assert(tail(xs) == Some((60.0, 5.0)))
  }

  test("self time subtracts directly nested spans only") {
    val spans = Seq(
      Span("a", 0, 100), Span("b", 10, 40), Span("d", 20, 30),
      Span("c", 50, 60), Span("e", 100, 120))
    assert(selfTimes(spans) == Map("a" -> 60, "b" -> 20, "c" -> 10, "d" -> 10, "e" -> 20))
    assert(selfTimes(spans).values.sum == 120)
  }

  test("self time sums spans of one name and ignores input order") {
    val spans = Seq(Span("x", 30, 40), Span("x", 0, 10), Span("y", 0, 50))
    assert(selfTimes(spans) == Map("x" -> 20, "y" -> 30))
  }

  test("self time rejects spans that overlap without nesting") {
    intercept[IllegalArgumentException](selfTimes(Seq(Span("a", 0, 10), Span("b", 5, 15))))
  }

  test("union length merges overlaps and clips to the window") {
    assert(unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25)
    assert(unionLength(Seq((0L, 10L), (2L, 4L)), 0, 100) == 10)
    assert(unionLength(Seq((-5L, 5L), (95L, 120L)), 0, 100) == 10)
    assert(unionLength(Seq((10L, 10L), (200L, 300L)), 0, 100) == 0)
    assert(unionLength(Nil, 0, 100) == 0)
  }

  test("driver gap is the op wall not covered by any job") {
    assert(driverGap(Seq((10L, 30L), (20L, 40L), (60L, 70L)), 0, 100) == 60)
    assert(driverGap(Nil, 0, 100) == 100)
    assert(driverGap(Seq((0L, 100L)), 0, 100) == 0)
  }
}
