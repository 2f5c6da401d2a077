package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  import Stats._

  test("quantile interpolates between the closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(quantile(xs, 0.0) == 1.0)
    assert(quantile(xs, 1.0) == 4.0)
    assert(median(xs) == 2.5)
    assert(math.abs(quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(median(Seq(7.0)) == 7.0)
    assert(median(Seq(5.0, 1.0, 9.0)) == 5.0)
    assertThrows[IllegalArgumentException](median(Nil))
  }

  test("self time subtracts the children's covered interval once") {
    val root = Span(0, -1, "root", 0L, 100L)
    val spans = Seq(root,
      Span(1, 0, "a", 10L, 30L),
      Span(2, 0, "b", 20L, 50L), // overlaps a: covered 10..50
      Span(3, 0, "c", 90L, 120L), // runs past the parent: only 90..100 counts
      Span(4, 1, "grandchild", 12L, 28L)) // not a direct child of root
    assert(selfTimeNs(root, spans) == 100L - 40L - 10L)
    assert(selfTimeNs(spans(1), spans) == 20L - 16L)
    assert(selfTimeNs(spans(2), spans) == 30L)
  }

  test("pair recall and precision on a tiny corpus") {
    // gold: {1,2,3} duplicates, {4,5} duplicates, 6 a singleton
    // detected: {1,2} together, 3 alone, {4,5,6} together
    val rows = Seq(
      (10L, 100L, true), (10L, 100L, true), (11L, 100L, true),
      (20L, 200L, true), (20L, 200L, true), (20L, 300L, false))
    val s = pairScore(rows)
    assert(s.goldPairs == 3 + 1)
    assert(s.foundGoldPairs == 1 + 1)
    assert(s.recall == 0.5)
    assert(s.detectedPairs == 1 + 3)
    assert(s.correctDetectedPairs == 1 + 1)
    assert(s.precision == 0.5)
    val perfect = pairScore(Seq((1L, 1L, true), (1L, 1L, true), (2L, 2L, false)))
    assert(perfect.recall == 1.0 && perfect.precision == 1.0)
    assert(pairScore(Seq((1L, 1L, false))).recall == 1.0) // nothing to find
  }
}
