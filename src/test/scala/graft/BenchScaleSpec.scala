package graft

import org.scalatest.funsuite.AnyFunSuite

/** The per-output-row ratio behind BenchScale's `answer` gate. */
class BenchScaleSpec extends AnyFunSuite {

  test("perRowRatio: (c10/r10)/(c1/r1) as the CPU ratio times r1/r10") {
    // 12x the CPU for 10x the rows: 1.2x the CPU per row
    assert(BenchScale.perRowRatio(12.0, 100L, 1000L).exists(r => math.abs(r - 1.2) < 1e-12))
  }

  test("perRowRatio: an empty x1 or x10 output has no ratio, so the gate cannot pass") {
    assert(BenchScale.perRowRatio(12.0, 0L, 1000L).isEmpty)
    assert(BenchScale.perRowRatio(12.0, 100L, 0L).isEmpty)
    assert(!BenchScale.perRowRatio(12.0, 0L, 1000L).exists(_ <= 1.6))
  }
}
