package graft

import org.scalatest.funsuite.AnyFunSuite

/** Probe's driver-gap attribution when Spark jobs overlap. */
class ProbeSpec extends AnyFunSuite {

  test("jobGaps: overlapping jobs count once and never give a negative gap") {
    // (start, duration) ms by start: three overlapping jobs with a fourth
    // nested inside them, an idle stretch, then an overlapping pair
    val jobs = Seq((0L, 100L), (10L, 100L), (20L, 100L), (30L, 10L),
      (300L, 50L), (320L, 100L))
    val (busy, gaps) = Probe.jobGaps(jobs)
    assert(busy == 120L + 120L) // [0, 120) ∪ [300, 420)
    assert(gaps == Seq(0L, 0L, 0L, 0L, 180L, 0L))
    // summed durations (460 ms) would exceed this wall; the union does not
    val wall = 420L
    assert(jobs.map(_._2).sum > wall && busy <= wall)
    assert(gaps.sum == wall - busy)
    // sequential jobs: the gaps are the plain end-to-start deltas
    assert(Probe.jobGaps(Seq((0L, 10L), (15L, 5L), (40L, 1L))) ==
      ((16L, Seq(0L, 5L, 20L))))
    assert(Probe.jobGaps(Nil) == ((0L, Nil)))
  }
}
