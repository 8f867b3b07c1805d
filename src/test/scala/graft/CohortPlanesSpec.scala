package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins q207's P(U) formula: cohortPlanes(U, B) is the smallest P with
  * 2^P ≥ ⌈U/B⌉, floored at 4. B defaults to 1 — the screen's cost is
  * candidate pairs × series length and random-collision pairs scale as
  * U·T·B/2, so the grid must track U itself, not U/8 (B=8 at sf0.1
  * admitted ~68k random pairs and a 25 s bench row; see the
  * cohortPlanes doc).
  */
class CohortPlanesSpec extends AnyFunSuite {

  test("cohortPlanes pins P(U) = max(4, ceil(log2(U)))") {
    // The harness corpora: 150 users (sf0.01), 1500 (sf0.1), 15000 (10×).
    assert(ForecastQueries.cohortPlanes(150) == 8)
    assert(ForecastQueries.cohortPlanes(1500) == 11)
    assert(ForecastQueries.cohortPlanes(15000) == 14)
    // Exact power-of-two boundaries (the ceil must not off-by-one),
    // including an explicit coarser bucket target.
    assert(ForecastQueries.cohortPlanes(1024) == 10)
    assert(ForecastQueries.cohortPlanes(1025) == 11)
    assert(ForecastQueries.cohortPlanes(128, 8) == 4)  // 128/8 = 16 = 2^4
    assert(ForecastQueries.cohortPlanes(129, 8) == 5)
    assert(ForecastQueries.cohortPlanes(1024, 8) == 7) // 1024/8 = 128 = 2^7
    // Floor: tiny corpora never drop below 4 planes (16 cohorts).
    assert(ForecastQueries.cohortPlanes(1) == 4)
    assert(ForecastQueries.cohortPlanes(16) == 4)
  }

  test("cohortPlanes is monotone in U and keeps buckets bounded") {
    val us = (1L to 200000L by 991L)
    val ps = us.map(u => ForecastQueries.cohortPlanes(u))
    assert(ps == ps.sorted, "P(U) must be non-decreasing")
    // E|cohort| = U / 2^P ≤ 1 for every U past the floor region.
    us.zip(ps).filter(_._1 >= 16).foreach { case (u, p) =>
      assert(u.toDouble / (1L << p) <= 1.0 + 1e-9,
        s"U=$u P=$p leaves E|cohort| > target")
    }
  }

  test("CohortFit keys derived P by dir (dynamic-oracle bridge)") {
    val planes = ForecastQueries.CohortPlaneCounts
    planes.clear()
    try {
      // A primitive fit: a miss is None, never an unboxed 0.
      assert(planes.lookup(Some("/a")).isEmpty && planes.lookup(None).isEmpty)
      planes.put("/a", 5)
      assert(planes.lookup(Some("/a")).contains(5))
      assert(planes.lookup(None).contains(5))
      // Explicit-but-unmatched dir: no single-fit fallback — must miss
      // loudly, not reuse /a's fit.
      assert(planes.lookup(Some("/zz")).isEmpty)
      planes.put("/b", 8)
      assert(planes.lookup(Some("/b")).contains(8))
      assert(planes.lookup(None).isEmpty)
    } finally planes.clear()
  }
}
