package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one fit store: its lookup rule, its reuse rule and its oracle. */
class FitsSpec extends AnyFunSuite {

  private def withDumpDir[A](dir: Option[String])(f: => A): A = {
    val saved = Fits.dumpDir
    Fits.dumpDir = dir
    try f finally Fits.dumpDir = saved
  }

  test("lookup: an explicit dump dir matches exactly, no fallback") {
    // The rule every slot shares; the per-query slots pin it again in
    // their own specs (CohortPlanesSpec, TuningSpec, ArtifactSpec).
    val slot = new Fits.Slot[String]
    slot.put("/a", "fitA")
    assert(slot.lookup(Some("/a")).contains("fitA"))
    assert(slot.lookup(None).contains("fitA"))
    assert(slot.lookup(Some("/zz")).isEmpty,
      "mismatched explicit dir fell back to another dir's fit")
    slot.put("/b", "fitB")
    assert(slot.lookup(Some("/b")).contains("fitB"))
    assert(slot.lookup(None).isEmpty)
  }

  test("fit: reuse reads the stored fit as a hit; otherwise it refits") {
    val slot = new Fits.Slot[String]
    var runs = 0
    def run(): String = { runs += 1; s"fit$runs" }
    val h0 = Fits.hitCount
    // Nothing stored: even a consumer fits, and the fit is stored.
    assert(slot.fit("/d", reuse = true)(run()) == "fit1")
    assert(Fits.hitCount == h0 && runs == 1)
    assert(slot.fit("/d", reuse = true)(run()) == "fit1")
    assert(Fits.hitCount == h0 + 1 && runs == 1)
    // A trajectory query refits, and its fit replaces the stored one.
    assert(slot.fit("/d", reuse = false)(run()) == "fit2")
    assert(Fits.hitCount == h0 + 1 && runs == 2)
    assert(slot.fit("/d", reuse = true)(run()) == "fit2")
    // Another dir has its own fit.
    assert(slot.fit("/e", reuse = true)(run()) == "fit3")
    assert(Fits.hitCount == h0 + 2 && runs == 3)
    // clearAll forgets every slot's fits.
    Fits.clearAll()
    assert(slot.lookup(Some("/d")).isEmpty && slot.lookup(Some("/e")).isEmpty)
    assert(slot.fit("/d", reuse = true)(run()) == "fit4")
  }

  test("oracle: SQL over the dump dir's fit, the loud error row on a miss") {
    val slot = new Fits.Slot[Int]
    val err = "SELECT 'q999 oracle requested before the query ran for this dir' AS err"
    withDumpDir(Some("/a")) {
      assert(slot.oracle("q999")(p => s"SELECT $p") == err)
      slot.put("/a", 7)
      slot.put("/b", 9)
      assert(slot.oracle("q999")(p => s"SELECT $p") == "SELECT 7")
    }
    withDumpDir(Some("/zz"))(assert(slot.oracle("q999")(p => s"SELECT $p") == err))
    // No context: ambiguous across two dirs, so the error row.
    withDumpDir(None)(assert(slot.oracle("q999")(p => s"SELECT $p") == err))
  }
}
