package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import CdcModel.Ev

class CdcModelSpec extends AnyFunSuite {
  test("strict-> checkpoint: a same-second event across a batch boundary is skipped") {
    val b1 = Seq(Ev(1, "c", 100, 1), Ev(2, "c", 100, 2), Ev(1, "u", 101, 3))
    // second 101 ties with b1's last event: ids 3 and 2 there are skipped
    val b2 = Seq(Ev(3, "c", 101, 4), Ev(2, "d", 101, 5), Ev(2, "c", 102, 6),
      Ev(4, "c", 103, 7))
    val b3 = Seq(Ev(1, "d", 104, 8), Ev(4, "u", 104, 9))
    val runs = CdcModel.expect(Seq(b1, b2, b3))
    assert(runs.map(r => (r.applied, r.skipped)) == Seq((3L, 0L), (2L, 2L), (2L, 0L)))
    assert(runs(0).live == Set(1, 2))
    assert(runs(1).live == Set(1, 2, 4), "the skipped delete of id 2 must not apply")
    assert(runs(2).live == Set(2, 4))
    assert(runs(1).appliedEvents.map(_.lsn) == Seq(6L, 7L))
  }

  test("an insert and a delete of a new id in one run leave it current") {
    val runs = CdcModel.expect(Seq(Seq(Ev(7, "c", 10, 1), Ev(7, "d", 11, 2))))
    assert(runs.head.live == Set(7))
  }

  test("event seconds truncate milliseconds toward negative infinity") {
    val op = graft.cdc.CdcFixtures.randomStream(seed = 1, nKeys = 3, nOps = 1).head
    assert(CdcModel.fromOps(Seq(op)).head.tsSec == op.tsMs / 1000)
  }
}
