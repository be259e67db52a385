package graft

import org.scalatest.funsuite.AnyFunSuite

class FixtureClockSpec extends AnyFunSuite {

  test("nested brackets accumulate once (outermost only)") {
    FixtureClock.reset()
    val t0 = System.nanoTime()
    FixtureClock.time {
      Thread.sleep(20)
      FixtureClock.time { Thread.sleep(20) } // helper bracketing its own body
    }
    val wall = System.nanoTime() - t0
    val outer = FixtureClock.nanos
    assert(outer >= 40000000L, s"outer bracket must cover both sleeps, got $outer")
    // double counting adds the inner bracket (≥ 20 ms) on top of the
    // outer one, so it always exceeds the wall time around both
    assert(outer <= wall, s"nested bracket double-counted: $outer > wall $wall")
  }

  test("sequential brackets add; reset clears; result passes through") {
    FixtureClock.reset()
    assert(FixtureClock.time { 42 } == 42)
    FixtureClock.time { Thread.sleep(5) }
    FixtureClock.time { Thread.sleep(5) }
    assert(FixtureClock.nanos >= 10000000L)
    FixtureClock.reset()
    assert(FixtureClock.nanos == 0L)
    // a throwing bracket still accounts its time and rethrows
    intercept[RuntimeException](FixtureClock.time {
      Thread.sleep(5); throw new RuntimeException("boom")
    })
    assert(FixtureClock.nanos >= 5000000L)
  }
}
