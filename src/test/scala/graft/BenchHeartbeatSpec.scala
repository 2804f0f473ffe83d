package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's contention signal: the Spark canary. A fixed warm plan is
  * read after every bench window and compared against the run's
  * min-so-far floor; these tests pin the trip predicate's boundaries
  * and the floor's re-seed after a failed run.
  */
class BenchHeartbeatSpec extends AnyFunSuite {

  test("canaryContended: trips past 1.5x the attempt floor; silent without a floor or a reading") {
    // a fixed warm plan repeated between groups, sensitive to the
    // bandwidth/LLC co-tenancy a register-resident serial probe cannot
    // see (measured: queries inflated 4x while a CPU probe read 1.18x)
    assert(!Bench.canaryContended(c = 0.52, floor = 0.35))
    assert(Bench.canaryContended(c = 0.53, floor = 0.35))
    assert(!Bench.canaryContended(c = 0.30, floor = 0.35)) // faster is fine
    assert(!Bench.canaryContended(c = 0.53, floor = -1.0)) // no floor yet
    assert(!Bench.canaryContended(c = -1.0, floor = 0.35)) // failed canary
  }

  test("a failed seed run does not disable the Canary floor") {
    val readings = Iterator(-1.0, 0.40, 0.90, -1.0, 0.45, 0.30)
    val canary = new Bench.Canary(() => readings.next())
    // the seed fails: no floor, nothing can trip yet
    assert(!canary.read("seed").contended)
    assert(canary.floor == -1.0)
    // the first successful reading re-seeds the floor
    assert(!canary.read("group 1").contended)
    assert(canary.floor == 0.40)
    // so a later inflated reading is still caught
    val hot = canary.read("group 2")
    assert(hot.contended && hot.floor == 0.40)
    // a failure mid-run keeps the floor; readings fold min-so-far
    assert(!canary.read("group 3").contended)
    assert(canary.floor == 0.40)
    assert(!canary.read("group 4").contended)
    assert(canary.floor == 0.40)
    assert(!canary.read("group 5").contended)
    assert(canary.floor == 0.30)
  }
}
