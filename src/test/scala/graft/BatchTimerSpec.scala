package graft

import graft.streaming.BatchTimer
import org.scalatest.funsuite.AnyFunSuite

/** The scenario artifact's per-batch recorder: epoch discipline (r13
  * ADVICE — a micro-batch thread still inside timed() when stop()
  * drains must not leak its sample into the NEXT scenario's p95),
  * transparency when disabled, and the note() face.
  */
class BatchTimerSpec extends AnyFunSuite {

  test("disabled: timed is transparent, note records nothing") {
    // never enabled here — timed must just run the body
    var ran = false
    val r = BatchTimer.timed("off") { ran = true; 42 }
    assert(ran && r == 42)
    BatchTimer.note("off", 1.0)
    BatchTimer.start()
    assert(BatchTimer.stop().isEmpty) // nothing leaked in while disabled
  }

  test("samples and notes drain per epoch; a straggler from a stopped epoch never lands in the next one") {
    BatchTimer.start()
    BatchTimer.timed("a") { () }
    BatchTimer.note("a.rounds", 3.0)
    // a thread that captured THIS epoch but finishes after stop():
    // simulate by grabbing the closure now and firing it post-stop
    val latch = new java.util.concurrent.CountDownLatch(1)
    val straggler = new Thread(() => {
      BatchTimer.timed("straggler") { latch.await() }
    })
    straggler.start()
    Thread.sleep(50) // let it enter timed() under the current epoch
    val drained = BatchTimer.stop()
    assert(drained.map(_.kind).sorted == Seq("a", "a.rounds"))
    // the dimensionless note is flagged as a note, the timing is not —
    // the artifact serializer keys off this flag (r14 verdict item 2)
    assert(drained.find(_.kind == "a").exists(!_.isNote))
    assert(drained.find(_.kind == "a.rounds").exists(_.isNote))
    // scenario 2 starts; the straggler completes DURING it
    BatchTimer.start()
    latch.countDown()
    straggler.join()
    BatchTimer.timed("b") { () }
    val second = BatchTimer.stop()
    // the straggler's sample carries the OLD epoch — filtered out
    assert(second.map(_.kind) == Seq("b"),
      s"straggler leaked into the next scenario: $second")
  }

  test("artifact serialization: timed kinds carry p95_sec, notes serialize under a separate notes object") {
    val samples = Seq(
      BatchTimer.Sample("dedup.upsert", 1.25, isNote = false),
      BatchTimer.Sample("dedup.upsert", 0.75, isNote = false),
      BatchTimer.Sample("dedup.labels.uf_pairs", 139.0, isNote = true),
      BatchTimer.Sample("dedup.labels.uf_pairs", 7.0, isNote = true),
      BatchTimer.Sample("dedup.labels.fallback_distributed", 1.0,
        isNote = true))
    val json = Bench.batchesJson(samples)
    // seconds object: only the timed kind, with n + p95_sec
    assert(json.contains(""""dedup.upsert":{"n":2,"p95_sec":1.250"""), json)
    // a note must NEVER render as p95_sec (the r14 artifact published a
    // pair count of 139 as 139.000 seconds)
    assert(!json.contains(""""dedup.labels.uf_pairs":{"n":2,"p95_sec""""),
      json)
    assert(json.contains(""""notes":{"""), json)
    assert(json.contains(
      """"dedup.labels.uf_pairs":{"n":2,"total":146,"max":139}"""), json)
    assert(json.contains(
      """"dedup.labels.fallback_distributed":{"n":1,"total":1,"max":1}"""),
      json)
  }

  test("artifact serialization: no notes → no notes key; empty input → empty object") {
    val json = Bench.batchesJson(
      Seq(BatchTimer.Sample("a", 0.5, isNote = false)))
    assert(!json.contains("notes"), json)
    assert(Bench.batchesJson(Nil) == "{}")
  }

  test("p95 is nearest-rank") {
    assert(BatchTimer.percentile(Nil, 0.95) == -1.0)
    assert(BatchTimer.percentile(Seq(5.0), 0.95) == 5.0)
    val xs = (1 to 100).map(_.toDouble)
    assert(BatchTimer.percentile(xs, 0.95) == 95.0)
    assert(BatchTimer.percentile(xs.reverse, 0.5) == 50.0)
    assert(BatchTimer.percentile(Seq(1.0, 2.0, 3.0), 0.5) == 2.0)
  }
}
