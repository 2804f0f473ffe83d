package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line per run (driver contract).
  *
  * OUTPUT (r17): the full line (per-query map first, aggregates last)
  * prints to stdout AND lands in `SPARK_GRAFT_BENCH_OUT`
  * (default /tmp/graft_bench.json); a SECOND, compact aggregates-only
  * JSON line (≤ 2000 chars, `metric`/`value`/`unit` last) prints LAST,
  * so a consumer that keeps only a 2000-char stdout tail always
  * gets one complete JSON object (16 rounds of
  * `parsed: null` came from the tail starting mid-way through the
  * ~20 KB full line). Methodology, timed actions, query set and scale
  * factor are unchanged.
  *
  * Each query is forced through full evaluation with the noop sink
  * (a bare .count() lets Catalyst collapse projection-only plans to a
  * metadata count, which would under-report real work). A warmup pass
  * over a small query absorbs JVM/codegen startup so per-query numbers
  * measure the plan, not the JIT.
  *
  * Contention model: a single timed pass on a shared box measures the
  * co-tenants as much as the engine (the round-3 artifact recorded a
  * 3.4× slowdown that a re-run on an idle machine showed was load, not
  * the plan). Two defenses:
  *  - every query runs TWICE per attempt and the bench runs TWO full
  *    attempts; the published row is the min over all four passes —
  *    co-tenancy only ever inflates a measurement, so a transient
  *    spike must cover every pass to corrupt the number. This is what
  *    protected every published value since r15;
  *  - one [[Canary]] — a warm q1_agg run against the min-so-far floor
  *    — is read after each sweep group, after the streaming window and
  *    after each scenario. A flagged window re-runs once; a window
  *    still flagged after its re-run marks its attempt (or its
  *    scenario row) `contended`, and a contended chosen attempt
  *    publishes `value_is_upper_bound`. The canary runs the full Spark
  *    stack, so it sees the bandwidth/IO co-tenants that the CPU-only
  *    probes of earlier rounds read as idle (r17: two attempts at
  *    130.8 s and 103.3 s both adjudicated clean by those probes).
  *    `query_sources` names the attempt behind every published row.
  */
object Bench {

  /** Canary verdict: a fixed, warm Spark query (q1_agg — parquet scan
    * + hash aggregate) repeated between sweep groups and scenarios,
    * compared against the run's own floor (the min of every canary
    * seen so far, seeded right after warmup). A CPU-only probe is
    * blind to bandwidth-shaped co-tenancy: a neighbor VM saturating
    * memory bandwidth / LLC inflated real queries up to 4× while a
    * register-resident probe read 1.18×. The canary runs the FULL
    * execution stack — scan, codegen, shuffle, memory traffic — so it
    * inflates with whatever inflates the queries; and because it is
    * the same compiled plan every time, JIT churn does not trip it.
    * 1.5× floor: a warm q1_agg repeats within ±15% on an idle box;
    * the measured bad windows read ≥2×. */
  private[graft] def canaryContended(c: Double, floor: Double): Boolean =
    floor > 0 && c > 0 && c > 1.5 * floor

  /** The one contention signal. `probe` times the canary plan once
    * (seconds, or a negative value when the run failed). The floor is
    * the min of every successful reading so far; it RE-SEEDS after a
    * failed run (r15 ADVICE): a floor stuck at -1 would silently
    * disable [[canaryContended]] for the rest of the run, so any later
    * successful reading becomes the floor, and a failure is loud. */
  private[graft] final class Canary(probe: () => Double) {
    private var floorSec = -1.0
    def floor: Double = floorSec

    /** Take a reading and fold it into the floor; returns the reading
      * and whether it trips against the floor as it stood before. */
    def read(where: String): Canary.Reading = {
      val c = probe()
      val r = Canary.Reading(c, floorSec, canaryContended(c, floorSec))
      if (c > 0) {
        if (floorSec <= 0 || c < floorSec) floorSec = c
      } else System.err.println(s"[bench] canary run FAILED at " +
        f"$where — floor stays $floorSec%.3f")
      r
    }
  }

  private[graft] object Canary {
    final case class Reading(sec: Double, floor: Double, contended: Boolean)

    /** q1_agg's bench form over `sfDir`, best-of-2 like every sweep
      * row. */
    def apply(spark: SparkSession, sfDir: String): Canary = {
      val fn = SparkEntry.benchQueries.getOrElse("q1_agg",
        SparkEntry.queries("q1_agg"))
      new Canary(() => bestOf2(spark, sfDir, fn))
    }
  }

  private type Query =
    (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** One forced evaluation through the noop sink; seconds, or -1 when
    * the query throws. */
  private def noopPass(spark: SparkSession, sfDir: String,
      fn: Query): Double = {
    val t0 = System.nanoTime()
    // Release storage the query left behind (localCheckpoint blocks
    // from the LSH operators) even when it fails: queries are
    // independent, and leaked blocks turn into GC pressure charged
    // to whatever runs next.
    try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } catch { case _: Throwable => -1.0 }
    finally GraftSession.releaseCachedBlocks(spark)
  }

  // Best-of-2: min of two full evaluations. Cold-start cost (codegen,
  // parquet footer reads) is already absorbed by the warmup, so the
  // min measures the plan under the LEAST co-tenant interference of
  // the two passes.
  private def bestOf2(spark: SparkSession, sfDir: String,
      fn: Query): Double = {
    val a = noopPass(spark, sfDir, fn)
    val b = noopPass(spark, sfDir, fn)
    if (a < 0) b else if (b < 0) a else math.min(a, b)
  }

  /** Serialize one scenario's drained [[graft.streaming.BatchTimer]]
    * samples: timed kinds carry `{"n":…,"p95_sec":…}`; dimensionless
    * notes (pair counts, fallback markers) serialize under a separate
    * `"notes"` object as `{"n":…,"total":…,"max":…}` — the r14
    * artifact rendered a pair COUNT of 139 through the seconds shape
    * (`"p95_sec":139.000`) and misled any consumer summing batch p95s
    * (r14 verdict item 2). Spec-pinned in BatchTimerSpec.
    */
  private[graft] def batchesJson(
      samples: Seq[graft.streaming.BatchTimer.Sample]): String = {
    def num(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else f"$v%.3f"
    val (notes, timings) = samples.partition(_.isNote)
    val timedRows = timings.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (kind, xs) =>
        val ds = xs.map(_.value)
        f""""$kind":{"n":${ds.size},"p95_sec":${graft.streaming.BatchTimer.percentile(ds, 0.95)}%.3f}"""
      }
    val noteRows = notes.groupBy(_.kind).toSeq.sortBy(_._1)
      .map { case (kind, xs) =>
        val ds = xs.map(_.value)
        s""""$kind":{"n":${ds.size},"total":${num(ds.sum)},"max":${num(ds.max)}}"""
      }
    val rows = timedRows ++
      (if (noteRows.isEmpty) Nil
       else Seq(s""""notes":${noteRows.mkString("{", ",", "}")}"""))
    rows.mkString("{", ",", "}")
  }

  /** Contended when a sweep group or the streaming window stayed
    * flagged by the canary after its re-run, or the streaming leg
    * failed to sustain cadence.
    */
  final case class Attempt(
      queries: Seq[(String, Double)], fanoutRate: Double,
      writeMbPerSec: Double,
      streamJson: String, streamSustained: Option[Boolean],
      streamContended: Boolean,
      groupsJson: String, groupsContended: Boolean,
      // the canary floor as the attempt ended (min over every reading
      // so far)
      canaryFloor: Double) {
    def total: Double = queries.map(_._2).filter(_ >= 0).sum
    def contended: Boolean =
      groupsContended || streamContended || streamSustained.contains(false)
    def telemetryJson: String =
      f"""{"total":$total%.3f,"contended":$contended,""" +
        f""""groups_contended":$groupsContended,""" +
        f""""stream_contended":$streamContended,""" +
        f""""canary_floor":$canaryFloor%.3f,""" +
        f""""stream_sustained":${streamSustained.map(_.toString).getOrElse("null")}}"""
  }

  /** Streaming leg length: ≥12 triggers of the 10 s stats leg — a p95
    * over 3 samples isn't a p95 (round-6 verdict). */
  private val StreamSecs = 130
  private val StreamRate = 20000L
  /** Full attempts per run — see the contention model above. */
  private val Attempts = 2
  /** The stdout tail (chars) the summary line must fit in. */
  private val TailChars = 2000

  /** The ingest-scenario queries excluded from the latency table (each
    * drives a whole multi-batch choreography — temp-dir builds, sink
    * starts, redeliveries — so in a latency table they would measure
    * trigger scheduling and disk IO, not operator cost). They are
    * timed SEPARATELY in the artifact's `scenarios` section instead:
    * wall seconds plus the per-batch p95 the [[graft.streaming
    * .BatchTimer]] hooks record inside each run (r12 verdict item 2 —
    * the at-ingest story's cost evidence belongs in the driver's
    * artifact, not only in builder-run survey prose).
    */
  private[graft] val scenarioQueries: Set[String] = Set(
    "q_stream_dedup_index", "q_write_shards",
    "q_shard_manifest", "q_dedup_clusters_incr", "q_stream_cms",
    "q_stream_text_index", "q_embed_ivfpq_incr",
    "q_stream_text_index_upd", "q_stream_text_index_del",
    "q_stream_bpe_ids", "q_stream_bpe_del", "q_embed_ivfpq_refit",
    "q_stream_pretrain", "q_stream_pretrain_decon",
    "q_stream_pretrain_near", "q_stream_pretrain_mix",
    "q_stream_pretrain_sem", "q_stream_pretrain_stats",
    "q_pretrain_monitor", "q_embed_ivfpq_del",
    "q_dedup_clusters_del", "q_dedup_clusters_incr_dist")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.defaultCores)
      .appName("graft-bench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def run(fn: Query): Double = bestOf2(spark, sfDir, fn)

    // one canary for the whole run: its floor is the min-so-far over
    // every attempt and the scenario leg
    val canary = Canary(spark, sfDir)

    /** Run a window, then read the canary; a flagged window re-runs
      * once. Returns each run with the reading taken after it — the
      * window stays contended iff the last reading is flagged. */
    def adjudicated[T](where: String)(body: => T): Seq[(T, Canary.Reading)] = {
      val first = body
      val r1 = canary.read(where)
      if (!r1.contended) Seq((first, r1))
      else {
        System.err.println(s"[bench] $where adjudicated CONTENDED " +
          f"(canary ${r1.sec}%.3f vs floor ${r1.floor}%.3f); re-running once")
        val second = body
        Seq((first, r1), (second, canary.read(s"$where retry")))
      }
    }

    def attempt(): Attempt = {
      // Warmup: exercise parquet reader, codegen, shuffle machinery once.
      SparkEntry.queries.get("q1_agg").foreach(noopPass(spark, sfDir, _))
      // a warm canary reading seeds (or lowers) the floor
      canary.read("seed")

      // Streaming cadence (BASELINE.md: 1 s results / 10 s stats without
      // backlog) runs FIRST, right after warmup: measured per-trigger
      // latencies belong to the engine, not to the GC/co-tenant state the
      // 90-query sweep leaves behind (the end of a bench run is its most
      // contended moment).
      val streamRuns = adjudicated("streaming window") {
        try Some(StreamBench.run(spark, StreamRate, StreamSecs))
        catch { case e: Throwable =>
          // a broken streaming path must be diagnosable from the run log,
          // not silently published as streaming:null
          System.err.println(s"[bench] StreamBench failed: $e")
          e.printStackTrace()
          None
        }
      }
      // the re-run (if any) is the window of record unless it failed
      val (stream, streamCanary) = streamRuns.reverse
        .find(_._1.isDefined).getOrElse(streamRuns.last)
      val streamContended = streamRuns.last._2.contended
      // splice the window's canary verdict INTO the streaming JSON
      // object so the artifact carries it beside the p95s it vouches for
      val streamJson = stream.map { r =>
        val base = r.json.trim
        if (!base.endsWith("}")) base
        else base.dropRight(1) +
          f""","canary_sec":${streamCanary.sec}%.3f,""" +
          s""""retried":${streamRuns.size > 1},"contended":$streamContended}"""
      }.getOrElse("null")

      // Scenario queries drive a whole streaming pipeline inside the
      // query body (start real sinks, replay micro-batches, stop) —
      // CORRECTNESS exercises them; in a latency table they would
      // measure trigger scheduling, not operator cost, and drown the
      // total (24 s of sleep-adjacent wait at sf0.1). The streaming
      // leg above is the cadence measurement of record.
      // q_write_shards and q_shard_manifest write real parquet to disk
      // and read it back — right for CORRECTNESS (the artifact is the
      // contract), wrong in a latency table (13.4 s of disk IO ≈ 20%
      // of the r7 total). The write cost is published as
      // write_mb_per_sec below instead.
      // q_dedup_clusters_incr is q_stream_dedup_index's sibling: a
      // three-batch INGEST scenario (per-batch index/label parquet
      // writes + propagation rounds) — scenario cost, not query
      // latency; its operator cost is covered by q_dedup_clusters.
      // q_stream_text_index is q_stream_dedup_index's sibling: a
      // multi-batch ingest scenario (temp-dir appends + compaction),
      // not a query latency; its lookup cost is q_grep_index_lookup's.
      // q_embed_ivfpq_incr is an ingest scenario too (temp-dir build +
      // three appends + retry); its operator costs are covered by
      // q_embed_ivfpq_table (build/query) and the per-batch encode is
      // one pqEncode projection.
      // r12 siblings, same rationale: q_stream_text_index_upd and
      // q_stream_bpe_ids are multi-batch ingest scenarios (operator
      // costs covered by q_grep_index_lookup / q_bpe_ids);
      // q_embed_ivfpq_refit is two full builds + an ingest
      // (q_embed_ivfpq_table times the build/query split);
      // q_stream_pretrain / q_stream_pretrain_decon /
      // q_stream_pretrain_near / q_stream_pretrain_mix are the
      // composed ingest scenarios
      // (q_pretrain_pipeline and each gate query — incl.
      // q_decontaminate_bloom for the decon gate and
      // q_dedup_minhash_lsh for the near-dup gate — time the
      // operators);
      // q_embed_ivfpq_del is the delete/resurrect/compact ingest
      // choreography (the served-query cost is q_embed_ivfpq_table's
      // probe plus one broadcast anti-join on the tiny dead set).
      // q_dedup_clusters_del is q_dedup_clusters_incr's deletion
      // sibling (three-batch ingest + tombstone + label repair); the
      // repair's operator costs are q_dedup_minhash_lsh's banding/
      // verify over the affected members plus q_dedup_clusters'
      // propagation.
      // benchQueries: the three pinned-plane LSH entries time their
      // AUTO-SIZED production configs here; Verify replays the pinned
      // forms (whose plane literals the oracles inline).
      //
      // PER-GROUP adjudication (r14 verdict item 1): a co-tenant window
      // that drains mid-sweep must not hide behind the rest of the
      // sweep — the r14 artifact published q_dedup_winnow at 25.97 s
      // (six-run band 0.81–1.12 s) as its value of record. The sweep
      // runs in groups of 10 with a canary reading after each; a
      // flagged group re-runs once and each row takes its min across
      // both sweeps (every run() is itself best-of-2); a group still
      // flagged after its retry marks the attempt contended.
      val sweep = SparkEntry.benchQueries.toSeq.sortBy(_._1)
        .filterNot(q => scenarioQueries(q._1))
      val resultsBuf =
        scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val groupRows = scala.collection.mutable.ArrayBuffer.empty[String]
      var groupsContended = false
      sweep.grouped(10).foreach { g =>
        val runs = adjudicated(s"query group ${g.head._1}..${g.last._1}") {
          g.map { case (name, fn) => name -> run(fn) }
        }
        val vals = runs.map(_._1).reduce { (first, second) =>
          first.zip(second).map { case ((name, a), (_, b)) =>
            name -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
          }
        }
        val firstContended = runs.head._2.contended
        val residual = runs.last._2.contended
        groupsContended ||= residual
        resultsBuf ++= vals
        groupRows += s"""{"from":"${g.head._1}","to":"${g.last._1}",""" +
          f""""canary_sec":${runs.head._2.sec}%.3f,""" +
          s""""contended":$firstContended,"retried":$firstContended,""" +
          (if (firstContended)
            f""""retry_canary_sec":${runs.last._2.sec}%.3f,"""
           else "") +
          s""""contended_after_retry":$residual}"""
      }
      val results = resultsBuf.toSeq
      val groupsJson = groupRows.mkString("[", ",", "]")

      // Fan-out throughput (BASELINE.md: ≥50k lines/s at sf0.1): lines =
      // the event stream rendered as log text, matched against the
      // standard registry. Best-of-2 after a JIT-absorbing warmup pass.
      // The whole leg is armored: BENCH_r08 died rc=1 because the
      // fixture load here ran OUTSIDE any catch and a regenerated
      // events.parquet poisoned the JVM. A failed leg now records -1
      // and the artifact still publishes.
      val fanoutRate = try {
        import org.apache.spark.sql.functions._
        val lines = graft.sources.Tables.load(spark, sfDir, "events")
          .select(concat_ws(" ", col("event_type"), col("props")).as("_raw"))
        val filters = Seq(
          graft.model.FilterDef("f1", "errors", "error"),
          graft.model.FilterDef("f2", "clickview", "(click|view)"),
          graft.model.FilterDef("f3", "ci", "(?i)PURCHASE"),
          graft.model.FilterDef("f4", "re", "\"k\": [0-9]"))
        val n = lines.count()
        def pass(): Double = {
          val t0 = System.nanoTime()
          graft.operators.FilterFanout.explodeMatches(lines, "_raw", filters)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        pass() // absorb codegen/JIT so the rate measures the operator
        n / math.min(pass(), pass())
      } catch { case e: Throwable =>
        System.err.println(s"[bench] fanout leg failed: $e")
        -1.0
      }

      // Shard-export write throughput (the disk-IO figure q_write_shards
      // used to smear into the latency table): token-balanced parquet
      // export of `documents`, bytes-on-disk over wall time, best of 2.
      val writeMbPerSec = try {
        val docs = graft.sources.Tables.load(spark, sfDir, "documents")
        def pass(): Double = {
          val out = java.nio.file.Files.createTempDirectory("bench_shards")
          val t0 = System.nanoTime()
          graft.operators.Curate.writeShards(docs, "doc_id", "text",
            tokensPerShard = 20000, path = out.toString)
          val sec = (System.nanoTime() - t0) / 1e9
          import scala.jdk.CollectionConverters._
          val files = java.nio.file.Files.walk(out).iterator().asScala.toSeq
          val bytes = files.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum
          files.sortBy(_.toString).reverse
            .foreach(java.nio.file.Files.deleteIfExists(_))
          bytes / 1048576.0 / sec
        }
        math.max(pass(), pass())
      } catch { case e: Throwable =>
        System.err.println(s"[bench] write-shards leg failed: $e")
        -1.0
      }

      Attempt(results, fanoutRate, writeMbPerSec, streamJson,
        stream.map(_.sustained), streamContended,
        groupsJson, groupsContended, canary.floor)
    }

    // Exactly two attempts (r15 verdict item 1): the r15 artifact
    // published 148.8 s from ONE clean-probed attempt against a
    // 110.3–118.1 s same-code six-run band — a mid-grade bandwidth
    // co-tenant can stay under every trip threshold for a whole
    // attempt, and the element-wise-min publication rule only defends
    // when a second attempt EXISTS to lose to.
    val attempts = (1 to Attempts).map { n =>
      val att = attempt()
      System.err.println(s"[bench] attempt $n of $Attempts: " +
        att.telemetryJson)
      att
    }
    def rank(a: Attempt) =
      (if (a.streamSustained.contains(false)) 1 else 0,
        if (a.contended) 1 else 0, a.total)
    // minBy keeps the first of rank ties — earlier attempts win draws
    val (a, chosenIdx0) = attempts.zipWithIndex
      .minBy { case (att, _) => rank(att) }
    val chosenIdx = chosenIdx0 + 1

    // Ingest scenarios: timed once each AFTER the attempts — they are
    // deterministic choreographies whose cost belongs in the artifact
    // but must not multiply with the attempts (a second pass would
    // re-pay ~4 min of choreography for numbers the latency table
    // never reads); totals stay out of `value` so the headline number
    // remains comparable across rounds. Each scenario is followed by
    // a canary reading; a flagged scenario re-runs once and the row of
    // record is the better run (ok > uncontended > lower wall), with
    // both walls published (r13 verdict item 1: a 4× outlier must be
    // adjudicated by the artifact, not asserted to be host noise).
    // The BatchTimer rows inside each scenario carry `n` per kind plus
    // dimensionless notes (propagation rounds, union-find pair
    // counts) so a slow batch is attributable, not guessed at.
    // aggregates for the compact summary line (r17): the scenario
    // leg's chosen walls summed, row count, failures — the per-row
    // detail stays in scenariosJson / the file artifact
    var scenTotal = 0.0
    var scenN = 0
    var scenFailed = 0
    val scenariosJson: String = {
      case class ScenRun(ok: Boolean, wall: Double, byKind: String)
      def runScenario(name: String, fn: Query): ScenRun = {
        graft.streaming.BatchTimer.start()
        val t0 = System.nanoTime()
        val ok =
          try {
            fn(spark, sfDir).write.format("noop")
              .mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] scenario $name failed: $e")
            false
          } finally GraftSession.releaseCachedBlocks(spark)
        val wall = (System.nanoTime() - t0) / 1e9
        ScenRun(ok, wall, batchesJson(graft.streaming.BatchTimer.stop()))
      }
      var anyContended = false
      val rows = SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => scenarioQueries(q._1))
        .map { case (name, fn) =>
          val runs = adjudicated(s"scenario $name")(runScenario(name, fn))
          // ok beats failed, uncontended beats contended, then wall
          val (chosen, reading) = runs.minBy { case (s, r) =>
            (if (s.ok) 0 else 1, if (r.contended) 1 else 0, s.wall)
          }
          anyContended ||= reading.contended
          if (chosen.ok) { scenTotal += chosen.wall; scenN += 1 }
          else scenFailed += 1
          val wallAttempts =
            runs.map(r => f"${r._1.wall}%.3f").mkString("[", ",", "]")
          f""""$name":{"wall_sec":${if (chosen.ok) chosen.wall else -1.0}%.3f,""" +
            f""""contended":${reading.contended},""" +
            f""""wall_attempts":$wallAttempts,""" +
            f""""canary_sec":${reading.sec}%.3f,""" +
            f""""batches":${chosen.byKind}}"""
        }
      s""""scenarios":${rows.mkString("{", ",", "}")},""" +
        f""""scenarios_contended":$anyContended"""
    }

    // (r17, verdict item 5) One x10 scaling leg: time a fixed set of
    // corpus-driven declared queries on a seeded 10× replica
    // (ScaleProbe — similarity structure preserved, so operator cost
    // scales like the data, and replicas are mutually dissimilar so
    // pair counts scale 10× not 100×), once, AFTER adjudication. At
    // sf0.1 every sweep row is fixed-overhead bound (8 cores ≈ 32
    // cores on most rows — r16 verdict item 3: the scaling evidence
    // was void), so per-query parallelism is only measurable at a SF
    // where work dominates scheduling. The driver benches at 32 AND 8
    // cores; the sec@8/sec@32 ratio of THESE rows is the published
    // parallelism evidence. Values stay out of `value` (the scenario-
    // leg precedent) and ride both the full artifact and the compact
    // summary line. The replica is generated into a temp dir and
    // deleted — never a cross-run cache.
    val scalingX10Queries = Seq(
      "q_embed_ivfpq", "q_dedup_canonical", "q_hh_dyadic",
      "q_embed_pq_codes", "q_jaccard_join", "q_dedup_spans",
      "q_quality_classifier", "q_bpe_deep", "q_quality_gate",
      "q_ccnet_buckets", "q_kn_quality", "q_lm_quality")
    val scalingJson: String = {
      val x10 = java.nio.file.Files.createTempDirectory("bench_x10")
        .toString
      try {
        // the whole leg is best-effort: a replica-generation failure
        // (disk space, a fixture quirk) must cost the scaling block,
        // never the bench lines consumers parse
        graft.tools.ScaleProbe.generate(spark, sfDir, x10)
        val rows = scalingX10Queries.map { name =>
          val fn = SparkEntry.benchQueries.getOrElse(name,
            SparkEntry.queries(name))
          val t0 = System.nanoTime()
          val sec =
            try {
              fn(spark, x10).write.format("noop")
                .mode("overwrite").save()
              (System.nanoTime() - t0) / 1e9
            } catch { case e: Throwable =>
              System.err.println(
                s"[bench] x10 scaling row $name failed: $e")
              -1.0
            } finally GraftSession.releaseCachedBlocks(spark)
          "\"" + name + "\":" + f"$sec%.3f"
        }
        rows.mkString(""""scaling_x10":{""", ",", "}")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] x10 scaling leg failed: $e")
        """"scaling_x10":null"""
      } finally {
        import scala.jdk.CollectionConverters._
        try java.nio.file.Files.walk(java.nio.file.Paths.get(x10))
          .sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(java.nio.file.Files.deleteIfExists(_))
        catch { case _: Throwable => () }
      }
    }

    // The PUBLISHED per-query table is the element-wise MIN across
    // every attempt (failed rows, -1, excluded from the min):
    // co-tenancy only ever INFLATES a measurement, so the min over
    // attempts is the tightest upper bound on the plan's true cost the
    // run can justify — a mid-grade bandwidth co-tenant that slips
    // under the canary's trip in one attempt still loses to any
    // cleaner attempt's reading.
    // Each attempt's own total stays in `attempts` for audit;
    // `attempt_chosen` still names the attempt whose telemetry and
    // throughput legs the artifact publishes.
    // Per-row provenance (r15 ADVICE): each published row also names
    // the 1-based attempt that supplied its min (`query_sources`) and
    // the artifact counts how many rows came from an attempt whose
    // own adjudication was contended — sound under the
    // contention-only-inflates model, but an audit must be able to
    // tie every published number back to the telemetry that vouches
    // for it.
    val minQueries: Seq[(String, Double, Int)] = {
      val names = a.queries.map(_._1)
      val byAttempt = attempts.map(_.queries.toMap)
      names.map { n =>
        val vs = byAttempt.zipWithIndex
          .flatMap { case (m, i) => m.get(n).filter(_ >= 0).map((_, i + 1)) }
        if (vs.isEmpty) (n, -1.0, -1)
        else { val (v, i) = vs.minBy(_._1); (n, v, i) }
      }
    }
    val qs = minQueries.map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val querySources = minQueries
      .map { case (k, _, i) => "\"" + k + "\":" + i }
      .mkString("{", ",", "}")
    val rowsFromContended = minQueries.count { case (_, _, i) =>
      i >= 1 && attempts(i - 1).contended
    }
    val total = minQueries.map(_._2).filter(_ >= 0).sum
    // Throughput legs publish the MAX across attempts by the same
    // argument in reverse: contention only ever DEFLATES a rate.
    val fanoutBest = attempts.map(_.fanoutRate).max
    val writeBest = attempts.map(_.writeMbPerSec).max
    // the HONORED core count (r16 verdict item 2: the 8-core run's
    // artifact claimed "cores":32 because this published the host's
    // processor count instead of the master's)
    val cores = GraftSession.defaultCores
    val attemptsJson = attempts.map(_.telemetryJson).mkString("[", ",", "]")
    // Key order is deliberate: per-query map FIRST, aggregates + verdict
    // LAST. The round driver captures a bounded TAIL of stdout (BENCH_r06
    // lost 28 per-query numbers from the head; BENCH_r07 lost the
    // aggregates because they led the line) — with totals at the end, a
    // tail-scrape always keeps the headline numbers, and the file
    // artifact below keeps everything regardless.
    val line = f"""{"queries":$qs,"query_sources":$querySources,"rows_from_contended_attempts":$rowsFromContended,"query_groups":${a.groupsJson},"fanout_lines_per_sec":$fanoutBest%.0f,"write_mb_per_sec":$writeBest%.1f,"streaming":${a.streamJson},$scenariosJson,$scalingJson,"sf":"$sfDir","cores":$cores,"attempts":$attemptsJson,"attempt_chosen":$chosenIdx,"contended":${a.contended},"value_is_upper_bound":${a.contended},"value_source":"per_query_min_across_${attempts.size}_attempts","metric":"total","value":$total%.3f,"unit":"sec"}"""
    println(line)
    // Also write the complete artifact to a file: the round driver's
    // stdout tail-scrape truncated 28 of 90 per-query numbers in
    // BENCH_r06 — a file the driver (or a human) picks up can't lose
    // the head of the line.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] full artifact written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write to $outPath failed: $e")
    }
    // (r17, verdict item 1) A SECOND, compact summary line, printed
    // LAST: the round driver keeps a bounded (2000-char) tail of
    // stdout, and the full line above is ~20 KB — in all 16 prior
    // rounds the tail began mid-line and the driver's `parsed` landed
    // null. This line is aggregates-only (no per-query map, no
    // attempts array), with metric/value/unit LAST so even a tail that
    // cuts into it keeps the headline. The per-query table is NOT
    // lost — it stays in the full line above and in the $outPath
    // artifact.
    val attemptTotals = attempts.map(t => f"${t.total}%.3f")
      .mkString("[", ",", "]")
    val attemptContended = attempts.map(_.contended)
      .mkString("[", ",", "]")
    def summaryLine(streamJson: String, scaling: String): String =
      f"""{"sf":"$sfDir","cores":$cores,"n_queries":${minQueries.size},""" +
        f""""n_failed":${minQueries.count(_._2 < 0)},""" +
        f""""contended":${a.contended},""" +
        f""""value_is_upper_bound":${a.contended},""" +
        f""""value_source":"per_query_min_across_${attempts.size}_attempts",""" +
        f""""attempt_chosen":$chosenIdx,""" +
        f""""attempt_totals":$attemptTotals,""" +
        f""""attempts_contended":$attemptContended,""" +
        f""""rows_from_contended_attempts":$rowsFromContended,""" +
        f""""fanout_lines_per_sec":$fanoutBest%.0f,""" +
        f""""write_mb_per_sec":$writeBest%.1f,""" +
        f""""streaming":$streamJson,""" +
        f""""scenarios_total_sec":$scenTotal%.3f,""" +
        f""""scenarios_n":$scenN,"scenarios_failed":$scenFailed,""" +
        f"""$scaling,""" +
        f""""full_artifact":"$outPath",""" +
        f""""metric":"total","value":$total%.3f,"unit":"sec"}"""
    // the variable-size blocks (streaming, x10 rows) are the only ones
    // that can push the line past the tail; both stay in the full line
    val summary = {
      val full = summaryLine(a.streamJson, scalingJson)
      if (full.length <= TailChars) full
      else {
        System.err.println(s"[bench] summary line is ${full.length} " +
          s"chars (> $TailChars); dropping its streaming and x10 blocks")
        summaryLine("null", """"scaling_x10":null""")
      }
    }
    println(summary)
    spark.stop()
  }
}
