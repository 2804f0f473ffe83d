package graft

import graft.model.FilterDef
import graft.streaming.{BatchTimer, LogPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

/** Streaming-cadence benchmark (BASELINE.md: "1 s results / 10 s stats
  * triggers sustained without backlog at generator rate", mirroring the
  * reference's writer cadences — results flush 1 s
  * `storm/.../SupervisorResultWriterBolt.java:88-93`, stats flush 10 s
  * `storm/.../SupervisorStatsWriterBolt.java:116-121`; the reference
  * generator caps at 2k lines/s × 6 workers = 12k lines/s,
  * `tools/testing/fake-data-generator/main.go`).
  *
  * Drives a rate-source log-line generator through the full topology —
  * parse → multi-filter fan-out → {1 s parquet results sink, 10 s
  * windowed stats sink} — for `runtimeSec`, recording every trigger's
  * `triggerExecution` duration via a StreamingQueryListener. The gate
  * is cadence, not raw speed: p95 batch duration must stay under the
  * trigger interval (no backlog growth), and the pipeline must absorb
  * ≥ 90% of the generated rows within the run.
  *
  * Emits one JSON object (also merged into Bench's line as `stream_*`
  * keys) so every round's BENCH artifact carries measured streaming
  * numbers, not just StreamingSpec's semantic checks.
  */
object StreamBench {

  final case class Result(
      ratePerSec: Long, runtimeSec: Int,
      resultsBatches: Int, resultsP50: Double, resultsP95: Double,
      resultsMax: Double, warmupMax: Double, statsBatches: Int,
      statsP50: Double, statsP95: Double, statsMax: Double,
      rowsIn: Long, rowsMatched: Long, sustained: Boolean) {
    def json: String =
      f"""{"rate_lines_per_sec":$ratePerSec,"runtime_sec":$runtimeSec,""" +
        f""""results_batches":$resultsBatches,"results_p50_sec":$resultsP50%.3f,""" +
        f""""results_p95_sec":$resultsP95%.3f,"results_max_sec":$resultsMax%.3f,""" +
        f""""results_warmup_max_sec":$warmupMax%.3f,""" +
        f""""stats_batches":$statsBatches,"stats_p50_sec":$statsP50%.3f,""" +
        f""""stats_p95_sec":$statsP95%.3f,"stats_max_sec":$statsMax%.3f,""" +
        f""""rows_in":$rowsIn,"rows_matched":$rowsMatched,"sustained":$sustained}"""
  }

  /** Synthetic log stream at `ratePerSec`: ISO8601-timestamped lines
    * over an 8-service vocabulary, 1-in-10 carrying an error phrase —
    * the fake-data-generator's shape, driven by Spark's rate source so
    * backpressure is the engine's own.
    */
  def generator(spark: SparkSession, ratePerSec: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", ratePerSec.toString)
      .option("numPartitions", "8")
      .load()
      .select(concat(
        date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
        lit(" service-"), col("value") % 8,
        when(col("value") % 10 === 0,
          lit(" error timeout connecting upstream"))
          .when(col("value") % 10 === 5, lit(" warn slow query detected"))
          .otherwise(lit(" ok processed request")),
        lit(" k="), col("value")).as("value"))

  /** The bench registry: word, case-insensitive, regex, and anchor
    * shapes, like the standard fan-out registries.
    */
  val registry: Seq[FilterDef] = Seq(
    FilterDef("f_err", "errors", "error"),
    FilterDef("f_ok", "ok_ci", "(?i)OK"),
    FilterDef("f_re", "warn_or_slow", "(warn|slow)"),
    FilterDef("f_svc", "svc0", "service-0 "))

  def run(spark: SparkSession, ratePerSec: Long = 20000L,
      runtimeSec: Int = 45): Result = {
    val dir = java.nio.file.Files.createTempDirectory("streambench").toString
    // per-query trigger durations, keyed by query id (the results
    // sink names no query)
    val durations = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = Option(p.durationMs.get("triggerExecution"))
          .map(_.toDouble / 1000.0).getOrElse(-1.0)
        if (d >= 0 && p.numInputRows > 0) {
          durations.computeIfAbsent(p.id,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[(Double, Long)]())
            .add((d, p.numInputRows))
        }
      }
    }
    spark.streams.addListener(listener)
    // a 1 s trigger makes the file sink's default metadata-log compact
    // interval (10 batches) fire every 10 SECONDS — each compaction
    // rewrites the whole accumulated log inline in the micro-batch.
    // 120 batches ≈ every 2 minutes is the cadence-appropriate setting.
    // Scoped to this run (captured at query start, restored in the
    // finally below) — streaming queries started later in the shared
    // session must not inherit a bench-tuned value.
    val compactKey = "spark.sql.streaming.fileSink.log.compactInterval"
    val prevCompact = spark.conf.getOption(compactKey)
    spark.conf.set(compactKey, "120")
    // everything through the matched-rows read runs under the tuned
    // conf; the finally restores it on EVERY exit path (a throw
    // anywhere here must not leak interval 120 into the shared session)
    val (rd, sd, warmupMax, rowsIn, rowsMatched) = try {
      val parsed = LogPipeline.parse(generator(spark, ratePerSec))
      val matched = LogPipeline.matches(parsed, registry)
      var results: StreamingQuery = null
      var stats: StreamingQuery = null
      try {
        // the shipped sinks, each in its own FAIR pool: a multi-second
        // stats micro-batch every 10 s otherwise starves the 1 s results
        // cadence — the overlap showed up as a p95 tail (~1.1 s) at
        // 40k+ lines/s
        results = LogPipeline.resultsQuery(matched, s"$dir/results",
          s"$dir/ckpt-results")
        // the stats state is keyed by (filter_id, window) — a handful of
        // live keys, so 32 state-store partitions are pure per-trigger
        // commit overhead; 8 is plenty and frees cores the results
        // query's cadence needs. The conf is captured at query START, so
        // scoping the set/restore here affects only this query.
        val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try stats = LogPipeline.statsQuery(matched, "bench_stats", stepSec = 10)
        finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
        Thread.sleep(runtimeSec * 1000L)
      } finally {
        // stop each query independently, null-safe: if the stats
        // start() itself threw, the already-running results query must
        // still be stopped and the listener removed — otherwise it
        // keeps writing in the shared session Bench continues to use
        def quietStop(q: StreamingQuery): Unit =
          if (q != null)
            try q.stop()
            catch { case e: Throwable =>
              System.err.println(s"[streambench] stop(${q.name}) failed: $e")
            }
        quietStop(results); quietStop(stats)
      }
      def stat(query: StreamingQuery): (Seq[Double], Long) = {
        val q = durations.get(query.id)
        if (q == null) (Seq.empty, 0L)
        else {
          val xs = scala.jdk.CollectionConverters.CollectionHasAsScala(q).asScala.toSeq
          (xs.map(_._1), xs.map(_._2).sum)
        }
      }
      val (rdAll, rRows) = stat(results)
      val (sdAll, _) = stat(stats)
      // The first few results triggers pay one-time costs (whole-stage
      // codegen compile, parquet sink/committer init) that exist at any
      // rate — the reference's Storm workers pay the same JIT ramp
      // before its 1 s flush cadence settles. Cadence is a steady-state
      // property: gate on triggers after the warmup, but publish the
      // warmup max too so the artifact hides nothing. Queue order =
      // listener insertion order (single listener thread), so the first
      // entries ARE the earliest triggers.
      val warmupN = 5
      val rdSteady = if (rdAll.size > warmupN) rdAll.drop(warmupN) else rdAll
      val wMax = if (rdAll.isEmpty) -1.0 else rdAll.take(warmupN).max
      // Count matched rows BEFORE restoring the compact-interval conf:
      // FileStreamSinkLog interprets the sink's metadata log with the
      // CURRENT session conf, so a log written at interval 120 but read
      // back at the default 10 looks for a "*.compact" file that was
      // never due — the read throws and the metric silently zeroes
      // (exactly what the first self-adjudicating bench run published).
      val matchedRows = try {
        spark.read.parquet(s"$dir/results").count()
      } catch { case e: Throwable =>
        System.err.println(s"[streambench] matched-rows read failed: $e")
        0L
      }
      (rdSteady, sdAll, wMax, rRows, matchedRows)
    } finally {
      spark.streams.removeListener(listener)
      prevCompact match {
        case Some(v) => spark.conf.set(compactKey, v)
        case None    => spark.conf.unset(compactKey)
      }
    }
    // the temp output + checkpoint dirs accumulate per bench run
    // otherwise (tens of MB each at 20k lines/s)
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
    } catch { case e: Throwable =>
      System.err.println(s"[streambench] temp dir cleanup failed: $e")
    }
    // Sustained = steady-state cadence held (p95 under each trigger
    // interval) AND the run absorbed ≥90% of the offered rows
    // (rate × runtime minus the first-trigger ramp) — i.e. no backlog
    // accumulated against the generator.
    val offered = ratePerSec * (runtimeSec - 5).max(1)
    val sustained = rd.nonEmpty && sd.nonEmpty &&
      BatchTimer.percentile(rd, 0.95) < 1.0 &&
      BatchTimer.percentile(sd, 0.95) < 10.0 &&
      rowsIn >= (offered * 0.9)
    Result(ratePerSec, runtimeSec,
      rd.size, BatchTimer.percentile(rd, 0.5), BatchTimer.percentile(rd, 0.95),
      if (rd.isEmpty) -1 else rd.max, warmupMax,
      sd.size, BatchTimer.percentile(sd, 0.5), BatchTimer.percentile(sd, 0.95),
      if (sd.isEmpty) -1 else sd.max,
      rowsIn, rowsMatched, sustained)
  }

  /** `graft.StreamBench [rate lines/s] [seconds]`, defaults 20000 and 45. */
  def main(args: Array[String]): Unit = {
    val rate = args.lift(0).fold(20000L)(_.toLong)
    val secs = args.lift(1).fold(45)(_.toInt)
    val spark = GraftSession.builder(GraftSession.defaultCores)
      .appName("graft-streambench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = run(spark, rate, secs)
    println(r.json)
    spark.stop()
  }
}
