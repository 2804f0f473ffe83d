package perfbench

import org.apache.spark.sql.SparkSession

/** What a workload reports: operation counts, end-to-end metrics
  * (untraced), per-layer metrics (traced runs only) and notes printed
  * on the details line. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    notes: Map[String, String])

/** Per-run context shared by the workloads. `stateDir`, when given,
  * outlives the run: it holds what a later run of the same build
  * compares against. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val seconds: Double, val trace: Trace, val workDir: java.nio.file.Path,
    val stateDir: Option[java.nio.file.Path] = None) {

  def dir(name: String): String = workDir.resolve(name).toString

  /** Phase marks (seconds since JVM start), printed on the details line. */
  private val marks = scala.collection.mutable.ArrayBuffer.empty[String]
  def mark(name: String): Unit =
    marks += f"$name@${(System.currentTimeMillis() - Io.jvmStartMs) / 1000.0}%.1f"
  def timeline: String = marks.mkString(",")

  private val setupMs = scala.collection.mutable.ArrayBuffer.empty[Double]

  /** Run the workload's set-up `SetupReps` times and keep the last
    * result; `setup_s` reports the median repetition. */
  def repeatedSetup[T](body: => T): T = {
    var out: T = null.asInstanceOf[T]
    (1 to Ctx.SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      out = trace.span("setup")(body)
      setupMs += (System.nanoTime() - t0) / 1e6
    }
    checkpointHeap()
    mark("setup")
    out
  }
  def setupMedianS: Double = if (setupMs.isEmpty) 0.0 else Stats.median(setupMs.toSeq) / 1000

  /** Set-up that runs once (warm-ups); it counts in `setup_s` whole. */
  def onceSetup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try trace.span("setup.once")(body) finally addOnceSetupMs((System.nanoTime() - t0) / 1e6)
  }
  def addOnceSetupMs(ms: Double): Unit = onceMs += ms
  private var onceMs = 0.0
  def setupOnceS: Double = onceMs / 1000

  /** Sample old-generation occupancy after a full GC; called only
    * between timed phases. */
  def checkpointHeap(): Unit = heapSamples += Io.oldGenAfterGcMb()
  private val heapSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
  def heapPeakMb: Double = heapSamples.maxOption.getOrElse(0.0)
  def heapTrail: String = heapSamples.map(m => f"$m%.0f").mkString("/")

  private var probesOpt: Option[Probes] = None
  def probes(): Probes = probesOpt.getOrElse {
    val p = new Probes(spark); probesOpt = Some(p); p
  }
}

object Ctx { val SetupReps = 3 }

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  * Prints a details line, then one JSON result line. */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "live_tail" -> LiveTail.run,
    "console" -> ConsoleBench.run,
    "pretrain_ingest" -> PretrainIngest.run)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv.getOrElse("workload", sys.error("--workload required"))
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = kv.getOrElse("seed", "1").toLong
    val seconds = kv.getOrElse("seconds", "10").toDouble
    val traced = kv.getOrElse("trace", "0") == "1"
    val workDir = java.nio.file.Paths.get(kv.getOrElse("workdir", "perfbench-work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - Io.jvmStartMs) / 1000.0
    val trace = new Trace(traced)
    val stateDir = kv.get("statedir").map(java.nio.file.Paths.get(_).toAbsolutePath)
    val ctx = new Ctx(spark, cores, seed, seconds, trace, workDir, stateDir)
    ctx.mark("session")
    val out = try run(ctx) finally {
      spark.streams.active.foreach(_.stop())
    }
    ctx.checkpointHeap()
    ctx.mark("end")
    if (traced) trace.writeTo(java.nio.file.Paths.get(kv.getOrElse("tracedir", workDir.toString))
      .resolve(s"trace-$workload-$seed.jsonl"))
    val e2e = out.e2e ++ Map(
      "setup_s" -> (sessionS + ctx.setupMedianS + ctx.setupOnceS),
      "heap_peak_mb" -> ctx.heapPeakMb)
    val details = out.notes ++ Map("workload" -> workload, "seed" -> seed.toString,
      "cores" -> cores.toString, "session_start_s" -> f"$sessionS%.3f",
      "setup_rep_median_s" -> f"${ctx.setupMedianS}%.3f",
      "setup_once_s" -> f"${ctx.setupOnceS}%.3f", "heap_mb_trail" -> ctx.heapTrail,
      "timeline" -> ctx.timeline) ++
      e2e.map { case (k, v) => s"e2e.$k" -> v.toString }
    println("[perfbench] " + details.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    val unknown = out.layers.keySet -- Layers.Names
    require(unknown.isEmpty, s"per-layer metrics missing from Layers.Names: $unknown")
    val metrics = if (traced) Layers.Names.map(k => k -> out.layers.getOrElse(k, 0.0)).toMap else e2e
    val units = if (traced) Units.layer _ else Units.e2e _
    val correct = out.failed == 0
    val body = metrics.toSeq.sorted.map { case (k, v) =>
      s""""$k": {"value": ${num(v)}, "unit": "${units(k)}"}"""
    }.mkString(", ")
    spark.stop()
    println(s"""{"correct": $correct, "attempted": ${out.attempted}, "failed": ${out.failed}, "metrics": {$body}}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** The per-layer metrics every traced run reports, in BENCHMARK.json's
  * order; a layer the workload does not exercise reads 0. */
object Layers {
  val Names: Seq[String] = Seq(
    // streaming: LogPipeline.resultsQuery / statsSinkQuery (live_tail)
    "streaming.trigger_ms_p50", "streaming.add_batch_ms_p50",
    "streaming.planning_ms_p50", "streaming.wal_commit_ms_p50",
    "streaming.latest_offset_ms_p50", "streaming.sink_files_per_trigger",
    "streaming.trigger_ms_max", "streaming.stats_trigger_ms_p50",
    "streaming.state_commit_ms_p50", "streaming.state_rows",
    "streaming.backlog_rows_max", "streaming.generator_lag_ms_max",
    "functions.parse_self_s_per_mline", "operators.fanout_self_s_per_mline",
    "operators.fanout_rows_out_per_line", "streaming.sink_self_s_per_mline",
    "streaming.capacity_1core_lines_per_s",
    // queries, plans, sources (console)
    "queries.parse_ms_p50", "queries.compile_ms_p50", "plans.optimize_ms_p50",
    "queries.exec_ms_p50", "queries.driver_share",
    "sources.bytes_read_per_query", "sources.files_read_per_query",
    "sources.rows_examined_per_row_returned", "plans.exchanges_per_query",
    "plans.codegen_fallback_per_query", "spark.jobs_per_query",
    // streaming state, ml and operators gates (pretrain_ingest)
    "streaming.ingest_jobs_per_batch", "streaming.ingest_fs_read_ops_per_batch",
    "streaming.ingest_fs_write_ops_per_batch", "streaming.ingest_files_written_per_batch",
    "streaming.ingest_bytes_written_per_input_byte", "streaming.state_bytes",
    "ml.quality_gate_self_s_per_kdoc", "operators.kn_gate_self_s_per_kdoc",
    "operators.bpe_encode_self_s_per_kdoc", "streaming.neardup_upsert_s_per_batch",
    "streaming.keep_ratio", "streaming.near_dup_drop_ratio",
    "streaming.forget_fs_write_ops", "streaming.kept_read_jobs", "plans.kept_read_joins",
    // engine, every workload
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
    // the traced run's own end-to-end figures: minus the untraced
    // runs' medians, they are the tracing overhead
    "trace.lat_p50_s", "trace.rate_per_s")
}

object Units {
  def e2e(k: String): String = k match {
    case "heap_peak_mb" => "MB"
    case "rate_per_s" => "1/s"
    case _ => "s"
  }
  def layer(k: String): String = k match {
    case x if x.endsWith("_ms_p50") || x.endsWith("_ms_max") => "ms"
    case x if x.endsWith("_s_per_mline") => "s/Mline"
    case x if x.endsWith("_s_per_kdoc") => "s/kdoc"
    case x if x.endsWith("_per_s") => "1/s"
    case x if x.endsWith("_s_per_batch") || x.endsWith("_s") => "s"
    case x if x.endsWith("_mb") => "MB"
    case x if x.endsWith("_share") || x.endsWith("_ratio") || x.endsWith("_per_input_byte") => "ratio"
    case x if x.endsWith("_bytes") || x.contains(".bytes_") => "bytes"
    case _ => "count"
  }
}
