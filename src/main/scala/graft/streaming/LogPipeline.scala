package graft.streaming

import graft.functions.{BatchConst, LogFunctions}
import graft.ml.{BayesModel, ErrorClassifier}
import graft.model.FilterDef
import graft.operators.{FilterFanout, LangModel}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming wiring of the reference topology (SURVEY.md
  * §3.1): raw lines → parse → multi-filter fan-out → {results sink,
  * windowed stats, online classifier}. Storm's bolts+ticks collapse to
  * concurrent streaming queries with `Trigger.ProcessingTime`; the
  * supervisor's HTTP merge hops collapse to Spark's shuffle.
  *
  * Triggers mirror the reference cadences: results 1 s
  * (`SupervisorResultWriterBolt.java:88-93`), stats 10 s
  * (`SupervisorStatsWriterBolt.java:116-121`), outliers 60 s
  * (`OutlierDetectionBolt.java:184-189`).
  */
object LogPipeline {

  /** Parse stage (reference `ParseBolt.java:49-97`): drop null/empty,
    * trim+truncate to 4096+"..", sniff ISO8601 event time with
    * processing-time fallback. Works on batch and streaming frames.
    */
  def parse(lines: DataFrame, rawCol: String = "value"): DataFrame =
    lines
      .filter(LogFunctions.nonEmptyLine(col(rawCol)))
      .select(
        LogFunctions.normalizeRaw(col(rawCol)).as("_raw"),
        LogFunctions.tsOrNow(col(rawCol)).as("ts"))

  /** Fan-out stage: one (filter_id, ts, _raw) row per matching filter. */
  def matches(parsed: DataFrame, filters: Seq[FilterDef]): DataFrame =
    FilterFanout.explodeMatches(parsed, "_raw", filters)
      .select("filter_id", "ts", "_raw")

  /** Results sink: append matched rows to a parquet table partitioned
    * by `date` alone, with `filter_id` a data column — replaces the
    * reference's name-mangled per-day BigQuery tables
    * (`BigQueryInsertRunnable.java:31-37`). Each write task opens one
    * file per date it saw, so a micro-batch writes at most
    * (write tasks × dates) files, however many filters matched; a
    * `filter_id === x` read selects one filter through a pushed-down
    * data filter. No sort here: the streaming file sink rejects one,
    * so [[compactResults]] clusters closed dates by filter instead.
    * A table that already holds `filter_id=` directories keeps that
    * layout ([[partitionColumns]]). Retention = partition TTL job.
    */
  def resultsQuery(matchedStream: DataFrame, path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    graft.GraftSession.inPool(matchedStream.sparkSession, "stream_results") {
      matchedStream
        .withColumn("date", LogFunctions.dateSuffix(col("ts")))
        .writeStream
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partitionColumns(matchedStream.sparkSession, path): _*)
        .trigger(trigger)
        .outputMode(OutputMode.Append)
        .start()
    }

  /** The directory levels of the results or stats table at `path`:
    * `date`, or `(filter_id, date)` when the root already holds
    * `filter_id=` directories (a table first written in that layout).
    * Writers decide this with one LIST when they start, never per
    * trigger: a restarted sink must keep its table at one depth, or
    * root reads fail on conflicting partition directories. */
  private[graft] def partitionColumns(spark: SparkSession,
      path: String): Seq[String] = {
    val root = new Path(path)
    val legacy =
      try root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(root)
        .exists(st => st.isDirectory && st.getPath.getName.startsWith("filter_id="))
      catch { case _: java.io.FileNotFoundException => false }
    if (legacy) Seq("filter_id", "date") else Seq("date")
  }

  /** Batch append into a results-layout table, rows sorted by
    * `filter_id` within each file, so parquet row-group statistics let
    * a one-filter read skip the other filters' row groups. */
  private def appendResults(rows: DataFrame, parts: Seq[String],
      path: String): Unit =
    rows.sortWithinPartitions((parts :+ "filter_id").distinct.map(col): _*)
      .write.mode("append")
      .partitionBy(parts: _*)
      .parquet(path)

  /** Results sink with a LIVE registry: the filter set is re-read at
    * every micro-batch (the reference's 1 s registry reload,
    * `MatchBolt.java:89-97`), so `registry.create(...)` mid-stream
    * starts matching on the next batch without restarting the query —
    * filters are data, not plan structure. Same layout as
    * [[resultsQuery]]; a replayed batch is written once
    * ([[StreamState.appendOnce]]).
    */
  def dynamicResultsQuery(parsedStream: DataFrame,
      registry: graft.operators.FilterRegistry, path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    parsedStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(dynamicResultsBatch(registry, path,
        partitionColumns(parsedStream.sparkSession, path)) _)
      .start()

  /** [[dynamicResultsQuery]]'s micro-batch writer. */
  private[graft] def dynamicResultsBatch(
      registry: graft.operators.FilterRegistry, path: String,
      parts: Seq[String])(batch: DataFrame, batchId: Long): Unit = {
    val filters = registry.list()
    if (filters.nonEmpty)
      StreamState.appendOnce(batch.sparkSession, path, batchId)(
        appendResults(
          FilterFanout.explodeMatches(batch, "_raw", filters)
            .select("filter_id", "ts", "_raw")
            .withColumn("date", LogFunctions.dateSuffix(col("ts"))),
          parts, _))
  }

  /** Windowed stats aggregation (reference A1-A3 collapsed): tumbling
    * `stepSec` counts per (filter_id, metric=1). Watermark bounds state
    * (the reference has none — it merges additively forever — so we
    * pick a generous 1 h; SURVEY.md §7.4).
    */
  def statsFrame(matchedStream: DataFrame, stepSec: Long = 60,
      watermark: String = "1 hour"): DataFrame =
    matchedStream
      .withWatermark("ts", watermark)
      .groupBy(col("filter_id"),
        window(col("ts"), s"$stepSec seconds").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("filter_id"), lit(1).as("metric"),
        unix_timestamp(col("w.start")).as("bucket"), col("cnt"))

  /** Full-topology stats: metric-1 (match) windowed counts UNION
    * metric-2 (error) counts from the online classifier — the combined
    * series the reference's supervisor accumulates
    * (`RollupStatsBolt` consumes both `match_stats` and `error_stats`,
    * `storm/.../Main.java:118`).
    */
  def combinedStatsFrame(matchedStream: DataFrame, stepSec: Long = 60,
      watermark: String = "1 hour",
      cfg: ErrorClassifier.Config = ErrorClassifier.Config())(
      implicit spark: SparkSession): DataFrame = {
    val matchStats = statsFrame(matchedStream, stepSec, watermark)
    val errorStats = classifierStream(matchedStream, cfg)
      .filter(_.predicted == ErrorClassifier.ErrorCategory)
      .toDF()
      .select(col("filter_id"),
        timestamp_millis(col("ord")).as("ts")) // ord carries epoch ms
      .withWatermark("ts", watermark)
      .groupBy(col("filter_id"),
        window(col("ts"), s"$stepSec seconds").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("filter_id"), lit(2).as("metric"),
        unix_timestamp(col("w.start")).as("bucket"), col("cnt"))
    matchStats.unionByName(errorStats)
  }

  /** Streaming sessionization: gap-merged session windows per key —
    * the streaming face of `Temporal.sessionize` (batch), using
    * Spark's native `session_window` state merge. Watermark bounds the
    * open-session state; sessions emit on close (append mode).
    */
  def sessionFrame(events: DataFrame, keyCol: String, tsCol: String,
      gap: String, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(keyCol),
        unix_millis(col("sw.start")).as("session_start_ms"),
        unix_millis(col("sw.end")).as("session_end_ms"),
        col("n_events"))

  /** Stats sink: update-mode memory table the CLI's `stats` verb reads
    * (reference keeps these in the supervisor's BoltDB).
    */
  def statsQuery(matchedStream: DataFrame, queryName: String,
      stepSec: Long = 60,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    graft.GraftSession.inPool(matchedStream.sparkSession, "stream_stats") {
      statsFrame(matchedStream, stepSec)
        .writeStream
        .format("memory").queryName(queryName)
        .outputMode(OutputMode.Update)
        .trigger(trigger)
        .start()
    }

  /** DURABLE stats sink — the retention-bounded persistence the
    * reference gives its stats series (supervisor BoltDB store +
    * 7-day purge every 5 minutes, `filter_manager.go:519-576`): each
    * update-mode micro-batch of windowed counts is APPENDED to a
    * parquet table in the results layout (`date` directories, rows
    * sorted by `filter_id`; see [[resultsQuery]]), stamped with its
    * micro-batch id; [[readStatsTable]] resolves last-write-wins per
    * (filter_id, metric, bucket). Append-with-stamp instead of
    * partition overwrite because a batch carries only the buckets it
    * UPDATED — overwriting a date partition with just those would
    * drop the date's other buckets. Replayed batches
    * (failure recovery) rewrite identical rows under the same stamp,
    * so the read view is idempotent. Retention: [[expireStats]];
    * long-lived tables also get small-file compaction for free when
    * the purge rewrites survivors.
    */
  def statsSinkQuery(matchedStream: DataFrame, path: String,
      checkpoint: String, stepSec: Long = 60,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    statsFrameSinkQuery(statsFrame(matchedStream, stepSec), path,
      checkpoint, trigger)

  /** [[statsSinkQuery]] over a PRE-BUILT stats stream — feed
    * [[combinedStatsFrame]] here to persist the classifier's metric-2
    * error series alongside the match counts, the full pair the
    * reference's supervisor stores (`RollupStatsBolt` consumes both
    * `match_stats` and `error_stats`). Any update-mode
    * (filter_id, metric, bucket, cnt) stream works.
    */
  def statsFrameSinkQuery(statsStream: DataFrame, path: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    graft.GraftSession.inPool(statsStream.sparkSession, "stream_stats") {
    val parts = partitionColumns(statsStream.sparkSession, path)
    statsStream
      .writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // persist around the emptiness check: isEmpty is its own
        // action, and without the cache it would re-run the stateful
        // micro-batch plan a second time every trigger
        batch.persist()
        try if (!batch.isEmpty)
          appendResults(
            batch
              .withColumn("_b", BatchConst(lit(batchId)))
              .withColumn("date",
                LogFunctions.dateSuffix(timestamp_seconds(col("bucket")))),
            parts, path)
        finally batch.unpersist()
      }
      .start()
    }

  /** Read view of the durable stats table: the LAST write per
    * (filter_id, metric, bucket) is the current count (update-mode
    * batches re-emit a bucket's total whenever it grows). The window
    * partitions by the series key — bounded groups at any table size.
    */
  def readStatsTable(spark: SparkSession, path: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("filter_id", "metric", "bucket")
      .orderBy(col("_b").desc)
    spark.read.parquet(path)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select("filter_id", "metric", "bucket", "cnt")
  }

  /** Tail sink: bounded in-memory table of recent matches with a
    * monotonic per-batch ordinal — the ring-buffer read path
    * (`filter_manager.go:298-346`). The cursor is (batch, ord).
    */
  def tailQuery(matchedStream: DataFrame, queryName: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    matchedStream.writeStream
      .format("memory").queryName(queryName)
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .start()

  /** Outlier sink (S7): run the detection ensemble over each stats
    * micro-batch and append flagged outliers to a parquet table —
    * replaces `OutlierCollectorBolt` → supervisor POST → BoltDB.
    * Trigger mirrors the reference's 60 s cadence
    * (`OutlierDetectionBolt.java:184-189`). A replayed batch is written
    * once ([[StreamState.appendOnce]]).
    */
  def outlierQuery(statsStream: DataFrame, path: String, checkpoint: String,
      cfg: graft.ml.Outliers.Config = graft.ml.Outliers.Config(),
      trigger: Trigger = Trigger.ProcessingTime("60 seconds")): StreamingQuery =
    statsStream.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(outlierBatch(path, cfg) _)
      .start()

  /** [[outlierQuery]]'s micro-batch writer. */
  private[graft] def outlierBatch(path: String,
      cfg: graft.ml.Outliers.Config)(batch: DataFrame, batchId: Long): Unit = {
    implicit val s: SparkSession = batch.sparkSession
    val hits = graft.ml.Outliers.detect(
      batch.select(col("filter_id"), col("bucket"),
        col("cnt").as("count")), cfg)
    if (!hits.isEmpty)
      StreamState.appendOnce(s, path, batchId)(hits.toDF().write.parquet(_))
  }

  /** One date partition of a results or stats table: its directory,
    * its name under the root (`date=…`, or `filter_id=…/date=…` in the
    * legacy layout), and whether the directory and the `.old-date=…`
    * aside a crashed [[compactResults]] swap leaves beside it exist. */
  private final case class DatePart(dir: Path, name: String,
      hasDir: Boolean, hasAside: Boolean) {
    def date: String = dir.getName.stripPrefix("date=")
    def aside: Path = new Path(dir.getParent, s".old-${dir.getName}")
  }

  /** The one directory walk behind [[expireResults]] and
    * [[compactResults]]: every date partition under `root`, at depth 1
    * (the `date` layout) or under each `filter_id=` directory at depth
    * 2 (the legacy layout), a date left only as an aside included. */
  private def dateParts(fs: FileSystem, root: Path): Seq[DatePart] = {
    def level(dir: Path, prefix: String): Seq[DatePart] = {
      val names = fs.listStatus(dir).toSeq
        .collect { case st if st.isDirectory => st.getPath.getName }.toSet
      val dates = names.collect {
        case n if n.startsWith("date=") => n
        case n if n.startsWith(".old-date=") => n.stripPrefix(".old-")
      }
      val here = dates.toSeq.sorted.map(n => DatePart(new Path(dir, n),
        prefix + n, names(n), names(s".old-$n")))
      if (prefix.nonEmpty) here
      else here ++ names.filter(_.startsWith("filter_id=")).toSeq.sorted
        .flatMap(f => level(new Path(dir, f), s"$f/"))
    }
    if (fs.exists(root)) level(root, "") else Nil
  }

  /** Retention job (S6's 168 h table expiry as a partition TTL): drop
    * the `date=yyyy_MM_dd` partitions of a results table older than
    * `retentionDays`, in either layout, with any compaction aside of
    * theirs (so no later crash recovery restores an expired date). Run
    * from a scheduler; the job lists directories and never reads row
    * data. Returns the dropped partitions' names under the root.
    */
  def expireResults(spark: SparkSession, path: String, retentionDays: Int,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] = {
    val cutoff = java.time.Instant.ofEpochMilli(nowMillis)
      .minus(java.time.Duration.ofDays(retentionDays))
    def expired(p: DatePart): Boolean =
      try java.time.LocalDate.parse(p.date.replace('_', '-'))
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.isBefore(cutoff)
      catch { case _: java.time.format.DateTimeParseException => false }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dateParts(fs, root).filter(expired).map { p =>
      // the aside first: a crash after it leaves the partition for the
      // next run to drop, never an aside a compaction would restore
      if (p.hasAside) fs.delete(p.aside, true)
      if (p.hasDir) fs.delete(p.dir, true)
      p.name
    }
  }

  /** Stats-table purge — the twin of [[expireResults]] for the durable
    * stats series (reference: entries older than 7 days dropped every
    * 5 minutes, `supervisor/filter_manager.go:519-576`). The sink
    * writes the results layout (`date=…` partitions, or
    * `filter_id=…/date=…` for a legacy table), so this IS the same
    * partition-TTL walk with the reference's stats retention default.
    */
  def expireStats(spark: SparkSession, path: String, retentionDays: Int = 7,
      nowMillis: Long = System.currentTimeMillis()): Seq[String] =
    expireResults(spark, path, retentionDays, nowMillis)

  /** Small-file compaction for the streaming tables: a 1 s results
    * trigger leaves a few parquet files per micro-batch per date, so
    * a day of streaming is hundreds of thousands of files — the shape
    * that slows every later scan (footer reads) and floods a namenode
    * at cluster scale. The durable STATS sink shares the layout, so
    * this job compacts it too (the `_b` stamp column rides along;
    * last-write-wins reads are unaffected). Rewrites each date
    * partition holding more than `maxFiles` data files into
    * `ceil(bytes / targetFileBytes)` files — a busy date never
    * collapses into one multi-GB file — atomically per partition
    * (write to a sibling temp dir, swap, delete). In the `date` layout
    * the rewrite range-partitions and sorts the rows by `filter_id`,
    * so each output file holds a disjoint, sorted run of filters and a
    * one-filter read skips the rest by parquet row-group statistics;
    * a legacy `filter_id=…/date=…` partition is simply coalesced.
    * CLOSED partitions only, BY DEFAULT: with `skipDate` unset the job
    * skips the CURRENT date's partitions (session timezone) — the ones
    * a live sink is appending to — and additionally any partition
    * holding a file modified within `graceMillis` (default 10 min),
    * which covers a sink still draining into yesterday's partition
    * just after midnight. Pass `skipDate` to pin a different live
    * date; pass `graceMillis = 0` only when no writer can be active
    * (tests, decommissioned tables). Row content is preserved
    * bit-for-bit — only file boundaries and row order change. Returns
    * the rewritten partitions' names under the root.
    *
    * TABLES WITH A FILE-SINK LOG: a live `writeStream.format("parquet")`
    * table carries `_spark_metadata`, and root-path reads resolve the
    * file list from that log — files this job renames would vanish
    * from (or never appear in) such reads. The job therefore SKIPS a
    * logged table unless `dropSinkLog = true`, which retires the log
    * and converts the table to a plain parquet directory (do this only
    * once the sink is stopped; foreachBatch-written tables — the
    * durable stats sink, dynamicResultsQuery — carry no log and
    * compact freely). Retiring first PRUNES data files the log never
    * committed (leftovers of failed micro-batches, which a log-resolved
    * read hides but a plain read would surface as duplicate rows); if
    * the log contains no committed batch at all it is treated as
    * vestigial and only removed. Crash recovery: a `.old-date=…` aside
    * left by a crash mid-swap is restored when its partition is
    * missing, and dropped only when the swapped-in copy exists.
    */
  def compactResults(spark: SparkSession, path: String, maxFiles: Int = 8,
      skipDate: Option[String] = None,
      targetFileBytes: Long = 512L * 1024 * 1024,
      dropSinkLog: Boolean = false,
      graceMillis: Long = 10L * 60 * 1000): Seq[String] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1: $maxFiles")
    require(targetFileBytes > 0,
      s"targetFileBytes must be positive: $targetFileBytes")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val sinkLog = new org.apache.hadoop.fs.Path(root, "_spark_metadata")
    if (fs.exists(sinkLog)) {
      if (!dropSinkLog) {
        System.err.println(s"[compact] $path has a streaming file-sink " +
          "log; root reads resolve files from it, so compaction would " +
          "orphan them. Stop the sink and pass dropSinkLog = true.")
        return Seq.empty
      }
      // Retire the log: first prune data files it never committed —
      // failed/uncommitted micro-batch leftovers that a log-resolved
      // read hides but a plain parquet read would count as rows. An
      // empty manifest (no committed batch) means the data did not
      // come through this log; prune nothing, just drop the dir.
      val committed: Set[String] =
        try {
          import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
          new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
              sinkLog.toString, scala.None)
            .allFiles()
            .map(s => new org.apache.hadoop.fs.Path(
              java.net.URI.create(s.path)).toUri.getPath)
            .toSet
        } catch { case e: Throwable =>
          System.err.println(s"[compact] sink-log read failed ($e); " +
            "treating the log as vestigial — no files pruned")
          Set.empty
        }
      if (committed.nonEmpty) {
        val it = fs.listFiles(root, true)
        while (it.hasNext) {
          val f = it.next()
          val p = f.getPath
          if (p.getName.endsWith(".parquet") &&
              !p.toString.contains("/_spark_metadata/") &&
              !p.toString.contains("/.compact-") &&
              !p.toString.contains("/.old-") &&
              !committed.contains(p.toUri.getPath)) {
            System.err.println(s"[compact] pruning uncommitted $p")
            fs.delete(p, false)
          }
        }
      }
      fs.delete(sinkLog, true)
    }
    val liveDate = skipDate.getOrElse {
      val tz = spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID)
      java.time.LocalDate.now(java.time.ZoneId.of(tz))
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd"))
    }
    val freshCutoff = System.currentTimeMillis() - graceMillis
    dateParts(fs, root).flatMap { p =>
      // crash recovery BEFORE compacting: an aside whose partition is
      // missing holds the only copy — restore it; one whose partition
      // exists is a completed swap's leftover — drop it
      if (p.hasAside) {
        if (p.hasDir) fs.delete(p.aside, true) else fs.rename(p.aside, p.dir)
      }
      if (p.date == liveDate) None
      else {
        val dataFiles = fs.listStatus(p.dir)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val quiesced = dataFiles.isEmpty ||
          dataFiles.map(_.getModificationTime).max < freshCutoff
        if (dataFiles.length <= maxFiles || !quiesced) None
        else {
          val bytes = dataFiles.map(_.getLen).sum
          val nOut = math.max(1L,
            (bytes + targetFileBytes - 1) / targetFileBytes).toInt
          val tmp = new Path(p.dir.getParent, s".compact-${p.dir.getName}")
          val rows = spark.read.parquet(p.dir.toString)
          val clustered =
            if (rows.columns.contains("filter_id"))
              rows.repartitionByRange(nOut, col("filter_id"))
                .sortWithinPartitions("filter_id")
            else rows.coalesce(nOut)
          clustered.write.mode("overwrite").parquet(tmp.toString)
          // swap with no data-loss window: move the original ASIDE
          // (restorable), move the compacted copy in, only then drop
          // the original — a delete-then-rename order would lose the
          // partition if the rename failed in between
          if (!fs.rename(p.dir, p.aside))
            throw new java.io.IOException(
              s"compaction: cannot move ${p.dir} aside")
          if (!fs.rename(tmp, p.dir)) {
            fs.rename(p.aside, p.dir) // restore the original
            throw new java.io.IOException(
              s"compaction: swap failed for ${p.dir}; original restored")
          }
          fs.delete(p.aside, true)
          Some(p.name)
        }
      }
    }
  }

  /** Streaming exact dedup: drop duplicate lines within the watermark
    * horizon (builder brief: dedup as a streaming citizen too). State
    * is bounded by the watermark — expired fingerprints age out.
    */
  def dedupStream(parsed: DataFrame, watermark: String = "1 hour"): DataFrame =
    parsed
      .withColumn("_fp", graft.functions.TextFunctions.fingerprint(col("_raw")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming corpus curation: the batch quality gates applied to the
    * live stream — stateless projections (length, punct/stopword
    * ratios, quality score, language guess are all per-row), so they
    * compose with any trigger/watermark, followed by
    * [[dedupStream]]'s watermark-bounded fingerprint dedup. The same
    * thresholds a batch backfill would use, evaluated on arrival — the
    * "filter at ingest, not after landing" shape that avoids storing
    * 100 TB of spam to delete it later.
    */
  def curateStream(parsed: DataFrame, minQuality: Long = 3000L,
      minChars: Int = 20, lang: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val profiled = parsed
      .withColumn("_q", graft.functions.TextFunctions.qualityScoreScaled(col("_raw")))
      .withColumn("_lang", graft.functions.TextFunctions.langId(col("_raw")))
      .filter(col("_q") >= minQuality && length(col("_raw")) >= minChars)
    val gated = lang.fold(profiled)(l => profiled.filter(col("_lang") === l))
    dedupStream(gated.drop("_q", "_lang"), watermark)
  }

  /** At-ingest LM perplexity gate — [[curateStream]]'s CCNet-grade
    * sibling: rows whose mean micro-nat cost under a trained
    * char-trigram model ([[graft.operators.LangModel]]) exceeds
    * `maxMeanNll` are dropped on arrival, as are rows too short to
    * score (under 3 chars — nothing to attest quality with). One
    * stateless compiled projection (O(1) lookup per trigram), so it
    * composes with any trigger/watermark and costs no state store.
    * Train offline with `lmTrain` + `collectCosts`, ship the bounded
    * (gram → cost) map into the query.
    */
  def lmGateStream(parsed: DataFrame, costs: Map[String, Long],
      oovCost: Long, maxMeanNll: Long, textCol: String = "_raw"): DataFrame = {
    val mean = LangModel.meanNll(
      LangModel.docCost(col(textCol), costs, oovCost), "n_tri")
    parsed.withColumn("_nll", mean)
      .filter(col("_nll").isNotNull && col("_nll") <= maxMeanNll)
      .drop("_nll")
  }

  /** At-ingest LEARNED quality gate — the discriminative sibling of
    * [[lmGateStream]]: rows scoring under `minScoreMicro` on a fitted
    * [[graft.ml.LinearQuality]] model are dropped on arrival. The
    * model rides in as a ≤256-entry weight-map literal inside ONE
    * stateless compiled projection ([[graft.ml.LinearQuality
    * .scoreColumn]] — no join, no aggregation, no state store), so it
    * composes with any trigger/watermark. Fit offline on the curation
    * cluster, ship the model into the query.
    */
  def qualityGateStream(parsed: DataFrame,
      model: graft.ml.LinearQuality.Model, minScoreMicro: Long,
      textCol: String = "_raw"): DataFrame =
    parsed
      .withColumn("_qs", graft.ml.LinearQuality.scoreColumn(col(textCol), model))
      .filter(col("_qs") >= minScoreMicro)
      .drop("_qs")

  /** Online per-filter classifier state for flatMapGroupsWithState. */
  final case class ClassifierEvent(filter_id: String, ts: java.sql.Timestamp, _raw: String)

  /** One group's streaming fold, ARRIVAL order, one-in-one-out: lazily
    * maps the micro-batch slice, committing the advanced state through
    * `commit` per element (Spark persists the last committed value when
    * the returned iterator is exhausted — FlatMapGroupsWithStateExec
    * wraps it in a completion iterator). Arrival order is the
    * reference's semantics (`ErrorClassifierBolt.java:52-101` folds
    * tuples as they arrive); the previous buffer-and-sort-by-ts
    * materialized a dominant filter's whole micro-batch slice per
    * trigger — the executor-OOM shape the batch path was rebuilt to
    * avoid (see `ErrorClassifier.foldSortedPartition`).
    */
  private[graft] def foldArrival(fid: String, rows: Iterator[ClassifierEvent],
      init: ErrorClassifier.State, commit: ErrorClassifier.State => Unit,
      cfg: ErrorClassifier.Config): Iterator[ErrorClassifier.Classified] = {
    var st = init
    rows.map { ev =>
      val (next, predicted) = ErrorClassifier.step(st, ev._raw, cfg)
      st = next
      commit(st)
      ErrorClassifier.Classified(fid, ev.ts.getTime, ev._raw, predicted)
    }
  }

  /** Streaming classifier (reference M1): per-filter Bayes model held
    * in `GroupState`, trained/applied in arrival order within each
    * micro-batch (see [[foldArrival]] — no group buffering). Emits rows
    * predicted as "error" (metric-2 source).
    *
    * NOTE: the Kryo-serialized state shape is `ErrorClassifier.State`;
    * changing that class invalidates existing streaming checkpoints
    * (restore would deserialize old bytes into the new shape) — bump
    * the checkpoint location when the state class changes.
    */
  def classifierStream(matchedStream: DataFrame,
      cfg: ErrorClassifier.Config = ErrorClassifier.Config())(
      implicit spark: SparkSession): Dataset[ErrorClassifier.Classified] = {
    import spark.implicits._
    implicit val stateEnc = Encoders.kryo[ErrorClassifier.State]
    matchedStream.select("filter_id", "ts", "_raw").as[ClassifierEvent]
      .groupByKey(_.filter_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fid: String, rows: Iterator[ClassifierEvent],
            state: GroupState[ErrorClassifier.State]) =>
          foldArrival(fid, rows,
            state.getOption.getOrElse(ErrorClassifier.State.empty(cfg.memoryCapacity)),
            state.update, cfg))
  }
}
