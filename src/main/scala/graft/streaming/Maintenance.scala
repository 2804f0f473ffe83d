package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One-call upkeep for a pipeline root — the Spark face of the
  * reference's background maintenance loop (7-day purge every 5
  * minutes, `supervisor/filter_manager.go:519-576`), plus the
  * small-file compaction a 1 s parquet sink makes necessary at scale.
  *
  * Conventions: `root/results` is the streaming results table,
  * `root/stats` the durable stats table (both `date=…` partitioned,
  * or `filter_id=…/date=…` when first written in the legacy layout). Either may be absent — each step no-ops on a missing
  * table. Order matters: TTL first (don't compact bytes about to be
  * deleted), then compaction of the surviving closed partitions. A
  * results table still carrying a `_spark_metadata` sink log skips
  * BOTH steps unless `retireResultsSink = true` — the log owns the
  * file set, so a TTL delete would orphan committed entries just like
  * compaction would; retirement drops the log before the TTL walk.
  *
  * Retiring a results sink: a stopped `writeStream.format("parquet")`
  * sink leaves a `_spark_metadata` log that pins root-path reads to
  * the committed file set. `retireResultsSink = true` converts the
  * table to a plain parquet directory — pruning files the log never
  * committed, then dropping the log — after which compaction (this
  * run and every later one) proceeds normally. Run it only once the
  * sink is STOPPED; a live logged sink is skipped (and reported) by
  * [[LogPipeline.compactResults]]'s guard otherwise.
  *
  * Incremental indexes: `indexes` takes any [[StreamIndex]] value (the
  * text, sketch, IVF-PQ, semantic, BPE and near-dup indexes alike), and
  * each is compacted through the one lifecycle.
  */
object Maintenance {

  /** Acting on the IVF-PQ drift signal: when the resolved generation's
    * fill imbalance ([[StreamIvfPq.imbalance]], measured AFTER this
    * run's compaction folds retried duplicates) reaches
    * `imbalanceThreshold`, the maintenance window fits a new model
    * generation over `corpus(spark)` — the CURRENT live corpus, loaded
    * at decision time — and atomically swaps it in
    * ([[StreamIvfPq.refit]]). Below the threshold the run leaves the
    * frozen model untouched, so a healthy index never flaps.
    * `retireOld` defaults to false here: a long-lived deployment
    * retires superseded generations on a later run, once in-flight
    * readers have drained ([[StreamIvfPq.retireOldVersions]]). */
  final case class IvfPqRefitPolicy(
      root: String,
      corpus: SparkSession => DataFrame,
      idCol: String, vecCol: String,
      imbalanceThreshold: Double = 4.0,
      nCells: Int = 8, iterations: Int = 2, m: Int = 8, k: Int = 16,
      scale: Double = 1048576.0,
      retireOld: Boolean = false) {
    require(imbalanceThreshold > 1.0,
      s"imbalanceThreshold must exceed the balanced value 1.0: " +
        s"$imbalanceThreshold")
  }

  /** Acting on the training-mix signal: when some targeted source's
    * live token share ([[StreamPretrain.liveSourceTokens]]) drifts
    * more than `tolerancePpm` from its target share, the maintenance
    * window publishes a new mix-rates version
    * ([[StreamPretrain.rebalanceMix]] → [[StreamPretrain
    * .publishMixRates]]) and every later micro-batch admits documents
    * at the corrected per-source rates. Below the tolerance the run
    * leaves the rates untouched — a healthy mix never flaps. This is
    * the ACT half of the loop whose DETECT half is
    * [[StreamPretrain.monitor]] (q_pretrain_monitor). */
  final case class MixPolicy(
      root: String,
      targets: Seq[(String, Long)],
      tolerancePpm: Long = 50000L) {
    require(targets.nonEmpty, "targets must not be empty")
    // mirror publishMixRates' own preconditions so a bad config fails
    // at construction, not mid-maintenance-run (an all-zero weight set
    // would otherwise divide by wSum == 0 inside rebalanceMix)
    require(targets.forall(_._2 > 0), s"weights must be positive: $targets")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate source in targets: $targets")
    require(tolerancePpm >= 0, s"tolerancePpm must be >= 0: $tolerancePpm")
  }

  final case class Report(
      expiredResults: Seq[String], expiredStats: Seq[String],
      compactedResults: Seq[String], compactedStats: Seq[String],
      compactedIndexes: Seq[String] = Nil,
      refitIndexes: Seq[String] = Nil,
      rebalancedMix: Seq[String] = Nil) {
    def render: String =
      s"expired results partitions: ${expiredResults.size}" +
        (if (expiredResults.isEmpty) "" else expiredResults.mkString(" (", ", ", ")")) +
        s"\nexpired stats partitions: ${expiredStats.size}" +
        (if (expiredStats.isEmpty) "" else expiredStats.mkString(" (", ", ", ")")) +
        s"\ncompacted results partitions: ${compactedResults.size}" +
        (if (compactedResults.isEmpty) "" else compactedResults.mkString(" (", ", ", ")")) +
        s"\ncompacted stats partitions: ${compactedStats.size}" +
        (if (compactedStats.isEmpty) "" else compactedStats.mkString(" (", ", ", ")")) +
        s"\ncompacted index/sketch roots: ${compactedIndexes.size}" +
        (if (compactedIndexes.isEmpty) "" else compactedIndexes.mkString(" (", ", ", ")")) +
        s"\nrefit IVF-PQ generations: ${refitIndexes.size}" +
        (if (refitIndexes.isEmpty) "" else refitIndexes.mkString(" (", ", ", ")")) +
        s"\nrebalanced mix rates: ${rebalancedMix.size}" +
        (if (rebalancedMix.isEmpty) "" else rebalancedMix.mkString(" (", ", ", ")")) +
        "\n"
  }

  def run(spark: SparkSession, root: String,
      retentionDays: Int = 7, maxFiles: Int = 8,
      skipDate: Option[String] = None,
      targetFileBytes: Long = 512L * 1024 * 1024,
      retireResultsSink: Boolean = false,
      graceMillis: Long = 10L * 60 * 1000,
      nowMillis: Long = System.currentTimeMillis(),
      indexes: Seq[StreamIndex[Any]] = Nil,
      ivfPqRefit: Seq[IvfPqRefitPolicy] = Nil,
      mixPolicies: Seq[MixPolicy] = Nil): Report = {
    val results = s"$root/results"
    val stats = s"$root/stats"
    val sinkLog = new org.apache.hadoop.fs.Path(results, "_spark_metadata")
    val resultsLogged = sinkLog
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(sinkLog)
    val (expiredResults, compactedResults) =
      if (resultsLogged && !retireResultsSink) {
        // the sink log still owns the results file set: a TTL delete
        // would orphan committed log entries exactly like compaction
        // would, so BOTH steps skip until the caller retires the sink
        System.err.println(s"[maintain] $results has a streaming " +
          "file-sink log; partition TTL would orphan committed entries " +
          "— stop the sink and pass retireResultsSink = true")
        (Seq.empty[String], Seq.empty[String])
      } else {
        if (resultsLogged) {
          // retire the log FIRST (prune uncommitted files, drop the
          // log — maxFiles = MaxValue makes this a no-compaction
          // pass), so the TTL below deletes partitions only once
          // nothing references them
          LogPipeline.compactResults(spark, results, Int.MaxValue,
            skipDate, targetFileBytes, dropSinkLog = true,
            graceMillis = graceMillis)
        }
        val expired =
          LogPipeline.expireResults(spark, results, retentionDays, nowMillis)
        val compacted = LogPipeline.compactResults(spark, results,
          maxFiles, skipDate, targetFileBytes,
          dropSinkLog = false, graceMillis = graceMillis)
        (expired, compacted)
      }
    val expiredStats =
      LogPipeline.expireStats(spark, stats, retentionDays, nowMillis)
    // the stats table is foreachBatch-written (never carries a sink
    // log), so retirement does not apply to it
    val compactedStats = LogPipeline.compactResults(spark, stats,
      maxFiles, skipDate, targetFileBytes,
      dropSinkLog = false, graceMillis = graceMillis)
    // incremental-index upkeep: fold streaming deltas back to their
    // one-shot size, each index by its own fold ([[StreamIndex]]). A
    // root that was never ingested is skipped, and every compaction
    // is merge-and-retire over a snapshot (StreamState): safe to drive
    // from this maintenance job BESIDE a live ingest — a micro-batch
    // landing mid-compaction is never erased.
    def exists(r: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(r)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val compactedIdx = indexes.filter(i => exists(i.root)).map { i =>
      i.compact(); i.root
    }
    // drift repair LAST — the imbalance read must see this run's
    // compaction (retried batches' duplicate rows inflate cell fills),
    // and a refit over a just-folded table re-encodes one row per id
    val refitted = ivfPqRefit.filter(p => exists(p.root)).flatMap { p =>
      val imb = StreamIvfPq.imbalance(spark, p.root)
      if (imb < p.imbalanceThreshold) None
      else Some(StreamIvfPq.refit(p.corpus(spark), p.idCol, p.vecCol,
        p.root, p.nCells, p.iterations, p.m, p.k, p.scale,
        retireOld = p.retireOld))
    }
    // mix rebalance after compaction for the same reason as the refit:
    // the live-mass read must not count a retried batch's duplicates
    val rebalanced = mixPolicies.filter(p => exists(p.root)).collect {
      case p if StreamPretrain.rebalanceMix(spark, p.root, p.targets,
          p.tolerancePpm) => p.root
    }
    Report(expiredResults, expiredStats, compactedResults, compactedStats,
      compactedIdx, refitted, rebalanced)
  }
}
