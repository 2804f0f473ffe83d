package graft.streaming

import graft.functions.BatchConst
import graft.operators.Sketch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained count-min sketch: the at-ingest face of
  * [[graft.operators.Sketch]]. CMS is a MERGEABLE summary — the
  * sketch of a union is the cell-wise SUM of the sketches — so
  * ingest appends each micro-batch's own depth×width delta and
  * readers sum; the historical corpus is never rescanned and the
  * persisted state is O(batches · depth · width), independent of
  * corpus size (and a compaction collapses it back to depth×width).
  *
  * Parity contract: ingesting a corpus in ANY batch split yields
  * exactly [[Sketch.cmsSketch]] of the union — per-cell counts are
  * sums and sums associate. SketchSpec asserts the split replay;
  * q_stream_cms hash-checks it against the q_cms_sketch oracle.
  *
  * Delivery: foreachBatch is at-least-once — a retried micro-batch
  * can append its delta twice. Deltas carry their `batch_id`, and
  * readers keep one row per (batch_id, r, b) before summing, so a
  * retry costs space, not correctness (the same contract as
  * [[StreamDedup]]).
  */
object StreamSketch {

  /** The sketch at `root` over the batch's `textCol`. [[upsert]]
    * appends one batch's delta, partitioned by sketch row `r`: a point
    * query that probes only some rows prunes directories, and the
    * layout keeps each append to `depth` small files.
    *
    * Batches at or below the compaction watermark are REJECTED as
    * no-ops: after a compaction folds deltas into a merge generation,
    * the (batch_id, r, b) dedup key can no longer absorb a redelivery
    * of a pre-compaction batch, so the watermark carries the
    * retry-safety contract across compactions.
    *
    * COMPACTION folds the accumulated deltas into a single merged delta
    * (state returns to O(depth × width)): the merged sketch is computed
    * from a SNAPSHOT of the current delta files, appended under
    * `mergedId(newWm)`, the watermark is advanced, and only then are
    * the snapshot files deleted. A concurrent upsert (id above the new
    * watermark) writes files outside the snapshot and survives both the
    * delete and the read-side fold rule; a concurrent REDELIVERY of a
    * folded batch that slips past the watermark check lands at or below
    * the new watermark and is excluded by the fold rule — not
    * double-counted. Crashes: before the watermark write, the new merge
    * is ignored (its id doesn't match the current watermark) and the
    * old state still reads exactly; after it, the folded deltas are
    * ignored as below-watermark mass. Either way the next compaction
    * retires the leftovers. Counts are exact at every interleaving
    * point.
    */
  final class Index(val spark: SparkSession, val root: String,
      textCol: String, depth: Int = 4, hexDigits: Int = 3)
      extends StreamIndex[Unit] {

    def upsert(batch: DataFrame, batchId: Long): Unit =
      BatchTimer.timed("cms.upsert") {
      val wm = readWatermark(spark, root)
      if (batchId <= wm) {
        // LOUD no-op: this is correct for a redelivery, but a genuinely
        // new batch can land here after a checkpoint reset restarts
        // Structured Streaming's batch ids at 0 — in which case its
        // counts would be silently lost. Batch ids must stay monotone
        // per root across checkpoint resets (reuse the checkpoint, or
        // start a fresh root).
        System.err.println(s"[stream-sketch] batch $batchId <= compaction " +
          s"watermark $wm at $root — treated as an at-least-once " +
          "redelivery and IGNORED; if this is a new batch after a " +
          "checkpoint reset, its counts are NOT ingested")
      } else
        StreamState.append(Sketch.cmsSketch(batch, textCol, depth, hexDigits)
          .withColumn("batch_id", BatchConst(lit(batchId))), root, Some("r"))
    }

    def committed(): DataFrame = readSketch(spark, root)

    // the watermark lands between the merge append and the retire
    protected def tables = Seq((root, { snap =>
      val prior = readWatermark(spark, root)
      val maxBatch = snap.agg(max("batch_id")).head() match {
        case r if r.isNullAt(0) => -1L
        case r => r.getLong(0)
      }
      val newWm = math.max(maxBatch, prior)
      // below zero nothing real was ingested: the snapshot holds only
      // merge rows no watermark vouches for, which no read counts
      if (newWm >= 0) {
        // fold exactly what the read rule counts TODAY: the current
        // merge generation plus deltas above the prior watermark (stale
        // merges and already-folded deltas left by earlier crashes
        // contribute nothing twice)
        StreamState.append(
          snap.filter(col("batch_id") > prior || col("batch_id") === mergedId(prior))
            .dropDuplicates("batch_id", "r", "b")
            .groupBy("r", "b").agg(sum("cnt").as("cnt"))
            .withColumn("batch_id", lit(mergedId(newWm))),
          root, Some("r"))
        writeWatermark(spark, root, newWm)
      }
    }))
  }

  /** The highest batch_id folded into a compaction, −1 if never
    * compacted. Stored as a SIBLING of the root (`<root>_watermark`),
    * so no compaction snapshot ever holds it.
    */
  def readWatermark(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "_watermark")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    val in = fs.open(p)
    try new java.io.BufferedReader(new java.io.InputStreamReader(in))
      .readLine().trim.toLong
    finally in.close()
  }

  private def writeWatermark(spark: SparkSession, root: String,
      wm: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(root.stripSuffix("/") + "_watermark")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"$wm\n".getBytes("UTF-8")) finally out.close()
  }

  /** The delta id a compaction at watermark `wm` writes its merged
    * sketch under. Unique per watermark (and watermarks only grow),
    * so a crashed compaction's half-written merge — or a stale merge
    * a later compaction superseded — can NEVER be confused with the
    * current one: the read rule below counts exactly one merge
    * generation plus the deltas newer than its watermark. */
  private def mergedId(wm: Long): Long = -(wm + 2)

  /** The merged sketch over every ingested batch: one (r, b, cnt) row
    * per touched cell — the same shape [[Sketch.cmsSketch]] emits, so
    * [[Sketch.estimateTokens]] serves point queries against it
    * unchanged.
    *
    * Fold rule: with watermark `wm`, count rows whose
    * `batch_id > wm` (live deltas not yet folded) plus rows whose
    * `batch_id == mergedId(wm)` (the one merge generation the
    * watermark vouches for). Everything else is excluded as already
    * folded mass: a redelivered pre-watermark batch that landed
    * during a compaction window, a folded delta whose retire-delete
    * crashed, or a half-written newer merge whose watermark write
    * crashed — under this rule every cell's count is exact on either
    * side of any crash or interleaving.
    */
  def readSketch(spark: SparkSession, root: String): DataFrame = {
    if (!StreamState.hasDataFiles(spark, root)) {
      // nothing ingested yet (or only a killed first append's
      // `_temporary/`): the empty sketch (estimates coalesce to zero),
      // not a read error
      import spark.implicits._
      return Seq.empty[(Int, String, Long)].toDF("r", "b", "cnt")
    }
    val wm = readWatermark(spark, root)
    spark.read.parquet(root)
      .filter(col("batch_id") > wm || col("batch_id") === mergedId(wm))
      // a retried append duplicates whole delta rows; cells are
      // unique per (batch_id, r, b) by construction, so keeping one
      // copy restores exactly-once counts
      .dropDuplicates("batch_id", "r", "b")
      .groupBy("r", "b").agg(sum("cnt").as("cnt"))
  }
}
