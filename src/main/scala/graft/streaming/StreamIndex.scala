package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one lifecycle of an incremental index root. Each streaming index
  * ([[StreamTextIndex]], [[StreamSketch]], [[StreamIvfPq]],
  * [[StreamSemDedup]], [[StreamBpe]], [[StreamDedup]]) provides an
  * `Index` value built once per root, with its column bindings and
  * config fixed at construction, and every caller ingests, deletes and
  * compacts through it — the sink contract of *Structured Streaming*
  * (SIGMOD'18): a replayable, idempotent unit behind one interface.
  *
  *  - [[upsert]] ingests one micro-batch under a monotone batch id. A
  *    retry under the same id is absorbed (the index's own read rule),
  *    and the value returned is the index's per-batch delta (`Unit`, or
  *    the near-dup pairs / semantic refusals, materialized — release
  *    them with [[StreamState.release]]).
  *  - [[compact]] folds every state table back to its one-shot size by
  *    MERGE-AND-RETIRE ([[StreamState.mergeAndRetire]]) over a snapshot
  *    listed first; each index declares only its [[tables]] and their
  *    folds. Safe beside a live ingest, so [[Maintenance.run]] loops
  *    over any mix of indexes.
  *  - [[committed]] is the whole live content: what a rebuild from
  *    scratch over the committed batches must equal.
  *  - [[LoggedIndex]] adds `delete`: the indexes that keep a
  *    generation log tombstone ids there, and compaction folds the log.
  */
trait StreamIndex[+D] {
  def spark: SparkSession
  def root: String

  /** Ingest one micro-batch under `batchId`. */
  def upsert(batch: DataFrame, batchId: Long): D

  /** The live content, as one rebuild over the committed batches. */
  def committed(): DataFrame

  /** The state tables compaction folds, as (path, fold): the fold
    * appends a snapshot's merged rows to its table in the table's
    * layout. Read once per compaction. */
  protected def tables: Seq[(String, DataFrame => Unit)]

  protected def logsGenerations = false

  def compact(): Unit = compactSnapshots()

  /** [[compact]] over pinned snapshots, one per table in [[tables]]
    * order, when given — lets a spec land an upsert between the pin and
    * the fold; else over a listing taken first. */
  private[graft] def compactSnapshots(pinned: Seq[String]*): Unit = {
    val ts = tables
    val snapshots =
      if (pinned.nonEmpty) pinned else ts.map(t => StreamState.listDataFiles(spark, t._1))
    ts.zip(snapshots).foreach { case ((path, fold), snap) =>
      StreamState.mergeAndRetire(spark, path, snap)(fold)
    }
    if (logsGenerations) StreamState.compactGenLog(spark, root)
  }
}

/** An index that keeps the per-root generation log (`_docs`,
  * [[StreamState.appendGens]]). A delete is one tombstone generation per
  * id: the ids stop serving from the next read, a later upsert under a
  * higher batch id resurrects them, and compaction retires their rows
  * physically and folds the log. */
trait LoggedIndex[+D] extends StreamIndex[D] {
  /** The bound id column; [[delete]] reads it from its `ids` frame. */
  def idCol: String

  /** The [[BatchTimer]] prefix of this index's entry points. */
  protected def kind: String

  def delete(ids: DataFrame, batchId: Long): Unit =
    BatchTimer.timed(s"$kind.delete") {
      StreamState.appendGens(ids.select(col(idCol)), root, batchId, del = true)
      repair(ids.select(col(idCol).as("id")))
    }

  /** Derived state a delete fixes once its tombstones are logged. */
  protected def repair(deleted: DataFrame): Unit = ()

  override protected def logsGenerations = true
}
