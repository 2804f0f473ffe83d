package graft.streaming

import graft.functions.BatchConst
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF-PQ index: the at-ingest face of the
  * [[Similarity.buildIvfPq]]/[[Similarity.queryIvfPqTable]] split.
  * The production ANN contract at 100 TB is "fit ONCE, serve many" —
  * and its corollary is that NEW vectors must become searchable
  * without a refit or a table rebuild: the persisted model (coarse
  * centroids + PQ codebooks in the `_meta` sidecar) is FROZEN, so an
  * arriving micro-batch only needs one projection (coarse-cell
  * argmin under the fixed centroids — [[Similarity.assignCells]] —
  * plus PQ encoding under the fixed codebooks) and an append into
  * its cell partitions. Queries are unchanged: the same
  * partition-pruned probed-cell read serves the base build and every
  * appended batch.
  *
  * Delivery: at-least-once. Appended rows carry their `batch_id`
  * (the base build writes −1), and because codes are DETERMINISTIC
  * under the frozen model, a retried batch appends byte-identical
  * rows — `queryIvfPqTable` keeps the LATEST batch's row per id, so
  * retries cost space until [[compact]], never correctness.
  * Re-ingesting an EXISTING id with a changed vector is latest-wins,
  * with one caveat: until the next [[compact]] (which dedups across
  * all cells), a vector that moved cells still serves from its old
  * cell when only that cell is probed. Treat updates as
  * eventually-consistent until compaction.
  *
  * DELETES ([[deleteVecs]]) are tombstone generations in the shared
  * [[StreamState]] generation log (the [[StreamTextIndex]] /
  * [[StreamBpe]] compliance path applied to vectors): every
  * `upsertBatch` and every delete appends tiny (id, batch, del) rows
  * to a `_docs` sidecar at the TOP root (so the record survives model
  * refits), a vector is dead iff its NEWEST log entry is a tombstone,
  * and [[query]] anti-joins the probed rows against that broadcast
  * dead set — the vector stops ranking from the next read, without a
  * rebuild. A later `upsertBatch` under a higher batch id resurrects
  * it; [[compact]] physically retires dead code rows under the
  * race-proof guard (drop only when the tombstone is at least the
  * id's newest IN-SNAPSHOT batch, so a resurrection landing
  * mid-compaction survives). A redelivery of a pre-delete batch
  * re-appends the dead id's rows, but its stale generation cannot
  * outrank the tombstone — the id stays dead. [[refit]] does NOT
  * clear tombstones: fit new generations on the LIVE corpus; re-adding
  * a deleted vector is `upsertBatch`'s job, not refit's.
  *
  * Drift contract (the honest ANN caveat, stated rather than hidden):
  * appended vectors are quantized by the BASE corpus' model. If the
  * ingest distribution drifts far from the training distribution,
  * recall decays on the new mass — [[cellStats]] exposes the
  * fill-imbalance signal, and [[refit]] acts on it: fit a NEW model
  * generation on the current corpus, re-encode into a versioned
  * subdirectory (`_v1`, `_v2`, …), and publish it atomically by
  * creating the generation's `_COMMITTED` marker as the last step.
  * Every entry point resolves the newest COMMITTED generation first
  * ([[resolve]]), so a query reads ONE consistent (model, codes)
  * pair: a crashed refit left no marker and is invisible; a reader
  * that resolved v1 an instant before the v2 commit serves v1
  * whole — never v2's model against v1's codes. The flat layout
  * [[Similarity.buildIvfPq]] writes is generation 0 and keeps
  * working untouched until the first refit.
  */
object StreamIvfPq {

  // ---- model generations ------------------------------------------

  private def hfs(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The directory holding the newest COMMITTED model generation —
    * `root/_vN`, or `root` itself while the index is still on the
    * flat generation-0 layout. All entry points resolve through this,
    * so the (model, codes) pair a query sees is always one consistent
    * generation. The `_vN` + `_COMMITTED` publish contract is
    * [[StreamState]]'s (it also backs [[StreamPretrain]]'s mix-rates
    * publishes). */
  def resolve(spark: SparkSession, root: String): String =
    StreamState.newestCommitted(spark, root).getOrElse(root)

  /** Fit a new model generation over `corpus` and atomically swap it
    * in: [[Similarity.buildIvfPq]] writes the full (codes + `_meta`)
    * table into `root/_vN` (N = one past the highest version dir,
    * committed or not — a crashed refit's directory is simply left
    * behind, never reused while half-written by someone else), and
    * the generation becomes visible only when its `_COMMITTED` marker
    * lands — one file create, so there is no window where a reader
    * can pair the new model with old codes. Vectors that arrived
    * after `corpus` was captured must be re-ingested (the upstream
    * at-least-once redelivery contract); post-swap [[upsertBatch]]
    * encodes under the new generation.
    *
    * `retireOld = true` deletes the superseded generations after the
    * commit. That assumes no query is mid-scan on an old generation
    * (the sandbox/spec shape); a long-lived deployment should pass
    * `false` and retire from the maintenance window instead
    * ([[retireOldVersions]]) once in-flight readers have drained.
    */
  def refit(corpus: DataFrame, idCol: String, vecCol: String,
      root: String, nCells: Int = 8, iterations: Int = 2, m: Int = 8,
      k: Int = 16, scale: Double = 1048576.0,
      retireOld: Boolean = true): String =
    BatchTimer.timed("ivfpq.refit") {
    val spark = corpus.sparkSession
    val vdir = StreamState.nextVersionDir(spark, root)
    Similarity.buildIvfPq(corpus, idCol, vecCol, vdir,
      nCells, iterations, m, k, scale)
    StreamState.commitVersion(spark, vdir)
    if (retireOld) retireOldVersions(spark, root)
    vdir
  }

  /** Delete every generation older than the newest committed one:
    * stale `_vK` directories, and — once any committed version
    * exists — the flat generation-0 codes and `_meta`. Run from the
    * maintenance window after in-flight readers drained. */
  def retireOldVersions(spark: SparkSession, root: String): Unit =
    StreamState.newestCommitted(spark, root).foreach { keep =>
      val fs = hfs(spark, root)
      StreamState.versionIds(spark, root, committedOnly = false)
        .map(v => s"$root/_v$v").filter(_ != keep)
        .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      StreamState.deleteFiles(spark, root,
        StreamState.listDataFiles(spark, root)) // flat gen-0 codes
      val flatMeta = new org.apache.hadoop.fs.Path(root, "_meta")
      if (fs.exists(flatMeta)) fs.delete(flatMeta, true)
    }

  /** Probe the newest committed generation — [[Similarity
    * .queryIvfPqTable]] against [[resolve]]'s directory, with
    * tombstoned ids ([[deleteVecs]]) excluded at the codes scan
    * (before the shortlist, so the top-k is always k live results,
    * never a post-filtered stump). */
  def query(spark: SparkSession, root: String, corpus: DataFrame,
      idCol: String, vecCol: String, queryVec: Seq[Double], kTop: Int,
      nprobe: Int = 2, shortlist: Int = 200): DataFrame =
    Similarity.queryIvfPqTable(spark, resolve(spark, root), corpus,
      idCol, vecCol, queryVec, kTop, nprobe, shortlist,
      excludeIds = StreamState.deadIds(spark, root))

  /** Encode + append one micro-batch under the frozen model at
    * `path`. One scan of the batch; writes only the touched cell
    * partitions. */
  def upsertBatch(batch: DataFrame, idCol: String, vecCol: String,
      root: String, batchId: Long): Unit =
    BatchTimer.timed("ivfpq.upsert") {
    val spark = batch.sparkSession
    val path = resolve(spark, root)
    val idx = Similarity.readIvfPqMeta(spark, path)
    val cells = Similarity.assignCells(batch, idCol, vecCol,
      idx.centroids, idx.scale)
    StreamState.append(
      Similarity.pqEncode(batch, idCol, vecCol, idx.codebooks, idx.scale)
        .join(cells, Seq(idCol))
        .select(col(idCol), col("codes"),
          BatchConst(lit(batchId)).as("batch_id"), col("cluster")),
      path, Some("cluster"))
    // generation row LAST (the StreamTextIndex crash contract): a
    // crash above is healed by the at-least-once redelivery, which
    // re-appends deterministic rows AND the generation
    StreamState.appendGens(batch.select(col(idCol)), root, batchId)
  }

  /** DELETE vectors from the index — one tombstone generation per id.
    * The id stops ranking from the next [[query]]; a later
    * [[upsertBatch]] under a higher batch id resurrects it; [[compact]]
    * physically retires the dead code rows. Ties (a delete and an
    * upsert under the SAME batch id) resolve to deleted. */
  def deleteVecs(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    StreamState.appendGens(ids.select(col(idCol)), root, batchId,
      del = true)

  /** Per-cell row counts — the fill-imbalance signal that tells an
    * operator when the frozen coarse quantizer has drifted from the
    * ingest distribution and a re-fit is due. Reads code rows only
    * (m bytes per vector), never vectors. */
  def cellStats(spark: SparkSession, root: String): DataFrame =
    StreamState.readTable(spark, resolve(spark, root))
      .groupBy("cluster").agg(count(lit(1)).as("rows"))

  /** [[cellStats]] folded to ONE drift number: max cell fill over mean
    * cell fill. 1.0 is perfectly balanced; a value far above it means
    * the ingest distribution has drifted from the frozen coarse
    * quantizer's training distribution (new mass piling into few
    * cells) and a [[refit]] is due. Run after [[compact]] — retried
    * batches' duplicate rows inflate their cells' counts until folded.
    * An empty index reads as balanced (1.0). */
  def imbalance(spark: SparkSession, root: String): Double = {
    val r = cellStats(spark, root)
      .agg(max(col("rows")).cast("double"), avg(col("rows"))).head()
    if (r.isNullAt(0)) 1.0 else r.getDouble(0) / r.getDouble(1)
  }

  /** Fold retried-batch duplicates away and rewrite each cell
    * partition once (batch_id −1): the table returns to exactly one
    * row per id.
    *
    * MERGE-AND-RETIRE (see [[StreamState]]): the merged table is
    * computed from a SNAPSHOT of the current code files, appended as
    * new files, and only then are the snapshot files deleted. A
    * concurrent `upsertBatch` writes files outside the snapshot and
    * survives (safe beside a live ingest); the `_meta` sidecar is
    * underscore-prefixed so it is never in a snapshot — the frozen
    * model cannot be lost by a crash mid-compaction. A crash between
    * the append and the retire leaves both copies; codes are
    * DETERMINISTIC under the frozen model and readers keep the
    * latest row per id, so the duplication costs space until the
    * next compaction, never correctness.
    */
  def compact(spark: SparkSession, root: String): Unit = {
    val path = resolve(spark, root)
    compactSnapshot(spark, root, path,
      StreamState.listDataFiles(spark, path))
    StreamState.compactGenLog(spark, root)
  }

  /** The compaction body over an explicit snapshot — split out so the
    * interleaving spec can pin the snapshot, land a concurrent
    * `upsertBatch`, and prove the late batch survives. Latest-wins PER
    * ID ACROSS ALL CELLS: this is the point where a re-ingested id's
    * older encoding — possibly in a different cell partition — is
    * actually removed, and tombstoned ids ([[deleteVecs]]) retire
    * under [[StreamState.newestLive]]'s race-proof guard. Rows of one
    * id in one batch are retries and identical (deterministic codes),
    * so any one of them is the id's row. */
  private[graft] def compactSnapshot(spark: SparkSession, root: String,
      path: String, snapshot: Seq[String]): Unit =
    StreamState.mergeAndRetire(spark, path, snapshot) { snap =>
      val idCol = snap.columns.head
      StreamState.append(
        StreamState.newestLive(snap, root, idCol).dropDuplicates(idCol)
          .select(col(idCol), col("codes"), lit(-1L).as("batch_id"),
            col("cluster")),
        path, Some("cluster"))
    }
}
