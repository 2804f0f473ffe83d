package graft.streaming

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SemDeDup AT INGEST (Abbas et al. 2023, arXiv:2303.09540) — the
  * semantic-dedup face of the curation pipeline maintained
  * incrementally under a FROZEN coarse quantizer, completing the
  * at-ingest dedup family beside the exact fingerprint ledger and the
  * MinHash near-dup cluster index ([[StreamDedup]]).
  *
  * Fit once, decide at arrival: [[fit]] runs the integer-exact
  * quantized k-means ([[Similarity.kmeansQuantizedFit]] — SQL-
  * replayable bit for bit) and freezes the centroids + cosine
  * threshold as the [[Model]]. Every micro-batch then
  *
  *  1. assigns its vectors to a frozen cell — one compiled projection
  *     ([[Similarity.assignCells]]), no state read;
  *  2. probes ONLY its own cells' accumulated vectors for an
  *     earlier-id partner at/above the threshold — exact cosine
  *     verification, partition-pruned to the batch's cell
  *     directories. The candidate scope (same cell) IS the operator's
  *     semantics, not a recall approximation: parity with the batch
  *     [[graft.operators.Dedup.semanticDedup]] is exact by
  *     construction, unlike LSH blocking, which only reaches the
  *     brute-force answer when its recall is total;
  *  3. appends the batch's vectors cell-partitioned (ALL arrivals,
  *     refused ones included — a refused document still refuses later
  *     lookalikes, the batch operator's non-greedy id_b rule).
  *
  * The keep-first rule is DIRECT-PAIR (drop an id iff ANY smaller id
  * in its cell reaches the threshold). With id-ordered arrival a
  * document's fate is therefore decided AT ARRIVAL and never changes:
  * later arrivals carry larger ids and can only lose to it. The
  * composed gate ([[StreamPretrain.ingestBatch]]) needs no read-side
  * late exclusion — contrast the MinHash cluster gate, where a late
  * transitive bridge merges components and must vacate window slots.
  *
  * Delivery: at-least-once. A retried batch re-probes
  * deterministically (same refusals — the decision is a pure function
  * of frozen model + smaller-id content) and re-appends byte-identical
  * rows, absorbed by the verify side's per-id dedup and folded by
  * compaction (merge-and-retire, [[StreamState]] — safe beside a
  * live ingest; `Maintenance.run(indexes = …)` drives it).
  *
  * Scale: per-batch cost is one projection + one join against the
  * batch's OWN cells' history — the published SemDeDup Σ cell² shape;
  * pick k proportional to the corpus so expected cell size stays
  * constant and the pass is linear at fixed redundancy. The store
  * holds one (id, vec, norm) row per document. Reference anchor: the
  * supervisor dedups its result ring by content before serving
  * (`supervisor/filter_manager.go:323-346`); this is that idea at
  * embedding granularity.
  */
object StreamSemDedup {

  /** The frozen model: integer-exact centroids + decision threshold. */
  final case class Model(centroids: Array[(Int, Array[Long])],
      threshold: Double, scale: Double = 1048576.0) {
    require(centroids.nonEmpty, "model must carry centroids")
    require(threshold > 0 && threshold <= 1,
      s"threshold in (0,1]: $threshold")
  }

  /** Fit the frozen quantizer on the curation corpus. */
  def fit(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iterations: Int, threshold: Double): Model =
    Model(Similarity.kmeansQuantizedFit(corpus, idCol, vecCol, k,
      iterations)._1, threshold)

  private def vecsPath(root: String) = s"$root/vecs"

  /** Row-count ceiling for broadcasting the arriving micro-batch into
    * the probe joins. Micro-batches are orders of magnitude below it
    * in any sane trigger; it exists so a pathological batch degrades
    * to the shuffle join instead of failing at the broadcast /
    * driver-memory limit. At dim-64 vectors 1M rows ≈ 0.6 GB. */
  private val broadcastMaxRows: Long = 1L << 20

  /** The batch as (id, v, nrm, cl) under the frozen assignment — ONE
    * projection, no join: the old form joined the batch against its
    * own [[Similarity.assignCells]] output on id, a self-join (and
    * its exchange) that existed only to put the cell id beside the
    * vector. The quantized vector materializes as `_qv` in its own
    * select so the argmin's k references read the alias instead of
    * re-quantizing per centroid (CollapseProject keeps a non-cheap
    * alias referenced more than once — the SNIPPETS lambda-inlining
    * rule). Same quantization expression, same argmin, same
    * tie-break; the assignment per row is bit-identical. */
  private[graft] def annotate(batch: DataFrame, idCol: String,
      vecCol: String, m: Model): DataFrame =
    batch.select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"),
        transform(col(vecCol),
          x => floor(x.cast("double") * lit(m.scale)).cast("long"))
          .as("_qv"))
      .withColumn("cl", Similarity.cellOfQuantized(col("_qv"), m.centroids))
      .drop("_qv")

  /** Exact same-cell cosine pairs at/above the threshold — `a` is the
    * arriving (larger-id) side. The expressions mirror
    * [[graft.operators.Dedup.semanticDedup]] exactly so the SQL
    * replay is shared. */
  private def refusedSide(a: DataFrame, b: DataFrame,
      threshold: Double, broadcastA: Boolean): DataFrame =
    // broadcast the ARRIVING side: the equi key `cl` has only k
    // distinct values, so a shuffle join on it caps parallelism at k
    // partitions (8 tasks doing all the cosine work at the scenario's
    // k = 8); the batch side is micro-batch-bounded by the operator's
    // contract, so broadcasting it keeps the history scan's full
    // parallelism and shuffles nothing. The hint is gated on the
    // batch's measured row count (r17 — upsertBatch counts it in the
    // same job that collects the touched cells): an oversized batch
    // falls back to the shuffle join, which degrades gracefully
    // instead of hitting the broadcast/driver-memory ceiling.
    (if (broadcastA) broadcast(a.as("a")) else a.as("a")).join(b.as("b"),
        col("a.cl") === col("b.cl") && col("a.id") > col("b.id"))
      .withColumn("cos",
        when(col("a.nrm") * col("b.nrm") === 0.0, lit(0.0))
          .otherwise(VectorFunctions.dot(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id"))

  /** The semantic index at `root`, bound to the batch's `idCol` and
    * `vecCol` and the frozen model `m`. [[upsert]] ingests one
    * micro-batch and returns the batch ids REFUSED (an earlier-id
    * same-cell partner at/above the threshold exists — in this batch or
    * in the accumulated history). The returned frame is eagerly
    * materialized BEFORE the store append (the batch must not collide
    * with its own just-written rows); a long-lived caller must
    * [[StreamState.release]] it once consumed, like the other per-batch
    * deltas. Compaction folds retry duplicates back to one row per
    * document. */
  final class Index(val spark: SparkSession, val root: String,
      idCol: String, vecCol: String, m: Model)
      extends StreamIndex[DataFrame] {

    def upsert(batch: DataFrame, batchId: Long): DataFrame =
      BatchTimer.timed("semdedup.upsert") {
      val ann = annotate(batch, idCol, vecCol, m)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // SNAPSHOT the history's file list before anything runs: the
        // probe plan built from it can never see the batch's own rows,
        // so the probe and the store append below may overlap (the
        // StreamDedup upsert probe∥append precedent — per-batch
        // wall pays max(probe, append), not the sum).
        val histFiles = StreamState.listDataFiles(spark, vecsPath(root))
        // one tiny job collects the batch's touched cells (≤ k ints —
        // buys partition pruning on the history scan) AND its row count
        // (gates the broadcast hint below), and doubles as the action
        // that populates ann's cache before the parallel consumers
        val clCounts = ann.groupBy("cl").agg(count(lit(1)).as("_n"))
          .collect()
        val batchRows = clCounts.map(_.getLong(1)).sum
        val bcastA = batchRows <= broadcastMaxRows
        val intra = refusedSide(ann, ann, m.threshold, bcastA)
        val cross =
          if (histFiles.isEmpty) None
          else {
            // NO per-batch dropDuplicates on the history (it was a full
            // shuffle of the pruned store every batch): a retry's
            // duplicate rows can only produce duplicate refused ids,
            // which the distinct() below absorbs — compaction retires
            // the physical duplicates.
            val cls = clCounts.map(_.getInt(0)).toSeq
            val hist = spark.read.option("basePath", vecsPath(root))
              .parquet(histFiles: _*)
              .filter(col("cl").isin(cls: _*))
            Some(refusedSide(ann, hist, m.threshold, bcastA))
          }
        @volatile var refused: DataFrame = null
        StreamState.inParallel(
          () => refused = cross.fold(intra)(intra.union).distinct()
            .localCheckpoint(true),
          () => StreamState.append(ann, vecsPath(root), Some("cl")))
        refused
      } finally ann.unpersist(false)
    }

    /** The stored (id, v, nrm, cl) rows, one per document. */
    def committed(): DataFrame =
      spark.read.parquet(vecsPath(root)).dropDuplicates("id")

    protected def tables = Seq((vecsPath(root), snap =>
      StreamState.append(snap.dropDuplicates("id"), vecsPath(root), Some("cl"))))
  }
}
