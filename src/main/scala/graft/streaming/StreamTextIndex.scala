package graft.streaming

import graft.functions.{BatchConst, TextFunctions}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained inverted token index: the at-ingest face
  * of [[graft.sources.TextIndex]]. The reference's whole point is
  * querying a LIVE stream (`supervisor` keeps results continuously
  * up to date, `supervisor/filter_manager.go`); a batch-built index
  * would make a new document word-greppable only after a full
  * rebuild. Postings are a SET — the index of a union is the union
  * of postings — so ingest appends each micro-batch's own (tok, id)
  * delta and readers take DISTINCT; the historical corpus is never
  * rescanned.
  *
  * Layout matches the batch index exactly: rows partitioned by
  * `bucket = pmod(hash(tok), B)` with the modulus persisted in the
  * `_graft_buckets` marker, so a lookup prunes to ONE of B
  * directories (PartitionFilters) whether the index was built in one
  * pass or grown batch-by-batch. Deltas additionally carry their
  * `batch_id` for observability.
  *
  * Delivery: foreachBatch is at-least-once — but set semantics make
  * the index NATURALLY idempotent: a redelivered batch appends
  * duplicate (tok, id) rows and DISTINCT absorbs them, before OR
  * after a compaction (unlike the counting [[StreamSketch]], which
  * needs a compaction watermark). Retries cost space until the next
  * compaction, never correctness.
  *
  * UPDATES (latest-wins): re-ingesting a document under a HIGHER
  * batch id replaces it — the removed tokens stop matching, no
  * rebuild. Each upsert also appends (id, batch_id) rows to a tiny
  * per-document generation log (`_docs` inside the root —
  * underscore-prefixed, so the postings scan never sees it); a
  * posting is live iff its batch_id equals its document's newest
  * generation. Reads pay for this only where an update actually
  * happened: the exclusion side is the set of documents with MORE
  * than one live generation (empty until someone updates, tiny
  * after — compaction folds resolved history away), broadcast
  * against the pruned posting list. This is the reference's
  * never-serve-stale rule (`supervisor/filter_manager.go:323-346`,
  * the result ring buffer keeps only the newest write per slot)
  * applied to postings, and the same latest-wins shape as
  * [[StreamDedup]]. Postings are written BEFORE the generation row,
  * so a crash mid-upsert leaves the PREVIOUS version served intact
  * (never a half-visible update); the at-least-once redelivery
  * completes it. DELETES (`Index.delete`) are tombstone generations
  * in the same log: the document stops matching from the next read,
  * a later re-ingest under a higher batch id resurrects it, and
  * compaction physically retires the dead postings (race-proof
  * guard in the compaction fold).
  *
  * Parity contract: ingesting a corpus in ANY batch split, with any
  * number of interleaved compactions and redeliveries, yields the
  * same posting set as [[graft.sources.TextIndex.write]] over the
  * union — q_stream_text_index hash-checks a lookup against the
  * batch oracle; TextIndexSpec replays splits, retries, and a
  * mid-stream compaction.
  */
object StreamTextIndex {

  private def marker(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root, "_graft_buckets")

  // Per-document generation log (`_docs` inside the root) and the
  // latest-wins/tombstone read rule are the shared [[StreamState]]
  // machinery; postings here just carry their batch as the
  // generation. The exclusion side is only documents with unresolved
  // history — empty until an update/delete, broadcastable beside a
  // pruned lookup.

  /** The persisted bucket modulus, or −1 if the index does not exist
    * yet. */
  def bucketsOf(spark: SparkSession, root: String): Int = {
    val m = marker(spark, root)
    val fs = m.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(m)) return -1
    val in = fs.open(m)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
    finally in.close()
  }

  /** Claim the bucket-modulus marker for a fresh root — atomic
    * temp+rename via [[StreamState.claimSidecar]], so two concurrent
    * first appends cannot each "create" the marker (the pre-r13
    * overwrite-create let the second silently replace the first's
    * modulus; postings could land under two layouts). Returns the
    * modulus this writer must use: its own claim if it won, the
    * winner's if it lost — with a loud rejection when the loser
    * passed an explicit, conflicting modulus. */
  private[graft] def claimModulus(spark: SparkSession, root: String,
      requested: Int, chosen: Int): Int =
    if (StreamState.claimSidecar(spark, marker(spark, root),
        chosen.toString)) chosen
    else {
      // an empty/torn marker (an HDFS-branch winner that crashed
      // between create and write) must surface as the designed retry
      // message, not a NumberFormatException out of toInt
      val won = scala.util.Try(bucketsOf(spark, root)).getOrElse(-1)
      require(won > 0,
        s"lost the bucket-modulus claim race at $root but no marker is " +
          "readable — the winning writer crashed mid-claim; retry")
      require(requested == -1 || requested == won,
        s"concurrent first append claimed bucket modulus $won for " +
          s"$root; this caller passed $requested — an index root is " +
          "single-modulus by contract (pass no modulus, or the same one)")
      won
    }

  /** The index at `root`, bound to the batch's `idCol` and `textCol`.
    * [[upsert]] appends one micro-batch's posting delta. The FIRST
    * batch fixes the bucket modulus (default 64 when `buckets` is left
    * unset); later batches use the persisted one, and an EXPLICIT
    * `buckets` that disagrees with it is rejected loudly — two call
    * sites disagreeing on the constant is how postings silently land
    * in directories lookups prune away.
    *
    * The marker is persisted BEFORE the first data append: if the
    * append crashes, a redelivery (even one passing a different
    * explicit modulus) reads the marker and lands in the same bucket
    * layout, so no rows can end up under a modulus lookups don't use.
    *
    * COMPACTION folds the accumulated deltas into one live posting set
    * per bucket: retry duplicates collapse, superseded generations
    * drop, and state returns to the batch index's size regardless of
    * how many batches (or retries, or updates) fed it. Each kept row
    * PRESERVES its batch id — that is its document's generation, and
    * the read-side latest-wins rule needs it. The fold keeps each id's
    * newest generation WITHIN THE SNAPSHOT ([[StreamState.newestLive]],
    * whose race-proof guard also retires tombstoned postings): a
    * concurrent update's newer rows live outside it on both sides
    * (postings and generation log), so the read rule keeps serving the
    * newest version, and the bucket marker is never rewritten.
    * Same-generation duplication left by a crash between the append
    * and the retire is absorbed by the DISTINCT on every read.
    */
  final class Index(val spark: SparkSession, val root: String,
      val idCol: String, textCol: String, buckets: Int = -1)
      extends LoggedIndex[Unit] {
    protected def kind = "textindex"

    def upsert(batch: DataFrame, batchId: Long): Unit =
      BatchTimer.timed("textindex.upsert") {
      val persisted = bucketsOf(spark, root)
      val b =
        if (persisted > 0) {
          require(buckets == -1 || buckets == persisted,
            s"index at $root has bucket modulus $persisted; caller passed " +
              s"$buckets — pass no modulus (or the persisted one) for an " +
              "existing index")
          persisted
        } else {
          val chosen = if (buckets == -1) 64 else buckets
          require(chosen > 0, s"buckets must be positive: $chosen")
          claimModulus(spark, root, buckets, chosen)
        }
      val postings = batch.select(col(idCol).as("id"),
          explode(TextFunctions.tokenSet(lower(col(textCol)))).as("tok"))
        .withColumn("bucket", pmod(hash(col("tok")), lit(b)))
        .withColumn("batch_id", BatchConst(lit(batchId)))
      StreamState.append(postings, root, Some("bucket"))
      // generation row LAST: a crash above leaves the previous version
      // of every document in this batch fully served (see header)
      StreamState.appendGens(batch.select(col(idCol)), root, batchId)
    }

    def committed(): DataFrame = readIndex(spark, root)

    protected def tables = Seq((root, snap =>
      StreamState.append(StreamState.newestLive(snap, root, "id")
        .select("tok", "id", "bucket", "batch_id").distinct(),
        root, Some("bucket"))))
  }

  /** The merged posting set: one (tok, id, bucket) row per distinct
    * posting — the batch index's shape, so every
    * [[graft.sources.TextIndex]] consumer pattern applies. */
  def readIndex(spark: SparkSession, root: String): DataFrame = {
    if (!StreamState.hasDataFiles(spark, root)) {
      import spark.implicits._
      return Seq.empty[(String, Long, Int)].toDF("tok", "id", "bucket")
    }
    StreamState.liveOnly(spark.read.parquet(root), root, "id")
      .select("tok", "id", "bucket").distinct()
  }

  /** Posting list of one token: DISTINCT ids, read from one pruned
    * bucket directory (the `bucket =` predicate constant-folds into
    * PartitionFilters exactly as in the batch index). */
  def lookup(spark: SparkSession, root: String, token: String): DataFrame = {
    val b = bucketsOf(spark, root)
    require(b > 0, s"no index at $root")
    val t = token.toLowerCase(java.util.Locale.ROOT)
    StreamState.liveOnly(
      spark.read.parquet(root)
        .filter(col("bucket") === pmod(hash(lit(t)), lit(b)) &&
          col("tok") === lit(t)),
      root, "id")
      .select("id").distinct()
  }

  /** AND of several tokens — intersect posting lists. */
  def lookupAll(spark: SparkSession, root: String,
      tokens: Seq[String]): DataFrame = {
    require(tokens.nonEmpty, "tokens must not be empty")
    tokens.map(lookup(spark, root, _)).reduce(_.join(_, "id"))
  }

  /** Index-accelerated word grep against the live index. */
  def grepTokens(corpus: DataFrame, idCol: String, root: String,
      tokens: Seq[String]): DataFrame = {
    val ids = lookupAll(corpus.sparkSession, root, tokens)
      .withColumnRenamed("id", idCol)
    corpus.join(ids, Seq(idCol), "left_semi")
  }
}
