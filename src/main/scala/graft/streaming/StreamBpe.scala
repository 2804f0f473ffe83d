package graft.streaming

import graft.functions.BatchConst
import graft.operators.{Bpe, Pack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation→training handoff AT INGEST: micro-batches encode to
  * BPE piece-id sequences under a FROZEN tokenizer and append to a
  * live encoded table, which feeds packed context windows — the same
  * compose-at-ingest shape as the LM/quality gates
  * ([[LogPipeline.qualityGateStream]]) applied to the tokenizer.
  *
  * The tokenizer is fit ONCE ([[Bpe.learnMerges]] on the curation
  * cluster, persisted via [[Bpe.saveLearned]]) and every batch
  * encodes under [[Bpe.loadLearned]]'s frozen artifact — so encoding
  * is deterministic and batch-split-invariant: any split of a corpus
  * yields exactly the union's rows (q_stream_bpe_ids hash-checks
  * this against the one-shot [[Bpe.encodeIds]]). Per-document `pos`
  * is computed inside the document, so it never depends on what else
  * shared the batch.
  *
  * Delivery: at-least-once. Rows carry their `batch_id`; a retried
  * batch appends byte-identical rows (deterministic encode) and the
  * read rule keeps each document's NEWEST generation then distincts —
  * retries cost space until the next compaction, never correctness, and
  * re-ingesting a MODIFIED document under a higher batch id is
  * latest-wins, like [[StreamTextIndex]].
  */
object StreamBpe {

  /** The encoded table at `root`, bound to the batch's `idCol` and
    * `textCol` and the frozen tokenizer `learned`. [[upsert]] encodes
    * one micro-batch and appends its (id, pos, piece, piece_id,
    * batch_id) rows: one scan of the batch, two broadcast joins — no
    * state read, no shuffle against history. A delete (the compliance
    * path a training-data store needs) stops a document's pieces from
    * serving from the next read; compaction folds retries and
    * superseded generations away, to one row per live (id, pos), each
    * kept row preserving its batch id (its document's generation) for
    * the read rule. A delete reads only the id binding, so a value
    * built for deletes alone may leave `textCol` and `learned` null. */
  final class Index(val spark: SparkSession, val root: String,
      val idCol: String, textCol: String, learned: Bpe.Learned)
      extends LoggedIndex[Unit] {
    protected def kind = "bpe"

    def upsert(batch: DataFrame, batchId: Long): Unit =
      BatchTimer.timed("bpe.encode") {
      appendEncoded(Bpe.encodeIdsWith(batch, idCol, textCol, learned)
        .withColumn("batch_id", BatchConst(lit(batchId))), root)
      // generation row LAST (the StreamTextIndex crash contract): a
      // crash above leaves the previous version fully served
      StreamState.appendGens(batch.select(col(idCol)), root, batchId)
    }

    def committed(): DataFrame = readEncoded(spark, root)

    // each document's newest live generation, distinct
    protected def tables = Seq((root, snap =>
      appendEncoded(
        StreamState.newestLive(snap, root, snap.columns.head).distinct(),
        root)))
  }

  // The encoded table is the one state table not written through
  // [[StreamState.append]]: its rows land as the frame producing them
  // is partitioned (the encode projection, the compaction fold's
  // distinct), with no repartition. It is unpartitioned, so
  // `StreamState.append` would make every append — compaction folds of
  // a corpus-sized token table included — one file from one task.
  // How many files an encode batch should write is a layout decision of
  // its own (ROADMAP Direction B), so this writer keeps today's count.
  private def appendEncoded(df: DataFrame, root: String): Unit =
    df.write.mode("append").parquet(root)

  /** The live encoded table: each document's newest generation, one
    * row per (id, pos) — [[Bpe.encodeIds]]'s exact shape, so every
    * downstream consumer (packing, chunking, vocab stats) reads it
    * unchanged. The latest-wins rule is the broadcast generation-log
    * exclusion ([[StreamState.liveOnly]]) — free until an update
    * happens, NEVER a corpus-wide window over the token stream (that
    * window was the 22×-at-x100 scale killer this replaced); the
    * only remaining exchange is the (id, pos) retry dedup, which
    * compaction makes a no-op-sized shuffle again. */
  def readEncoded(spark: SparkSession, root: String): DataFrame = {
    val df = spark.read.parquet(root)
    val idc = df.columns.head
    StreamState.liveOnly(df, root, idc)
      .drop("batch_id")
      .dropDuplicates(idc, "pos")
  }

  /** Fixed-budget context windows over the live piece stream:
    * [[Pack.packCounts]] on the per-document piece counts. The prefix
    * sum is global BY DESIGN (window ordinals depend on every earlier
    * document), so packing runs over the accumulated table at read
    * time — the encode cost stays per-batch, the pack cost is one
    * bounded two-phase prefix sum when shards are actually cut. */
  def packShards(spark: SparkSession, root: String,
      tokenBudget: Int): DataFrame = {
    val enc = readEncoded(spark, root)
    val idc = enc.columns.head
    Pack.packCounts(
      enc.groupBy(col(idc)).agg(count(lit(1)).as("n_tokens")),
      idc, tokenBudget)
  }
}
