package graft

import graft.operators.{Bpe, Similarity}
import graft.sources.Tables
import graft.streaming._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one lifecycle of the streaming indexes ([[StreamIndex]]), run
  * over every index the same way: a retried upsert followed by a
  * compaction commits exactly what one upsert commits, and
  * [[Maintenance.run]] compacts whatever index it is given. */
class StreamIndexSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb =
    Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") > 0)
  private lazy val tokenizer = Bpe.learnMerges(docs, "text", 4)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/root"

  /** The rows of `df` with their multiplicities (binary and array
    * values compared by content). */
  private def rows(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq.map {
      case a: Array[_] => a.toSeq
      case v => v
    }).groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Each index: its name, how to build it on a fresh root, and the
    * batch it ingests. */
  private lazy val indexes: Seq[(String, String => StreamIndex[Any], DataFrame)] = {
    val maxVec = emb.agg(max("vec_id")).head().getLong(0)
    val sem = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val semModel = StreamSemDedup.fit(sem, "id", "v", k = 8,
      iterations = 2, threshold = 0.3)
    Seq(
      ("text index", new StreamTextIndex.Index(spark, _, "doc_id", "text"), docs),
      ("sketch", new StreamSketch.Index(spark, _, "text"), docs),
      ("IVF-PQ", { r =>
        Similarity.buildIvfPq(emb.filter(col("vec_id") <= maxVec / 2),
          "vec_id", "embedding", r)
        new StreamIvfPq.Index(spark, r, "vec_id", "embedding")
      }, emb.filter(col("vec_id") > maxVec / 2)),
      ("semantic dedup", new StreamSemDedup.Index(spark, _, "id", "v", semModel), sem),
      ("BPE", new StreamBpe.Index(spark, _, "doc_id", "text", tokenizer), docs),
      ("near-dup", new StreamDedup.Index(spark, _, "doc_id", "text",
        StreamDedup.Config(threshold = 0.5), labels = true), docs))
  }

  private def upsert(idx: StreamIndex[Any], batch: DataFrame, batchId: Long): Unit =
    idx.upsert(batch, batchId) match {
      case delta: DataFrame => StreamState.release(delta)
      case _ => ()
    }

  test("every index: a retried upsert and a compaction commit what one upsert commits") {
    for ((name, build, batch) <- indexes) {
      val once = build(tmp("once"))
      upsert(once, batch, 0L)
      val want = rows(once.committed())
      assert(want.nonEmpty, s"$name: one upsert committed nothing")
      val retried = build(tmp("retried"))
      upsert(retried, batch, 0L)
      upsert(retried, batch, 0L) // the at-least-once redelivery
      retried.compact()
      assert(rows(retried.committed()) == want,
        s"$name: retry + compaction changed the committed content")
    }
  }

  test("Maintenance.run compacts an encoded-table root: dead rows retire, the live table is unchanged") {
    val root = tmp("maint-bpe")
    val idx = new StreamBpe.Index(spark, root, "doc_id", "text", tokenizer)
    idx.upsert(docs.filter(col("doc_id") % 2 === 0), 0L)
    idx.upsert(docs.filter(col("doc_id") % 2 === 1), 1L)
    idx.delete(docs.filter(col("doc_id") % 5 === 0).select("doc_id"), 2L)
    val live = rows(StreamBpe.readEncoded(spark, root))
    val before = spark.read.parquet(root).count()
    val rep = Maintenance.run(spark, tmp("maint-pipe"), indexes = Seq(idx))
    assert(rep.compactedIndexes == Seq(root))
    val after = spark.read.parquet(root).count()
    assert(after < before, s"no row retired: $before -> $after")
    assert(after == live.values.sum, "rows on disk are not one per live (id, pos)")
    assert(rows(StreamBpe.readEncoded(spark, root)) == live)
  }
}
