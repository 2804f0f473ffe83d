package graft

import graft.operators.{Dedup, Similarity}
import graft.streaming.StreamSemDedup
import org.apache.spark.sql.functions._

/** The incremental SemDeDup gate ([[StreamSemDedup]]) after the r16
  * optimization pass (join-free cell annotation, snapshot-then-overlap
  * probe∥append, no per-batch history dedup): id-ordered batch ingest
  * with an at-least-once retry must refuse exactly the ids the BATCH
  * [[Dedup.semanticDedup]] drops under the same k-means fit — the
  * operator's founding parity contract, now spec-pinned against the
  * restructured internals.
  */
class StreamSemDedupSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") > 0)
      .select(col("vec_id").as("id"), col("embedding").as("v"))

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("ssemdedup").toString + "/sem"

  test("join-free annotation assigns the same cells as assignCells") {
    val m = StreamSemDedup.fit(emb, "id", "v", k = 8, iterations = 2,
      threshold = 0.3)
    // the public face that rides annotate: refusals over a single
    // batch vs the direct-pair rule computed from assignCells' cells
    val root = tmp()
    val refused = new StreamSemDedup.Index(spark, root, "id", "v", m)
      .upsert(emb, 0L).collect().map(_.getLong(0)).toSet
    val cells = Similarity.assignCells(emb, "id", "v", m.centroids, m.scale)
      .withColumnRenamed("id", "cid")
    val withCell = emb.join(cells, col("id") === col("cid"))
      .select(col("id"), col("v"), col("cluster").as("cl"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions
        .dot(col("v"), col("v"))))
    val want = withCell.as("a").join(withCell.as("b"),
        col("a.cl") === col("b.cl") && col("a.id") > col("b.id"))
      .withColumn("cos",
        when(col("a.nrm") * col("b.nrm") === 0.0, lit(0.0))
          .otherwise(graft.functions.VectorFunctions
            .dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos") >= m.threshold)
      .select(col("a.id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(refused == want && refused.nonEmpty)
  }

  test("ordered batches + retry refuse exactly the batch semanticDedup drops") {
    val m = StreamSemDedup.fit(emb, "id", "v", k = 8, iterations = 2,
      threshold = 0.3)
    val maxId = emb.agg(max("id")).head().getLong(0)
    val b0 = emb.filter(col("id") * 3 <= maxId)
    val b1 = emb.filter(col("id") * 3 > maxId && col("id") * 3 <= maxId * 2)
    val b2 = emb.filter(col("id") * 3 > maxId * 2)
    val root = tmp()
    val refused = scala.collection.mutable.Set.empty[Long]
    def ingest(b: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
      val r = new StreamSemDedup.Index(spark, root, "id", "v", m).upsert(b, bid)
      refused ++= r.collect().map(_.getLong(0))
      graft.streaming.StreamState.release(r)
    }
    ingest(b0, 0L)
    ingest(b1, 1L)
    ingest(b1, 1L) // at-least-once retry: duplicate store rows land
    ingest(b2, 2L)
    // the batch operator under the same fit parameters (same corpus →
    // same centroids): dropped = corpus minus survivors
    val kept = Dedup.semanticDedup(emb, "id", "v", k = 8, iterations = 2,
      threshold = 0.3).select("id").collect().map(_.getLong(0)).toSet
    val want = emb.select("id").collect().map(_.getLong(0)).toSet -- kept
    assert(refused.toSet == want && want.nonEmpty)
  }
}
