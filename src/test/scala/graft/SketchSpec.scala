package graft

import graft.operators.Sketch
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Count-min sketch: the classic guarantees hold exactly on fixture
  * data, and the build/estimate arithmetic is deterministic.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet").cache()

  private lazy val exact = docs
    .select(explode(graft.functions.TextFunctions.tokens(lower(col("text"))))
      .as("token"))
    .groupBy("token").agg(count(lit(1)).as("cnt"))
    .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("CMS estimate is an upper bound on the true count for every token") {
    val sketch = Sketch.cmsSketch(docs, "text", depth = 4, hexDigits = 3)
    val cand = exact.keys.toSeq.toDF("token")
    val est = Sketch.estimateTokens(cand, "token", sketch, 4, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (tok, c) =>
      assert(est(tok) >= c, s"CMS underestimated '$tok': ${est(tok)} < $c")
    }
  }

  test("CMS error stays within eps·N on the fixture (width 4096, depth 4)") {
    val sketch = Sketch.cmsSketch(docs, "text", depth = 4, hexDigits = 3)
    val n = exact.values.sum
    val epsN = math.ceil(math.E / 4096.0 * n).toLong
    val est = Sketch.estimateTokens(exact.keys.toSeq.toDF("token"), "token",
      sketch, 4, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (tok, c) =>
      assert(est(tok) <= c + epsN,
        s"CMS error for '$tok' exceeds eps·N: ${est(tok)} vs $c + $epsN")
    }
  }

  test("CMS heavy hitters are a superset of the true heavy set") {
    val threshold = 900L
    val trueHeavy = exact.filter(_._2 >= threshold).keySet
    val cmsHeavy = Sketch.cmsHeavyHitters(docs, "text", 4, 3, threshold)
      .collect().map(_.getString(0)).toSet
    assert(trueHeavy.subsetOf(cmsHeavy),
      s"missed true heavy hitters: ${trueHeavy -- cmsHeavy}")
  }

  test("sketch cells sum to depth × total token count") {
    val sketch = Sketch.cmsSketch(docs, "text", depth = 4, hexDigits = 3)
    val perRow = sketch.groupBy("r").agg(sum("cnt").as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    assert(perRow.size == 4)
    perRow.values.foreach(s => assert(s == n))
  }

  test("unseen tokens estimate to their colliding mass (possibly zero)") {
    val sketch = Sketch.cmsSketch(docs, "text", depth = 4, hexDigits = 3)
    val est = Sketch.estimateTokens(
      Seq("zzz_never_in_corpus").toDF("token"), "token", sketch, 4, 3)
      .head().getLong(1)
    assert(est >= 0L)
    val n = exact.values.sum
    assert(est <= math.ceil(math.E / 4096.0 * n).toLong)
  }

  test("dyadicHeavyHitters equals the exact heavy set (final pass is exact)") {
    Seq(900L, 500L, 1L).foreach { t =>
      val got = Sketch.dyadicHeavyHitters(docs, "text", 4, 3, t)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val expect = exact.filter(_._2 >= t)
      assert(got == expect, s"threshold $t")
    }
  }

  test("dyadicSketch: each level's cells sum to the total token count") {
    val n = exact.values.sum
    val perLevel = Sketch.dyadicSketch(docs, "text", depth = 2, hexDigits = 3)
      .groupBy("lvl", "r").agg(sum("cnt").as("s"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(perLevel.size == Sketch.DyadicLevels * 2)
    perLevel.values.foreach(s => assert(s == n))
  }

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  private def sketchIdx(root: String) =
    new graft.streaming.StreamSketch.Index(spark, root, "text")

  test("StreamSketch: any batch split merges to the one-shot batch sketch") {
    val root = java.nio.file.Files.createTempDirectory("cms").toString + "/s"
    (0 until 3).foreach { k =>
      sketchIdx(root).upsert(docs.filter(pmod(col("doc_id"), lit(3)) === k), k.toLong)
    }
    val streamed = cells(graft.streaming.StreamSketch.readSketch(spark, root))
    val oneShot = cells(Sketch.cmsSketch(docs, "text", 4, 3))
    assert(streamed == oneShot)
  }

  test("StreamSketch: a retried (duplicate) append does not double-count") {
    val root = java.nio.file.Files.createTempDirectory("cms2").toString + "/s"
    val half = docs.filter(col("doc_id") % 2 === 0)
    sketchIdx(root).upsert(half, 7L)
    sketchIdx(root).upsert(half, 7L) // retry
    val streamed = cells(graft.streaming.StreamSketch.readSketch(spark, root))
    val oneShot = cells(Sketch.cmsSketch(half, "text", 4, 3))
    assert(streamed == oneShot)
  }

  test("StreamSketch: a pre-compaction batch redelivered AFTER compact is rejected by the watermark") {
    val root = java.nio.file.Files.createTempDirectory("cms3").toString + "/s"
    val s = spark
    val half = docs.filter(col("doc_id") % 2 === 0)
    val rest = docs.filter(col("doc_id") % 2 === 1)
    sketchIdx(root).upsert(half, 1L)
    sketchIdx(root).upsert(rest, 2L)
    sketchIdx(root).compact()
    assert(graft.streaming.StreamSketch.readWatermark(s, root) == 2L)
    // at-least-once redelivery of batch 1 after its delta was folded
    // into batch_id -1: (batch_id, r, b) dedup can't see it any more;
    // the watermark must reject it as a no-op
    sketchIdx(root).upsert(half, 1L)
    val streamed = cells(graft.streaming.StreamSketch.readSketch(s, root))
    val oneShot = cells(Sketch.cmsSketch(docs, "text", 4, 3))
    assert(streamed == oneShot, "redelivered pre-compaction batch double-counted")
    // while genuinely NEW batches still ingest
    sketchIdx(root).upsert(half, 3L)
    val after = cells(graft.streaming.StreamSketch.readSketch(s, root))
    val expect = cells(Sketch.cmsSketch(docs.union(half), "text", 4, 3))
    assert(after == expect)
  }

  test("cmsSketch plan: the only shuffle carries (r, b) cells, never tokens") {
    val plan = Sketch.cmsSketch(docs, "text", 4, 3)
      .queryExecution.executedPlan.toString
    val exchanges = plan.split("\n").filter(_.contains("Exchange"))
    assert(exchanges.nonEmpty)
    // partial aggregation runs map-side, so what crosses the wire is
    // the bounded (r, b) cell relation — no exchange keyed on the
    // token column
    assert(exchanges.forall(l => !l.contains("_tok")),
      s"token-keyed exchange found:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"map-side combine missing:\n$plan")
  }

  test("StreamSketch: point estimates served from the persisted sketch match batch") {
    val root = java.nio.file.Files.createTempDirectory("cms4").toString + "/s"
    (0 until 2).foreach { k =>
      sketchIdx(root).upsert(docs.filter(col("doc_id") % 2 === k), k.toLong)
    }
    val fromDisk = graft.streaming.StreamSketch.readSketch(spark, root)
    val cand = exact.keys.toSeq.toDF("token")
    val est = Sketch.estimateTokens(cand, "token", fromDisk, 4, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val estBatch = Sketch.estimateTokens(cand, "token",
      Sketch.cmsSketch(docs, "text", 4, 3), 4, 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == estBatch)
  }

  test("StreamSketch: a never-written root reads as the empty sketch") {
    val root = java.nio.file.Files.createTempDirectory("cms0").toString + "/nope"
    val empty = graft.streaming.StreamSketch.readSketch(spark, root)
    assert(empty.count() == 0L)
    // point estimates against it coalesce to zero
    val est = Sketch.estimateTokens(Seq("whatever").toDF("token"),
      "token", empty, 4, 3).head().getLong(1)
    assert(est == 0L)
  }

  test("StreamSketch: compact collapses state, read is unchanged") {
    val root = java.nio.file.Files.createTempDirectory("cms3").toString + "/s"
    (0 until 3).foreach { k =>
      sketchIdx(root).upsert(docs.filter(pmod(col("doc_id"), lit(3)) === k), k.toLong)
    }
    val before = cells(graft.streaming.StreamSketch.readSketch(spark, root))
    sketchIdx(root).compact()
    val after = cells(graft.streaming.StreamSketch.readSketch(spark, root))
    assert(after == before)
    val batches = spark.read.parquet(root).select("batch_id").distinct().count()
    assert(batches == 1L)
  }
}
