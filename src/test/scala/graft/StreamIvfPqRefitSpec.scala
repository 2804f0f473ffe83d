package graft

import graft.operators.Similarity
import graft.sources.Tables
import graft.streaming.StreamIvfPq
import org.apache.spark.sql.functions._

/** The versioned-model refit contract ([[StreamIvfPq.refit]]): drift
  * repair fits a NEW generation on the current corpus, publishes it
  * with one atomic marker create, and every entry point resolves the
  * newest COMMITTED generation — a crashed refit is invisible, a
  * served query never pairs one generation's model with another's
  * codes, and post-swap the index answers exactly like a fresh
  * [[Similarity.buildIvfPq]] over the same corpus.
  */
class StreamIvfPqRefitSpec extends SparkSpec {
  import spark.implicits._

  private def ivfIdx(root: String) =
    new StreamIvfPq.Index(spark, root, "vec_id", "embedding")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/root"

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val queryVec: Seq[Double] =
    emb.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
  private lazy val corpus = emb.filter(col("vec_id") > 0)
  private lazy val maxId = corpus.agg(max("vec_id")).head().getLong(0)

  private def topK(root: String): Seq[(Long, Long)] =
    StreamIvfPq.query(spark, root, corpus, "vec_id", "embedding",
      queryVec, kTop = 10).as[(Long, Long)].collect().toSeq

  test("refit swaps to a model equal to a fresh build over the same corpus") {
    val root = tmp("refit-base")
    // generation 0: fit on the lower half, stream the upper half in —
    // the drifted state a refit repairs
    Similarity.buildIvfPq(corpus.filter(col("vec_id") <= maxId / 2),
      "vec_id", "embedding", root)
    ivfIdx(root).upsert(corpus.filter(col("vec_id") > maxId / 2), 0L)
    assert(StreamIvfPq.resolve(spark, root) == root) // still flat gen 0
    // refit on the CURRENT corpus and swap
    val vdir = StreamIvfPq.refit(corpus, "vec_id", "embedding", root)
    assert(StreamIvfPq.resolve(spark, root) == vdir)
    // post-swap answers equal a fresh one-shot build, row for row
    val fresh = tmp("refit-fresh")
    Similarity.buildIvfPq(corpus, "vec_id", "embedding", fresh)
    val want = Similarity.queryIvfPqTable(spark, fresh, corpus,
      "vec_id", "embedding", queryVec, kTop = 10)
      .as[(Long, Long)].collect().toSeq
    assert(topK(root) == want)
    // the superseded flat generation was retired: no stray codes left
    assert(graft.streaming.StreamState.listDataFiles(spark, root).isEmpty)
  }

  test("a crashed refit (no _COMMITTED marker) is invisible; a later refit supersedes it") {
    val root = tmp("refit-crash")
    Similarity.buildIvfPq(corpus, "vec_id", "embedding", root)
    val before = topK(root)
    // simulate the crash: a full v1 build that died before its marker
    Similarity.buildIvfPq(corpus.filter(col("vec_id") <= maxId / 4),
      "vec_id", "embedding", s"$root/_v1")
    assert(StreamIvfPq.resolve(spark, root) == root,
      "an uncommitted generation must not serve")
    assert(topK(root) == before)
    // recovery: the next refit takes v2 (never reuses the wreck) and
    // retires it along with generation 0
    val vdir = StreamIvfPq.refit(corpus, "vec_id", "embedding", root)
    assert(vdir.endsWith("_v2"))
    assert(topK(root) == before)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_v1")))
  }

  test("post-swap upserts encode under the new generation and serve") {
    val root = tmp("refit-upsert")
    val base = corpus.filter(col("vec_id") <= maxId / 2)
    val late = corpus.filter(col("vec_id") > maxId / 2)
    Similarity.buildIvfPq(base, "vec_id", "embedding", root)
    val vdir = StreamIvfPq.refit(base, "vec_id", "embedding", root)
    ivfIdx(root).upsert(late, 0L)
    // the batch landed in the NEW generation's cell partitions …
    assert(spark.read.parquet(vdir).filter(col("batch_id") === 0L).count() ==
      late.count())
    // … is compacted there …
    ivfIdx(root).compact()
    assert(spark.read.parquet(vdir).count() == corpus.count())
    // … and cellStats reads the same generation (total = corpus)
    assert(StreamIvfPq.cellStats(spark, root)
      .agg(sum("rows")).head().getLong(0) == corpus.count())
  }

  test("Maintenance acts on the drift signal: no-op below the threshold, refit at it") {
    import graft.streaming.Maintenance
    val root = tmp("refit-auto")
    val pipeRoot = tmp("refit-auto-pipe")
    Similarity.buildIvfPq(corpus, "vec_id", "embedding", root)
    val imb0 = StreamIvfPq.imbalance(spark, root)
    assert(imb0 >= 1.0)
    // healthy index, threshold above its imbalance → the window must
    // leave the frozen model alone (no flapping)
    val calm = Maintenance.run(spark, pipeRoot, indexes = Seq(ivfIdx(root)),
      ivfPqRefit = Seq(Maintenance.IvfPqRefitPolicy(root,
        _ => corpus, "vec_id", "embedding",
        imbalanceThreshold = imb0 * 1.5 + 0.01)))
    assert(calm.refitIndexes.isEmpty)
    assert(StreamIvfPq.resolve(spark, root) == root)
    // drift: the heaviest cell's vectors arrive twice more under fresh
    // ids — its fill triples while the others stand still
    val heavy = StreamIvfPq.cellStats(spark, root)
      .orderBy(col("rows").desc, col("cluster")).head().get(0)
    // materialize the member ids NOW — the refit below retires the
    // generation-0 files this read depends on
    val heavyIds = spark.read.parquet(StreamIvfPq.resolve(spark, root))
      .filter(col("cluster") === lit(heavy)).select("vec_id")
      .as[Long].collect().toSeq
    val members = corpus.filter(col("vec_id").isin(heavyIds: _*))
    val shift1 = members.withColumn("vec_id", col("vec_id") + lit(maxId))
    val shift2 = members.withColumn("vec_id", col("vec_id") + lit(2 * maxId))
    ivfIdx(root).upsert(shift1, 1L)
    ivfIdx(root).upsert(shift2, 2L)
    val imb1 = StreamIvfPq.imbalance(spark, root)
    assert(imb1 > imb0, s"drift must raise the signal: $imb0 -> $imb1")
    // drifted index, threshold between the calm and drifted readings →
    // the window refits on the live corpus and swaps atomically
    val live = corpus.select("vec_id", "embedding")
      .union(shift1.select("vec_id", "embedding"))
      .union(shift2.select("vec_id", "embedding"))
    val report = Maintenance.run(spark, pipeRoot, indexes = Seq(ivfIdx(root)),
      ivfPqRefit = Seq(Maintenance.IvfPqRefitPolicy(root,
        _ => live, "vec_id", "embedding",
        imbalanceThreshold = (imb0 + imb1) / 2, retireOld = true)))
    assert(report.refitIndexes.size == 1)
    assert(StreamIvfPq.resolve(spark, root) == report.refitIndexes.head)
    // post-swap answers equal a fresh one-shot build over the live set
    val fresh = tmp("refit-auto-fresh")
    Similarity.buildIvfPq(live, "vec_id", "embedding", fresh)
    val want = Similarity.queryIvfPqTable(spark, fresh, live,
      "vec_id", "embedding", queryVec, kTop = 10)
      .as[(Long, Long)].collect().toSeq
    val got = StreamIvfPq.query(spark, root, live, "vec_id", "embedding",
      queryVec, kTop = 10).as[(Long, Long)].collect().toSeq
    assert(got == want)
  }
}
