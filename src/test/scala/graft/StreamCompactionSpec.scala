package graft

import graft.functions.TextFunctions
import graft.operators.{Sketch, Similarity}
import graft.sources.Tables
import graft.streaming.{StreamDedup, StreamIvfPq, StreamPretrain, StreamSemDedup, StreamSketch, StreamState, StreamTextIndex}
import org.apache.spark.sql.functions._

/** The merge-and-retire compaction contract ([[StreamState]]): every
  * incremental-state compactor must be safe BESIDE a live ingest — a
  * micro-batch landing inside the compaction window (after the file
  * snapshot, before the retire) is never erased — and exact across
  * the crash points a real maintenance job can hit. The interleaving
  * is replayed deterministically by pinning the snapshot with
  * `compactSnapshot` and upserting between the pin and the call.
  */
class StreamCompactionSpec extends SparkSpec {
  import spark.implicits._

  // deliberately NOT cached: a cached documents plan would be
  // substituted (as InMemoryRelation) into PlanQualitySpec's
  // pushdown-asserting plans when this suite runs first
  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/root"

  private def hfs = new org.apache.hadoop.fs.Path("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def postings(root: String): Set[(String, Long)] =
    StreamTextIndex.readIndex(spark, root)
      .select("tok", "id").as[(String, Long)].collect().toSet

  private def scanPostings(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.select(col("doc_id"),
        explode(TextFunctions.tokenSet(lower(col("text")))).as("tok"))
      .select("tok", "doc_id").as[(String, Long)].collect().toSet

  test("text index: an upsert landing mid-compaction survives the retire") {
    val root = tmp("sci-idx")
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    StreamTextIndex.upsertBatch(b0, "doc_id", "text", root, 0L)
    StreamTextIndex.upsertBatch(b1, "doc_id", "text", root, 1L)
    // the compaction pins its snapshot …
    val snapshot = StreamState.listDataFiles(spark, root)
    // … and a live ingest lands INSIDE the compaction window
    StreamTextIndex.upsertBatch(b2, "doc_id", "text", root, 2L)
    StreamTextIndex.compactSnapshot(spark, root, snapshot)
    // the late batch's postings were not erased: the index equals a
    // full scan of the union, including b2-only terms
    assert(postings(root) == scanPostings(docs))
    // and the bucket marker survived (it is never rewritten)
    assert(StreamTextIndex.bucketsOf(spark, root) == 64)
  }

  test("text index: a crash between merge-append and retire only costs space") {
    val root = tmp("sci-idx-crash")
    (0 until 3).foreach { k =>
      StreamTextIndex.upsertBatch(docs.filter(col("doc_id") % 3 === k),
        "doc_id", "text", root, k.toLong)
    }
    val want = scanPostings(docs)
    // back the snapshot files up, compact, then restore them — the
    // on-disk state is exactly a crash after the merged append but
    // before the retire-delete
    val snapshot = StreamState.listDataFiles(spark, root)
    val backup = new org.apache.hadoop.fs.Path(tmp("sci-idx-bak"))
    hfs.mkdirs(backup)
    val conf = spark.sparkContext.hadoopConfiguration
    snapshot.zipWithIndex.foreach { case (f, i) =>
      org.apache.hadoop.fs.FileUtil.copy(hfs,
        new org.apache.hadoop.fs.Path(f), hfs,
        new org.apache.hadoop.fs.Path(backup, s"$i"), false, conf)
    }
    StreamTextIndex.compact(spark, root)
    snapshot.zipWithIndex.foreach { case (f, i) =>
      org.apache.hadoop.fs.FileUtil.copy(hfs,
        new org.apache.hadoop.fs.Path(backup, s"$i"), hfs,
        new org.apache.hadoop.fs.Path(f), false, conf)
    }
    // duplicated mass on disk, identical answers (postings are a set)
    assert(postings(root) == want)
    // the next compaction retires the leftovers and still agrees:
    // state is back to exactly one row per live posting
    StreamTextIndex.compact(spark, root)
    assert(postings(root) == want)
    assert(spark.read.parquet(root).count() == want.size)
  }

  test("text index: re-ingesting a modified document serves only the new version") {
    val root = tmp("sci-idx-upd")
    StreamTextIndex.upsertBatch(docs, "doc_id", "text", root, 0L)
    StreamTextIndex.compact(spark, root)
    // update every 7th document to entirely new content
    val upd = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(lit("refreshedcontent marker"),
        lit(" doc "), col("doc_id")))
    StreamTextIndex.upsertBatch(upd, "doc_id", "text", root, 1L)
    StreamTextIndex.upsertBatch(upd, "doc_id", "text", root, 1L) // retry
    // latest-wins from the first read: equals a fresh build over the
    // FINAL corpus — stale tokens of updated docs stop matching
    val finalCorpus = docs.filter(col("doc_id") % 7 =!= 0).unionByName(upd)
    val want = scanPostings(finalCorpus)
    assert(postings(root) == want)
    // updated docs match their new marker token, and none of them
    // still matches a token that only their OLD text contained
    val gotMarker = StreamTextIndex.lookup(spark, root, "refreshedcontent")
      .as[Long].collect().toSet
    assert(gotMarker == upd.select("doc_id").as[Long].collect().toSet)
    // compaction folds the superseded generation away and agrees
    StreamTextIndex.compact(spark, root)
    assert(postings(root) == want)
    assert(spark.read.parquet(root).count() == want.size)
    // a redelivery of the ORIGINAL batch after compaction cannot
    // resurrect the old content
    StreamTextIndex.upsertBatch(docs.filter(col("doc_id") % 7 === 0),
      "doc_id", "text", root, 0L)
    assert(postings(root) == want)
  }

  test("text index: an explicit bucket modulus that disagrees with the persisted one is rejected") {
    val root = tmp("sci-idx-mod")
    val b0 = docs.limit(5)
    StreamTextIndex.upsertBatch(b0, "doc_id", "text", root, 0L, buckets = 32)
    assert(StreamTextIndex.bucketsOf(spark, root) == 32)
    val e = intercept[IllegalArgumentException] {
      StreamTextIndex.upsertBatch(b0, "doc_id", "text", root, 1L, buckets = 16)
    }
    assert(e.getMessage.contains("bucket modulus"))
    // the persisted modulus (or no modulus at all) is accepted
    StreamTextIndex.upsertBatch(b0, "doc_id", "text", root, 1L, buckets = 32)
    StreamTextIndex.upsertBatch(b0, "doc_id", "text", root, 2L)
  }

  test("fresh-root modulus claim is single-winner: concurrent claimers cannot fork the layout") {
    // the r12 verdict's remaining writer+writer window: two upsertBatch
    // callers on a FRESH root both observe "no marker" and race the
    // creation. The claim is temp+rename (atomic, content-complete
    // before the name exists) — of N concurrent claimers exactly one
    // wins, losers conform to the winner's modulus or reject loudly.
    val root = tmp("claimrace")
    // N threads claim DISTINCT moduli at once
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]
    val threads = (1 to 8).map { i =>
      new Thread(() => results.put(i * 8,
        StreamState.claimSidecar(spark,
          new org.apache.hadoop.fs.Path(root, "_graft_buckets"),
          (i * 8).toString)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val winners = results.asScala.filter(_._2).keys.toSeq
    assert(winners.size == 1, s"claim race had ${winners.size} winners")
    // the marker content IS the winner's — never a loser's, never torn
    assert(StreamTextIndex.bucketsOf(spark, root) == winners.head)
    // a losing writer that passed NO explicit modulus conforms silently
    assert(StreamTextIndex.claimModulus(spark, root,
      requested = -1, chosen = 64) == winners.head)
    // one that passed a CONFLICTING explicit modulus is rejected loudly
    val e = intercept[IllegalArgumentException] {
      StreamTextIndex.claimModulus(spark, root,
        requested = 1000, chosen = 1000)
    }
    assert(e.getMessage.contains("single-modulus"), e.getMessage)
    // and the full upsert path over the claimed root works as usual
    StreamTextIndex.upsertBatch(docs.limit(50), "doc_id", "text", root, 0L)
    assert(postings(root) == scanPostings(docs.limit(50)))
  }

  test("claimSidecar (create-path): a torn write deletes the marker so a retry can win") {
    // the HDFS-like branch (create(overwrite=false)) used to swallow
    // EVERY IOException as 'lost the race' — a write/close failure
    // after a successful create left a torn marker that wedged the
    // root forever (claimModulus's 'winner crashed mid-claim; retry'
    // re-enters, sees the marker exists, loses again). Exercised via
    // a scheme whose FileSystem fails the first write after create.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.torn.impl", classOf[TornClaimFs].getName)
    val dir = java.nio.file.Files.createTempDirectory("tornclaim")
    val p = new org.apache.hadoop.fs.Path(s"torn://$dir/_graft_buckets")
    TornClaimFs.failNextWrite.set(true)
    intercept[java.io.IOException] {
      StreamState.claimSidecar(spark, p, "64")
    }
    val tfs = p.getFileSystem(conf)
    assert(!tfs.exists(p), "torn marker left behind wedges the root")
    // the retry wins cleanly; a later claimer loses as usual
    assert(StreamState.claimSidecar(spark, p, "64"))
    assert(!StreamState.claimSidecar(spark, p, "32"))
  }

  test("legacy generation log: a plain append after the upgrade keeps its committed deletion") {
    // a pre-marker root: generation rows with one tombstone, no sidecars
    val root = tmp("legacy_gens")
    Seq((1L, 0L, false), (2L, 0L, false), (1L, 1L, true))
      .toDF("id", "batch_id", "del")
      .write.parquet(StreamState.genLogPath(root))
    assert(StreamState.tombstonesExist(spark, root))
    // the first marker-aware append must not make the log look delete-free
    StreamState.appendGens(Seq(3L).toDF("id"), root, 2L)
    assert(StreamState.tombstonesExist(spark, root))
    assert(StreamState.tombstones(spark, root)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // the dead set every generation-tracked upsert excludes
    assert(StreamState.updatedGens(spark, root).filter(col("_del"))
      .select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("generation log reads name their files: no 'All paths were ignored' warning, same rows") {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val root = tmp("gens_warn")
    // a pre-tombstone file (no `del` column) beside marker-aware ones:
    // the schema merge still has to happen
    Seq((1L, 0L)).toDF("id", "batch_id").write.parquet(StreamState.genLogPath(root))
    StreamState.appendGens(Seq(2L, 3L).toDF("id"), root, 1L)
    StreamState.appendGens(Seq(2L).toDF("id"), root, 2L, del = true)
    val ignored = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("paths-ignored", null, null, true,
        Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("All paths were ignored")) ignored.add(m)
      }
    }
    val logger = LoggerContext.getContext(false)
      .getLogger("org.apache.spark.sql.execution.datasources.DataSource")
    val level = logger.getLevel
    app.start()
    logger.addAppender(app)
    logger.setLevel(Level.WARN)
    try {
      val rows = StreamState.readGenLog(spark, root)
        .select("id", "batch_id", "del").as[(Long, Long, Boolean)].collect()
      assert(ignored.isEmpty, s"warned: $ignored")
      assert(rows.sorted.toSeq ==
        Seq((1L, 0L, false), (2L, 1L, false), (2L, 2L, true), (3L, 1L, false)))
      // the directory read the log used before: same rows, and the
      // warning this capture must see
      val direct = spark.read.option("mergeSchema", "true")
        .parquet(StreamState.genLogPath(root))
        .select(col("id"), col("batch_id"), coalesce(col("del"), lit(false)))
        .as[(Long, Long, Boolean)].collect()
      assert(direct.sorted.toSeq == rows.sorted.toSeq)
      assert(ignored.size == 1, s"capture saw: $ignored")
    } finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
  }

  test("existence probe: a marker-only _docs reads false, one data file in the last bucket reads true") {
    import org.apache.hadoop.fs.Path
    val root = tmp("probe")
    assert(!StreamState.hasDataFiles(spark, root), "a missing root")
    // a generation log whose marker sidecar landed before any parquet
    val log = StreamState.genLogPath(root)
    hfs.create(new Path(log, "_has_tombstones")).close()
    assert(!StreamState.genLogExists(spark, root))
    // the label table's bucket layout: every pl= directory present,
    // only metadata and in-flight files until the last bucket's data
    val labels = s"$root/labels"
    (0 until 64).foreach(b => hfs.mkdirs(new Path(s"$labels/pl=$b")))
    hfs.create(new Path(labels, "_SUCCESS")).close()
    hfs.create(new Path(s"$labels/pl=3", ".part-0.parquet.inprogress")).close()
    assert(!graft.streaming.StreamDedup.labelsExist(spark, root))
    assert(StreamState.listDataFiles(spark, labels).isEmpty)
    hfs.create(new Path(s"$labels/pl=63", "part-0.parquet")).close()
    assert(graft.streaming.StreamDedup.labelsExist(spark, root))
    assert(StreamState.listDataFiles(spark, labels).nonEmpty)
    hfs.create(new Path(log, "part-0.parquet")).close()
    assert(StreamState.genLogExists(spark, root))
  }

  test("a root holding only hidden entries reads as the empty sketch and the empty index") {
    import org.apache.hadoop.fs.Path
    // what a killed first append plus a stray in-flight file leave
    Seq("sketch", "index").foreach { kind =>
      val root = tmp(s"hidden-$kind")
      hfs.mkdirs(new Path(s"$root/_temporary/0"))
      hfs.create(new Path(root, ".part-0.parquet.crc")).close()
      val read =
        if (kind == "sketch") StreamSketch.readSketch(spark, root)
        else StreamTextIndex.readIndex(spark, root)
      assert(read.isEmpty, s"$kind on hidden-only root")
    }
  }

  test("text index: deletes tombstone, resurrect, and physically retire at compaction") {
    val root = tmp("sci-idx-del")
    StreamTextIndex.upsertBatch(docs, "doc_id", "text", root, 0L)
    // delete every 5th doc — postings untouched, one log row each
    val dead = docs.filter(col("doc_id") % 5 === 0)
    StreamTextIndex.deleteDocs(dead.select("doc_id"), "doc_id", root, 1L)
    val alive = docs.filter(col("doc_id") % 5 =!= 0)
    assert(postings(root) == scanPostings(alive))
    // resurrect half of the deleted under a higher batch id
    val back = dead.filter(col("doc_id") % 10 === 0)
    StreamTextIndex.upsertBatch(back, "doc_id", "text", root, 2L)
    val fin = alive.unionByName(back)
    assert(postings(root) == scanPostings(fin))
    // compaction physically retires the still-dead postings …
    StreamTextIndex.compact(spark, root)
    assert(postings(root) == scanPostings(fin))
    val stillDead = dead.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id").as[Long].collect().toSet
    val onDisk = spark.read.parquet(root)
      .select("id").as[Long].collect().toSet
    assert(onDisk.intersect(stillDead).isEmpty,
      "tombstoned postings not physically retired")
    // … keeps the tombstone (a redelivery of the ORIGINAL batch
    // cannot resurrect deleted content) …
    StreamTextIndex.upsertBatch(dead, "doc_id", "text", root, 0L)
    assert(postings(root) == scanPostings(fin))
    // … and a second compaction converges back to one live row each
    StreamTextIndex.compact(spark, root)
    assert(postings(root) == scanPostings(fin))
    assert(spark.read.parquet(root).count() == scanPostings(fin).size)
  }

  test("bpe stream: splits + retry + mid-compaction batch equal the one-shot encode; update is latest-wins") {
    import graft.operators.Bpe
    import graft.streaming.StreamBpe
    val root = tmp("sci-bpe")
    val frozen = Bpe.learnMerges(docs, "text", 4)
    def enc(df: org.apache.spark.sql.DataFrame) =
      Bpe.encodeIdsWith(df, "doc_id", "text", frozen)
        .as[(Long, Long, String, Long)].collect().toSet
    def got() = StreamBpe.readEncoded(spark, root)
      .as[(Long, Long, String, Long)].collect().toSet
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    StreamBpe.encodeBatch(b0, "doc_id", "text", frozen, root, 0L)
    StreamBpe.encodeBatch(b1, "doc_id", "text", frozen, root, 1L)
    // a batch lands INSIDE the compaction window and must survive
    val snapshot = StreamState.listDataFiles(spark, root)
    StreamBpe.encodeBatch(b2, "doc_id", "text", frozen, root, 2L)
    StreamBpe.compactSnapshot(spark, root, snapshot)
    StreamBpe.encodeBatch(b1, "doc_id", "text", frozen, root, 1L) // retry
    assert(got() == enc(docs))
    // re-ingesting a MODIFIED document serves only the new encoding
    val upd = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("text", concat(lit("fresh words only "), col("doc_id")))
    StreamBpe.encodeBatch(upd, "doc_id", "text", frozen, root, 3L)
    val finalCorpus = docs.filter(col("doc_id") % 11 =!= 0).unionByName(upd)
    assert(got() == enc(finalCorpus))
    StreamBpe.compact(spark, root)
    assert(got() == enc(finalCorpus))
    assert(spark.read.parquet(root).count() == enc(finalCorpus).size)
    // the packed-shard face agrees with packing the one-shot counts
    val want = graft.operators.Pack.packCounts(
      Bpe.encodeIdsWith(finalCorpus, "doc_id", "text", frozen)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
      "doc_id", 512).collect().map(_.toSeq).toSet
    val gotPack = StreamBpe.packShards(spark, root, 512)
      .collect().map(_.toSeq).toSet
    assert(gotPack == want)
    // the compliance path: delete every 13th doc — pieces stop
    // serving immediately, compaction physically retires them
    val dead = docs.filter(col("doc_id") % 13 === 0)
    StreamBpe.deleteDocs(dead.select("doc_id"), "doc_id", root, 4L)
    val afterDel = finalCorpus.filter(col("doc_id") % 13 =!= 0)
    assert(got() == enc(afterDel))
    StreamBpe.compact(spark, root)
    assert(got() == enc(afterDel))
    val deadIds = dead.select("doc_id").as[Long].collect().toSet
    val onDisk = spark.read.parquet(root)
      .select("doc_id").as[Long].collect().toSet
    assert(onDisk.intersect(deadIds).isEmpty,
      "tombstoned piece rows not physically retired")
  }

  test("IVF-PQ: an upsert landing mid-compaction survives, and _meta is never touched") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val query: Seq[Double] =
      emb.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val corpus = emb.filter(col("vec_id") > 0)
    val maxId = corpus.agg(max("vec_id")).head().getLong(0)
    val base = corpus.filter(col("vec_id") <= maxId / 2)
    val b1 = corpus.filter(col("vec_id") > maxId / 2 && col("vec_id") % 2 === 0)
    val b2 = corpus.filter(col("vec_id") > maxId / 2 && col("vec_id") % 2 === 1)
    val dir = tmp("sci-ivfpq")
    Similarity.buildIvfPq(base, "vec_id", "embedding", dir)
    StreamIvfPq.upsertBatch(b1, "vec_id", "embedding", dir, 0L)
    val metaBefore = hfs.listStatus(
      new org.apache.hadoop.fs.Path(dir, "_meta")).map(s =>
        (s.getPath.getName, s.getModificationTime)).toSeq
    val snapshot = StreamState.listDataFiles(spark, dir)
    StreamIvfPq.upsertBatch(b2, "vec_id", "embedding", dir, 1L) // mid-window
    StreamIvfPq.compactSnapshot(spark, dir, dir, snapshot)
    // every id is served — including the batch that landed mid-window
    assert(spark.read.parquet(dir).select("vec_id").distinct().count() ==
      corpus.count())
    val got = Similarity.queryIvfPqTable(spark, dir, corpus,
      "vec_id", "embedding", query, kTop = 10).as[(Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    // the frozen model's sidecar was not rewritten or deleted
    val metaAfter = hfs.listStatus(
      new org.apache.hadoop.fs.Path(dir, "_meta")).map(s =>
        (s.getPath.getName, s.getModificationTime)).toSeq
    assert(metaAfter == metaBefore, "_meta was touched by compaction")
  }

  test("IVF-PQ: tombstone deletes stop ranking, resurrect, and are physically retired") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val query: Seq[Double] =
      emb.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)
    val corpus = emb.filter(col("vec_id") > 0)
    val maxId = corpus.agg(max("vec_id")).head().getLong(0)
    val base = corpus.filter(col("vec_id") <= maxId / 2)
    val b1 = corpus.filter(col("vec_id") > maxId / 2 && col("vec_id") % 2 === 0)
    val b2 = corpus.filter(col("vec_id") > maxId / 2 && col("vec_id") % 2 === 1)
    val dir = tmp("sci-ivfpq-del")
    Similarity.buildIvfPq(base, "vec_id", "embedding", dir)
    StreamIvfPq.upsertBatch(b1, "vec_id", "embedding", dir, 0L)
    StreamIvfPq.upsertBatch(b2, "vec_id", "embedding", dir, 1L)
    def top(k: Int): Seq[(Long, Long)] =
      StreamIvfPq.query(spark, dir, corpus, "vec_id", "embedding",
        query, k).as[(Long, Long)].collect().toSeq
    val before = top(10)
    val deadIds = before.take(2).map(_._1)
    // delete the current top 2: they stop ranking from the next read,
    // the rest of the list is unchanged
    StreamIvfPq.deleteVecs(deadIds.toDF("vec_id"), "vec_id", dir, 2L)
    assert(top(10).take(8) == before.drop(2))
    // a stale redelivery of the pre-delete batches re-appends dead
    // rows, but their generations cannot outrank the tombstone
    StreamIvfPq.upsertBatch(b1, "vec_id", "embedding", dir, 0L)
    StreamIvfPq.upsertBatch(b2, "vec_id", "embedding", dir, 1L)
    assert(top(10).take(8) == before.drop(2))
    // a LATER upsert resurrects: answers return to the original list
    StreamIvfPq.upsertBatch(corpus.filter(col("vec_id").isin(deadIds: _*)),
      "vec_id", "embedding", dir, 3L)
    assert(top(10) == before)
    // delete again + compact: the dead code rows are physically gone
    StreamIvfPq.deleteVecs(deadIds.toDF("vec_id"), "vec_id", dir, 4L)
    StreamIvfPq.compact(spark, dir)
    assert(spark.read.parquet(dir)
      .filter(col("vec_id").isin(deadIds: _*)).count() == 0,
      "tombstoned code rows not physically retired")
    assert(top(8) == before.drop(2))
    // the race: a resurrection landing INSIDE the compaction window
    // survives the tombstone retire (its file is outside the snapshot)
    val x = before.drop(2).head._1
    StreamIvfPq.deleteVecs(Seq(x).toDF("vec_id"), "vec_id", dir, 5L)
    val snapshot = StreamState.listDataFiles(spark, dir)
    StreamIvfPq.upsertBatch(corpus.filter(col("vec_id") === x),
      "vec_id", "embedding", dir, 6L) // mid-window
    StreamIvfPq.compactSnapshot(spark, dir, dir, snapshot)
    assert(top(8).map(_._1).contains(x),
      "mid-compaction resurrection was erased by the tombstone retire")
  }

  private def cells(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap

  test("dedup index: an upsert landing mid-compaction survives, and the fold removes retry duplicates") {
    import graft.streaming.StreamDedup
    val root = tmp("sci-ndx")
    val cfg = StreamDedup.Config(threshold = 0.5)
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    StreamDedup.upsertBatchWithLabels(b0, "doc_id", "text", root, cfg)
    StreamDedup.upsertBatchWithLabels(b1, "doc_id", "text", root, cfg)
    StreamDedup.upsertBatchWithLabels(b1, "doc_id", "text", root, cfg) // retry
    // the batch clustering over the whole corpus is the target
    val want = graft.operators.Dedup.nearDupClusters(
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
        cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold))
      .as[(Long, Long)].collect().toSet
    // the compaction pins its snapshots …
    val bandsSnap = StreamState.listDataFiles(spark, s"$root/bands")
    val sigsSnap = StreamState.listDataFiles(spark, s"$root/sigs")
    // … and a live ingest lands INSIDE the compaction window
    StreamDedup.upsertBatchWithLabels(b2, "doc_id", "text", root, cfg)
    StreamDedup.compactSnapshots(spark, bandsSnap, sigsSnap, root)
    // the late batch's bands/sigs were not erased: pairs derivable
    // from the index still equal the batch operator over the union,
    // and the maintained labels equal the batch clustering
    val idxPairs = StreamDedup.indexPairs(spark, root, cfg)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchPairs = graft.operators.Dedup.minhashLsh(docs, "doc_id",
        "text", cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(idxPairs == batchPairs && idxPairs.nonEmpty)
    assert(StreamDedup.indexLabels(spark, root)
      .as[(Long, Long)].collect().toSet == want)
    // the fold actually removed the retry's duplicate rows: one
    // (id, band, bucket) row each for the compacted batches (the
    // mid-compaction batch keeps its own single copy regardless)
    val bands = spark.read.parquet(s"$root/bands")
    assert(bands.count() == bands.dropDuplicates("id", "band", "bucket").count())
  }

  test("dedup index: deletes split components, promote canonicals, resurrect, and physically retire") {
    import graft.streaming.StreamDedup
    val root = tmp("sci-del")
    val cfg = StreamDedup.Config(threshold = 0.5)
    // two disjoint token streams, three sliding windows each:
    // chain a~b, b~c, a!~c (3-shingle Jaccard .589/.589/.318) — b is
    // the bridge; clique g~h~i (.78/.78/.61) — g is the min id
    def stream(p: String) = (1 to 90).map(i => f"$p$i%02d")
    def sl(t: Seq[String], lo: Int, hi: Int) =
      t.slice(lo - 1, hi).mkString(" ")
    val at = stream("at"); val gt = stream("gt")
    val a = (10L, sl(at, 1, 60)); val b = (20L, sl(at, 16, 75))
    val c = (30L, sl(at, 31, 90))
    val g = (40L, sl(gt, 1, 60)); val h = (50L, sl(gt, 8, 67))
    val i9 = (60L, sl(gt, 15, 74))
    def up(rows: Seq[(Long, String)], bid: Long) =
      StreamState.release(StreamDedup.upsertBatchWithLabels(
        rows.toDF("doc_id", "text"), "doc_id", "text", root, cfg,
        batchId = bid))
    def labels() = StreamDedup.indexLabels(spark, root)
      .as[(Long, Long)].collect().toSet
    def pairIds() = StreamDedup.indexPairs(spark, root, cfg)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    up(Seq(a, c, g, h), 0L)
    up(Seq(b, i9), 1L)
    assert(labels() == Set((10L, 10L), (20L, 10L), (30L, 10L),
      (40L, 40L), (50L, 40L), (60L, 40L)))
    // delete the bridge (splits {10,20,30}: survivors lose their only
    // partner) and the clique's canonical (promotes min(50,60))
    StreamDedup.deleteDocs(spark, root,
      Seq(20L, 40L).toDF("id"), 2L, cfg)
    assert(labels() == Set((50L, 50L), (60L, 50L)))
    assert(pairIds() == Set((50L, 60L)))
    // the index still ingests: a fresh doc with the dead bridge's text
    // pairs with the live chain ends, never with the tombstoned id
    up(Seq((70L, sl(at, 16, 75))), 3L)
    assert(labels() == Set((10L, 10L), (30L, 10L), (70L, 10L),
      (50L, 50L), (60L, 50L)))
    // resurrect the bridge: a later upsert under a higher batch id
    up(Seq(b), 4L)
    assert(labels() == Set((10L, 10L), (20L, 10L), (30L, 10L),
      (70L, 10L), (50L, 50L), (60L, 50L)))
    // compaction physically retires the still-dead doc's derived data
    // and keeps the resurrected one's
    StreamDedup.compact(spark, root)
    val sigIds = spark.read.parquet(s"$root/sigs")
      .select("id").as[Long].collect().toSet
    val bandIds = spark.read.parquet(s"$root/bands")
      .select("id").as[Long].collect().toSet
    assert(!sigIds.contains(40L) && !bandIds.contains(40L))
    assert(sigIds.contains(20L) && bandIds.contains(20L))
    assert(labels() == Set((10L, 10L), (20L, 10L), (30L, 10L),
      (70L, 10L), (50L, 50L), (60L, 50L))) // reads unchanged
  }

  test("dedup index: an upsert that resurrects an id returns its pairs with live history and same-batch partners") {
    import graft.streaming.StreamDedup
    val root = tmp("sci-res")
    val cfg = StreamDedup.Config(threshold = 0.5)
    // chain a~b, b~c, a!~c (the deletes test's texts); d repeats b's
    // text, so it pairs with a, b and c
    def sl(lo: Int, hi: Int) =
      (1 to 90).map(i => f"at$i%02d").slice(lo - 1, hi).mkString(" ")
    val a = (10L, sl(1, 60)); val b = (20L, sl(16, 75))
    val c = (30L, sl(31, 90)); val d = (80L, sl(16, 75))
    def up(rows: Seq[(Long, String)], bid: Long): Set[(Long, Long)] = {
      val pairs = StreamDedup.upsertBatchWithLabels(
        rows.toDF("doc_id", "text"), "doc_id", "text", root, cfg,
        batchId = bid)
      try pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      finally StreamState.release(pairs)
    }
    up(Seq(a, c), 0L)
    up(Seq(b), 1L)
    StreamDedup.deleteDocs(spark, root, Seq(20L).toDF("id"), 2L, cfg)
    assert(StreamDedup.indexLabels(spark, root).count() == 0)
    // the resurrecting upsert: b pairs with its live history partners
    // (a, c) and with d, which arrives beside it
    assert(up(Seq(b, d), 3L) == Set((10L, 20L), (20L, 30L), (20L, 80L),
      (10L, 80L), (30L, 80L)))
    assert(StreamDedup.indexLabels(spark, root).as[(Long, Long)]
      .collect().toSet == Set((10L, 10L), (20L, 10L), (30L, 10L), (80L, 10L)))
    assert(StreamDedup.indexPairs(spark, root, cfg).count() == 5)
  }

  test("dedup index: an upsert scans the band history once, and the pairs equal the batch operator") {
    import graft.streaming.StreamDedup
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val root = tmp("sci-scan")
    val cfg = StreamDedup.Config(threshold = 0.5)
    def up(batch: org.apache.spark.sql.DataFrame, bid: Long) = {
      val pairs = StreamDedup.upsertBatch(batch, "doc_id", "text", root,
        cfg, batchId = bid)
      try pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      finally StreamState.release(pairs)
    }
    val first = up(docs.filter(col("doc_id") % 2 === 0), 0L)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val second = try {
      val s = up(docs.filter(col("doc_id") % 2 === 1), 1L)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      s
    } finally spark.listenerManager.unregister(listener)
    val bands = new java.io.File(s"$root/bands").getCanonicalPath
    val helper = new AdaptiveSparkPlanHelper {}
    val scans = plans.asScala.toSeq.flatMap(p => helper.collectWithSubqueries(p) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(r =>
            new java.io.File(r.toUri.getPath).getCanonicalPath == bands) => s
    })
    assert(scans.size == 1,
      s"${scans.size} band-history scans ran in one upsert")
    val want = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
        cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(first ++ second == want && second.nonEmpty)
  }

  test("dedup index: after deletions, labels and pairs equal the batch operator over the live corpus") {
    import graft.streaming.StreamDedup
    val root = tmp("sci-delx")
    val cfg = StreamDedup.Config(threshold = 0.5)
    (0 until 3).foreach { k =>
      StreamState.release(StreamDedup.upsertBatchWithLabels(
        docs.filter(col("doc_id") % 3 === k), "doc_id", "text", root,
        cfg, batchId = k.toLong))
    }
    StreamDedup.deleteDocs(spark, root,
      docs.filter(col("doc_id") % 7 === 3).select("doc_id"), 3L, cfg)
    val live = docs.filter(col("doc_id") % 7 =!= 3)
    val wantPairs = graft.operators.Dedup.minhashLsh(live, "doc_id",
        "text", cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val wantLabels = graft.operators.Dedup.nearDupClusters(
      graft.operators.Dedup.minhashLsh(live, "doc_id", "text",
        cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold))
      .as[(Long, Long)].collect().toSet
    assert(StreamDedup.indexPairs(spark, root, cfg)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      == wantPairs && wantPairs.nonEmpty)
    assert(StreamDedup.indexLabels(spark, root)
      .as[(Long, Long)].collect().toSet == wantLabels)
    // deletions actually bit: the live clustering is a strict subset
    // of the full-corpus one
    assert(wantLabels != graft.operators.Dedup.nearDupClusters(
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
        cfg.shingleSize, cfg.numHashes, cfg.bands, cfg.threshold))
      .as[(Long, Long)].collect().toSet)
  }

  test("per-batch label ingest releases its checkpoint blocks — no storage growth across batches") {
    import graft.streaming.StreamDedup
    val root = tmp("sci-rel")
    val cfg = StreamDedup.Config(threshold = 0.5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // three micro-batches, each materializing a pair delta + a label
    // fold — the long-lived-ingest shape (StreamPretrain.ingestBatch /
    // StreamDedup.attach), where unreleased deltas would pin executor
    // blocks until a driver GC happens to run
    for (i <- 0 to 2) {
      StreamState.release(StreamDedup.upsertBatchWithLabels(
        docs.filter(col("doc_id") % 3 === i), "doc_id", "text", root, cfg))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"ingest left pinned RDDs behind: $leaked")
    // releasing blocks must not have broken the maintained state
    assert(StreamDedup.indexLabels(spark, root).count() > 0)
  }

  test("sketch: a new batch AND a folded-batch redelivery landing mid-compaction both stay exact") {
    val root = tmp("sci-cms")
    val b1 = docs.filter(col("doc_id") % 3 === 0)
    val b2 = docs.filter(col("doc_id") % 3 === 1)
    val b3 = docs.filter(col("doc_id") % 3 === 2)
    StreamSketch.upsertBatch(b1, "text", root, 1L)
    StreamSketch.upsertBatch(b2, "text", root, 2L)
    val snapshot = StreamState.listDataFiles(spark, root)
    // mid-window: a genuinely NEW batch …
    StreamSketch.upsertBatch(b3, "text", root, 3L)
    // … and an at-least-once REDELIVERY of batch 1 that slipped past
    // the watermark check (the watermark is still −1 here) — the
    // pre-r12 design double-counted exactly this row set
    StreamSketch.upsertBatch(b1, "text", root, 1L)
    StreamSketch.compactSnapshot(spark, root, snapshot)
    assert(StreamSketch.readWatermark(spark, root) == 2L)
    val got = cells(StreamSketch.readSketch(spark, root))
    val want = cells(Sketch.cmsSketch(docs, "text", 4, 3))
    assert(got == want,
      "mid-compaction interleaving lost or double-counted a batch")
    // the next compaction folds the survivors in and still agrees
    StreamSketch.compact(spark, root)
    assert(StreamSketch.readWatermark(spark, root) == 3L)
    assert(cells(StreamSketch.readSketch(spark, root)) == want)
  }

  test("sketch: a compaction that crashed before its watermark write is invisible, then converges") {
    val root = tmp("sci-cms-crash")
    val b1 = docs.filter(col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 2 === 1)
    StreamSketch.upsertBatch(b1, "text", root, 1L)
    StreamSketch.upsertBatch(b2, "text", root, 2L)
    StreamSketch.compact(spark, root) // watermark 2, merge id −4
    val extra = docs.filter(col("doc_id") % 5 === 0)
    StreamSketch.upsertBatch(extra, "text", root, 3L)
    val want = cells(Sketch.cmsSketch(docs.union(extra), "text", 4, 3))
    assert(cells(StreamSketch.readSketch(spark, root)) == want)
    // simulate the crash: a later compaction appended its merge
    // (id −(3+2) = −5) and died before advancing the watermark —
    // write exactly those rows, touch nothing else
    StreamSketch.readSketch(spark, root)
      .withColumn("batch_id", lit(-5L))
      .write.mode("append").partitionBy("r").parquet(root)
    // the half-written merge is ignored: watermark still vouches for −4
    assert(cells(StreamSketch.readSketch(spark, root)) == want,
      "half-written merge generation was double-counted")
    // re-running compaction retires the wreckage and converges
    StreamSketch.compact(spark, root)
    assert(StreamSketch.readWatermark(spark, root) == 3L)
    assert(cells(StreamSketch.readSketch(spark, root)) == want)
    assert(spark.read.parquet(root).select("batch_id").distinct().count() == 1L)
  }

  // ---- the state-table layout ([[StreamState.append]]) ---------------

  /** Data files per directory, over the tables at `paths`. */
  private def filesPerDir(paths: Seq[String]): Map[String, Int] =
    paths.flatMap(StreamState.listDataFiles(spark, _))
      .groupBy(f => new org.apache.hadoop.fs.Path(f).getParent.toString)
      .map { case (d, fs) => d -> fs.size }

  /** The files `append` added, per directory it touched. */
  private def gained(paths: Seq[String])(append: => Unit): Map[String, Int] = {
    val before = filesPerDir(paths)
    append
    filesPerDir(paths).map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
      .filter(_._2 != 0)
  }

  /** A partitioned state table: where its files live, one upsert under
    * a batch id, and its compaction — each on a fresh root. */
  private case class Partitioned(name: String, paths: String => Seq[String],
      init: String => Unit, upsert: (String, Long) => Unit,
      compact: String => Unit)

  test("layout: each partitioned state table gains one file per touched directory per append, one per directory after compaction") {
    val emb = Tables.load(spark, sfDir, "embeddings").filter(col("vec_id") > 0)
    val maxVec = emb.agg(max("vec_id")).head().getLong(0)
    val vecs = emb.filter(col("vec_id") > maxVec / 2)
    val sem = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val semModel = StreamSemDedup.fit(sem, "id", "v", k = 8, iterations = 2,
      threshold = 0.3)
    val near = StreamDedup.Config(threshold = 0.5)
    def half(df: org.apache.spark.sql.DataFrame, idCol: String, b: Long) =
      df.filter(col(idCol) % 2 === b)
    val tables = Seq(
      Partitioned("text index (bucket)", r => Seq(r), _ => (),
        (r, b) => StreamTextIndex.upsertBatch(half(docs, "doc_id", b),
          "doc_id", "text", r, b),
        StreamTextIndex.compact(spark, _)),
      Partitioned("sketch (r)", r => Seq(r), _ => (),
        (r, b) => StreamSketch.upsertBatch(half(docs, "doc_id", b), "text",
          r, b),
        StreamSketch.compact(spark, _)),
      Partitioned("IVF-PQ (cluster)", r => Seq(r),
        r => Similarity.buildIvfPq(emb.filter(col("vec_id") <= maxVec / 2),
          "vec_id", "embedding", r),
        (r, b) => StreamIvfPq.upsertBatch(half(vecs, "vec_id", b), "vec_id",
          "embedding", r, b),
        StreamIvfPq.compact(spark, _)),
      Partitioned("semantic (cl)", r => Seq(s"$r/vecs"), _ => (),
        (r, b) => StreamState.release(StreamSemDedup.upsertBatch(
          half(sem, "id", b), "id", "v", semModel, r, b)),
        StreamSemDedup.compact(spark, _)),
      Partitioned("near-dup (pb, pid)", r => Seq(s"$r/bands", s"$r/sigs"),
        _ => (),
        (r, b) => StreamState.release(StreamDedup.upsertBatch(
          half(docs, "doc_id", b), "doc_id", "text", r, near, b)),
        StreamDedup.compact(spark, _)))
    for (t <- tables) {
      val root = tmp("layout")
      t.init(root)
      for (b <- 0L to 1L) {
        val g = gained(t.paths(root))(t.upsert(root, b))
        assert(g.nonEmpty && g.values.forall(_ == 1),
          s"${t.name}: upsert $b added files per directory $g")
      }
      t.compact(root)
      val after = filesPerDir(t.paths(root))
      assert(after.nonEmpty && after.values.forall(_ == 1),
        s"${t.name}: files per directory after compaction $after")
    }
    // labels (pl): every fold rewrites its directories to one file each
    val root = tmp("layout-labels")
    for (b <- 0L to 1L) {
      StreamState.release(StreamDedup.upsertBatchWithLabels(
        half(docs, "doc_id", b), "doc_id", "text", root, near, b))
      val files = filesPerDir(Seq(s"$root/labels"))
      assert(files.nonEmpty && files.values.forall(_ == 1),
        s"labels (pl): files per directory after fold $b: $files")
    }
  }

  test("layout: each one-file state table gains one file per append") {
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val root = tmp("layout-one")
    val idx = tmp("layout-docs")
    val oneFile = Seq("ledger", "kept", "gatestats").map(t => s"$root/$t")
    for (b <- 0L to 1L) {
      val batch = docs.filter(
        (col("doc_id") * 2 > maxId) === lit(b == 1L))
      val gens = gained(Seq(StreamState.genLogPath(idx)))(
        StreamTextIndex.upsertBatch(batch, "doc_id", "text", idx, b))
      assert(gens.values.toSeq == Seq(1), s"_docs: upsert $b added $gens")
      val g = gained(oneFile)(StreamPretrain.ingestBatch(batch, "doc_id",
        "text", "lang", "source", fz, root, b, recordStats = true))
      assert(g.size == oneFile.size && g.values.forall(_ == 1),
        s"ledger, kept, gatestats: ingest $b added $g")
    }
  }
}
