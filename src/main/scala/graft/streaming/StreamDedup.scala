package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incrementally-maintained MinHash near-dup index: new documents dedup
  * against the ENTIRE historical corpus without rescanning it — the
  * at-ingest analogue of [[graft.operators.Dedup.minhashLsh]], and the
  * Spark shape of the reference's always-on match topology (every
  * arriving line runs against all registered filters,
  * `storm/src/main/java/nl/us2/cloudpelican/stormprocessor/MatchBolt.java:189-202`
  * — here "filters" are the accumulated band buckets of every document
  * ever ingested).
  *
  * Index layout under `root` (both tables plain parquet, appendable):
  *  - `bands/` — (id, band, bucket) rows partitioned by
  *    `pb = pmod(bucket, dirBuckets)`, which bounds the size of each
  *    file and of each directory compaction rewrites. The candidate
  *    probe reads every directory: a batch's `bands × batch size`
  *    buckets reach all `dirBuckets` of them (16 × 60 = 960 buckets
  *    over 64 directories leave one untouched with probability
  *    ~2e-5), so pruning on pb would buy nothing.
  *  - `sigs/` — one (id, hs, sig) row per document for exact
  *    verification, partitioned by `pid = pmod(hash(id), dirBuckets)`
  *    so label repair (`Index.delete`) reads only its members'
  *    directories; the per-batch verify semi-joins the whole table
  *    against the candidates' ids.
  *
  * Parity contract: upserting a corpus in ANY batch split yields
  * exactly the pairs of one batch [[Dedup.minhashLsh]] over the union —
  * banding does not depend on batch membership, so intra-batch pairs
  * (self-join) plus cross pairs (probe against history) partition the
  * union's pair set. The signature, banding, and verification code IS
  * the batch operator's ([[Dedup.signatureRelation]] /
  * [[Dedup.bandBuckets]] / [[Dedup.verifyCandidates]]), not a copy.
  *
  * Delivery: foreachBatch is at-least-once — a retried micro-batch can
  * append its rows twice. Readers are duplicate-proof (candidates go
  * through `distinct`, verification sides through
  * `dropDuplicates(id)`), so a retry costs space, not correctness;
  * compaction reclaims the space by rewriting both tables deduped.
  *
  * Deletion (`Index.delete`): MinHash signatures and band buckets are
  * DERIVED DATA of the document — a compliance forget must remove
  * them, and near-dup structure must behave as if the document never
  * existed. One tombstone generation in the shared `_docs` log
  * ([[StreamState]]) hides the id from every read face from the next
  * read on, and the label table is REPAIRED EXACTLY in the same call:
  * removing a node can split its component (a bridge document) or
  * promote a new canonical (the min id leaves), so the affected
  * components — and only those — are re-clustered from the stored
  * signatures of their live members (the sigs read prunes to the
  * members' pid directories; no document text is ever needed). An id
  * here names an IMMUTABLE document (the pipeline's append-only id
  * contract), so presence is the only generation that matters: a
  * later upsert carrying a tombstoned id under a higher
  * `batchId` resurrects it, and its re-emitted pairs re-fold into the
  * labels. Physical retire of dead bands/sigs rows happens at
  * compaction. Generation tracking is opt-in: pass `batchId` to the
  * upserts once you intend to delete (monotone with the delete's —
  * the [[StreamTextIndex]] contract); a root with a generation log
  * rejects an upsert without one, loudly.
  */
object StreamDedup {

  /** `dirBuckets` is the on-disk partition fan-out of both index
    * tables, independent of the LSH `bands`: more dirs = finer pruning
    * of the by-id reads (label repair's sigs read), more small files.
    * 64 matches the text-index default.
    */
  final case class Config(
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, dirBuckets: Int = 64)

  private def bandsPath(root: String): String = s"$root/bands"
  private def sigsPath(root: String): String = s"$root/sigs"
  private def labelsPath(root: String): String = s"$root/labels"

  private def dropDead(df: DataFrame, dead: DataFrame): DataFrame =
    if (dead == null) df
    else df.join(broadcast(dead), Seq("id"), "left_anti")

  /** The index at `root`, bound to the batch's `idCol` and `textCol`
    * and `cfg`. [[upsert]] ingests one batch of documents: it emits the
    * near-dup pairs the batch forms (within itself AND against every
    * previously-ingested document), then appends the batch's band
    * buckets + signatures to the index. It returns the verified pairs
    * (id_a, id_b, jaccard), id_a < id_b, eagerly materialized — callers
    * write or collect it; the index on disk is already updated when
    * this returns. The materialization holds executor blocks: a
    * long-lived caller (one upsert per micro-batch) must
    * [[StreamState.release]] the returned frame once consumed, as
    * [[attach]] and [[StreamPretrain.ingestBatch]] do, or the per-batch
    * deltas accumulate until the executors OOM. A `batchId` below zero
    * ingests without generation tracking (see the header).
    *
    * With `labels`, every upsert also maintains the persistent
    * cluster-label table (`labels/` under `root`): [[updateLabels]]
    * folds the batch's pairs into the labeling incrementally (at most
    * `maxPairs` on the driver), so after every batch [[indexLabels]]
    * equals the BATCH [[Dedup.nearDupClusters]] over all pairs ever
    * emitted — clusters are maintained at ingest, never recomputed from
    * scratch. The single-writer timeline on labels/ is intact: the fold
    * runs exactly once per batch, ordered against other label writes by
    * the caller's ingest serialization; it never reads bands/ or sigs/,
    * so the concurrent appends are invisible to it.
    *
    * A delete forgets documents: from the next read on, tombstoned ids
    * appear in no pair, no label, and no probe result, and compaction
    * physically retires their signatures and band buckets — the index
    * behaves as if the documents were never ingested (see the deletion
    * section of the object header). The cluster labels are repaired
    * EXACTLY in the same call: components that lose a member are
    * re-clustered over their live members' stored signatures, so splits
    * (a deleted bridge) and canonical promotions (the min id leaves)
    * come out as the batch operator would over the live corpus. Runs on
    * the ingest timeline (same single-writer contract as
    * [[updateLabels]]) with a `batchId` monotone against the upserts'.
    * Retry-idempotent: the tombstone append is first, so a crash
    * mid-call leaves every PAIR read already exact and the redelivery
    * finishes the label repair. Cost: O(affected components), never
    * O(corpus) — the sigs read prunes to the members' pid directories,
    * the label rewrite touches only directories holding an affected
    * row.
    *
    * COMPACTION folds retry duplicates out of both index tables,
    * preserving the partition layout. Rows of ids dead AT THE SNAPSHOT
    * READ drop from the fold; that is safe beside a concurrent
    * resurrection, because resurrecting IS an upsert, so the id's fresh
    * rows land outside the snapshot and survive the retire. (The labels
    * table needs no compaction: [[updateLabels]] rewrites whole
    * directories via guarded dynamic partition overwrite, so retries
    * never accumulate rows there.)
    */
  final class Index(val spark: SparkSession, val root: String,
      val idCol: String, textCol: String, cfg: Config = Config(),
      labels: Boolean = false,
      maxPairs: Long = Dedup.defaultMaxDeltaPairs)
      extends LoggedIndex[DataFrame] {
    protected def kind = "dedup"

    def upsert(batch: DataFrame, batchId: Long): DataFrame =
      BatchTimer.timed("dedup.upsert") {
      // generation tracking (see the deletion section of the header)
      if (StreamState.genLogExists(spark, root))
        require(batchId >= 0,
          s"index at $root tracks generations (a delete ran); pass " +
            "a monotone batchId to every upsert so deletes and " +
            "resurrections order against ingests")
      // this upsert resurrects every id it carries, so the dead set is
      // the committed one minus the batch's ids — no need to log the
      // batch's generations before reading it. The log append then
      // joins the index appends below; a crash before it lands leaves a
      // resurrected id hidden until the retry re-appends it.
      val dead = Option(StreamState.deadIds(spark, root))
        .map(_.join(batch.select(col(idCol).as("id")), Seq("id"), "left_anti"))
        .orNull
      // the batch's signature relation feeds banding, verification, and
      // the index append — persist or it recomputes per branch
      val sig = Dedup.signatureRelation(batch, idCol, textCol,
          cfg.shingleSize, cfg.numHashes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val banded = Dedup.bandBuckets(sig, cfg.numHashes, cfg.bands)
          .withColumn("pb", pmod(col("bucket"), lit(cfg.dirBuckets)))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the historical tables this batch probes: SNAPSHOT both file
          // lists NOW, before the appends below can start — parquet
          // reads resolve their file index eagerly, so the plans built
          // from these frames can never see the batch's own just-written
          // rows even while the appends run concurrently
          val histBands =
            if (!StreamState.hasDataFiles(spark, bandsPath(root))) None
            else Some(spark.read.parquet(bandsPath(root)))
          val histSigs =
            if (!StreamState.hasDataFiles(spark, sigsPath(root))) None
            else Some(spark.read.parquet(sigsPath(root)))
          // PROBE→VERIFY and the index APPENDS run concurrently (r14
          // verdict item 4 — at sf0.1 the sequential form paid
          // probe ~0.7 s, THEN verify ~2.6 s, THEN append ~1.6 s per
          // batch; the overlap makes the wall max(probe+verify,
          // appends), and the persisted sig/banded relations
          // materialize ONCE under whichever action gets there first —
          // the storage layer serializes concurrent computes of the
          // same cached partition). Failure semantics are the
          // sequential ones: inParallel propagates after all actions
          // settle, the micro-batch retries everything, and the readers
          // are duplicate-proof (dropDuplicates on sigs, distinct() on
          // candidates), so a replayed append is absorbed.
          val sigOut = sig
            .withColumn("pid", pmod(hash(col("id")), lit(cfg.dirBuckets)))
          @volatile var pairs: DataFrame = null
          def probeAndVerify(): DataFrame = {
            // intra-batch candidates: the batch operator's self-join
            val intra = Dedup.bandPairs(banded)
            // cross candidates: probe every historical band directory
            // (a batch's buckets reach all of them — see the header);
            // tombstoned documents never surface as partners
            val cross = histBands.map { hb =>
              banded.as("a").join(dropDead(hb, dead).as("b"),
                  col("a.band") === col("b.band") &&
                  col("a.bucket") === col("b.bucket") &&
                  col("a.id") =!= col("b.id"))
                .select(
                  least(col("a.id"), col("b.id")).as("id_a"),
                  greatest(col("a.id"), col("b.id")).as("id_b"))
            }
            // materialized ONCE: verification and both halves of
            // `wanted` read it, and an unmaterialized frame would rerun
            // the self-join, the probe and the history scan per reader
            val cand = BatchTimer.timed("dedup.upsert.probe") {
              cross.fold(intra)(intra.union).distinct().localCheckpoint(true)
            }
            try {
              // verification sides: this batch's signatures plus the
              // historical ones the candidates touch (semi-join bounds
              // the read to O(candidates)); dropDuplicates absorbs retry
              // appends
              val sides = histSigs.fold(sig) { hs =>
                val wanted = cand.select(col("id_a").as("id"))
                  .union(cand.select(col("id_b").as("id"))).distinct()
                sig.unionByName(
                  dropDead(hs.select("id", "hs", "sig"), dead)
                    .join(wanted, Seq("id"), "left_semi"))
                  .dropDuplicates("id")
              }
              BatchTimer.timed("dedup.upsert.verify") {
                Dedup.verifyCandidates(cand, sides,
                    cfg.numHashes, cfg.threshold)
                  .localCheckpoint(true) // materialize NOW, beside the appends
              }
            } finally StreamState.release(cand)
          }
          // the labels fold (r17) depends ONLY on the verified pair
          // delta, so it runs on the probe thread as soon as `pairs` has
          // materialized, OVERLAPPING the index appends on the other
          // thread — the per-batch wall pays
          // max(probe+verify+consumer, appends) instead of
          // max(probe+verify, appends) + consumer. Failure semantics
          // are unchanged: inParallel settles everything before
          // propagating, the micro-batch retries the whole call, and
          // both the appends and the labels fold are retry-idempotent.
          StreamState.inParallel(
            () => {
              pairs = probeAndVerify()
              if (labels) updateLabels(spark, root, pairs, cfg, maxPairs)
            },
            () => BatchTimer.timed("dedup.upsert.append") {
              val appends = Seq(
                () => StreamState.append(banded, bandsPath(root), Some("pb")),
                () => StreamState.append(sigOut, sigsPath(root), Some("pid"))) ++
                Option.when(batchId >= 0)(() =>
                  StreamState.appendGens(batch.select(col(idCol)), root, batchId))
              StreamState.inParallel(appends: _*)
            })
          pairs
        } finally banded.unpersist(false)
      } finally sig.unpersist(false)
    }

    override protected def repair(deleted: DataFrame): Unit =
      repairLabels(spark, root, deleted, cfg)

    /** Every near-dup pair of the live documents ([[indexPairs]]). */
    def committed(): DataFrame = indexPairs(spark, root, cfg)

    protected def tables = {
      lazy val dead = StreamState.deadIds(spark, root)
      def table(path: String, keyCols: Seq[String],
          dir: String): (String, DataFrame => Unit) =
        (path, snap =>
          StreamState.append(dropDead(snap, dead).dropDuplicates(keyCols),
            path, Some(dir)))
      Seq(table(bandsPath(root), Seq("id", "band", "bucket"), "pb"),
        table(sigsPath(root), Seq("id"), "pid"))
    }
  }

  /** [[Index.upsert]] on a fresh binding of `root` — pairs only, no
    * labels. */
  def upsertBatch(batch: DataFrame, idCol: String, textCol: String,
      root: String, cfg: Config = Config(), batchId: Long = -1L): DataFrame =
    new Index(batch.sparkSession, root, idCol, textCol, cfg)
      .upsert(batch, batchId)

  /** Re-cluster every component that currently contains one of
    * `seedIds`, from the stored signatures of its live members, and
    * rewrite exactly the label directories those components touch. */
  private def repairLabels(spark: SparkSession, root: String,
      seedIds: DataFrame, cfg: Config): Unit = {
    val path = labelsPath(root)
    if (!labelsExist(spark, root)) return
    val labels = spark.read.parquet(path)
    val affected = labels.join(seedIds, Seq("id"), "left_semi")
      .select("cluster").distinct()
    // seeds that never appeared in a pair have no label row — nothing
    // can split or relabel
    if (affected.isEmpty) return
    val members = labels
      .join(affected, Seq("cluster"), "left_semi").select("id", "pl")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val liveMembers = dropDead(members, StreamState.deadIds(spark, root))
      // the affected components' live pair set, recomputed from the
      // index's own signatures (pairs only ever exist inside one
      // cluster, so the member set closes over every edge we touch);
      // the sigs read prunes to the members' pid directories
      val pids = liveMembers
        .select(pmod(hash(col("id")), lit(cfg.dirBuckets)).as("pid"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val newLabels =
        if (pids.isEmpty) null // every member died
        else {
          val mSigs = spark.read.parquet(sigsPath(root))
            .filter(col("pid").isin(pids: _*))
            .join(liveMembers.select("id"), Seq("id"), "left_semi")
            .select("id", "hs", "sig").dropDuplicates("id")
          val cand = Dedup.bandPairs(
            Dedup.bandBuckets(mSigs, cfg.numHashes, cfg.bands)).distinct()
          // affected-components-only pair set — delta-scoped by
          // construction, so the bounded union-find path applies
          Dedup.clustersDeltaScoped(
            Dedup.verifyCandidates(cand, mSigs, cfg.numHashes, cfg.threshold))
        }
      try {
        // rewrite = (untouched rows sharing a directory) ∪ (new labels);
        // a member that lost its last partner gets NO row, matching the
        // batch contract (labels list only ids in ≥1 pair)
        val plDirs = members.select("pl").distinct()
          .collect().map(_.getInt(0)).toSeq
        val keepOld = labels.filter(col("pl").isin(plDirs: _*))
          .join(members.select("id"), Seq("id"), "left_anti")
          .select("id", "cluster")
        val out = (if (newLabels == null) keepOld
          else keepOld.unionByName(newLabels))
          .withColumn("pl", pmod(hash(col("id")), lit(cfg.dirBuckets)))
          .localCheckpoint(true)
        try {
          val outDirs = out.select("pl").distinct()
            .collect().map(_.getInt(0)).toSet
          if (outDirs.nonEmpty) StreamState.overwriteDirs(out, path, "pl")
          // dynamic overwrite only rewrites directories it has rows
          // for — a directory whose every row was affected and got no
          // replacement must be emptied by hand
          (plDirs.toSet -- outDirs).foreach { d =>
            StreamState.deleteFiles(spark, path,
              StreamState.listDataFiles(spark, s"$path/pl=$d"))
          }
        } finally StreamState.release(out)
      } finally if (newLabels != null) StreamState.release(newLabels)
    } finally members.unpersist(false)
  }

  /** Fold one batch's near-dup pairs into the persistent label table.
    *
    * First batch: [[Dedup.clustersDeltaScoped]] over the (batch-sized)
    * pair set. Every later batch: the delta edges are CONTRACTED
    * against the existing labeling (only the endpoints' label rows are
    * read — a broadcast semi-join, then a bounded driver collect) and
    * union-found on the driver; the rewrite touches ONLY directories
    * holding a changed or new row. Per-batch work is O(batch pairs +
    * touched directories) — the label table is never relabeled,
    * checkpointed, or even fully scanned per batch (pre-r14 the fold
    * materialized the FULL relabeled table every micro-batch, an
    * O(all-time duplicates) checkpoint that would dominate at corpus
    * scale). A delta past the [[Dedup.defaultMaxDeltaPairs]] bound
    * falls back to the exact distributed fold
    * ([[Dedup.incrementalClusters]] + whole-dir rewrite), identical
    * labels either way.
    *
    * Exactness of the contraction (the [[Dedup.incrementalClusters]]
    * argument, driver-side): contracting each existing component to
    * its label is a graph quotient, every old label IS its
    * component's min id, so union-find over the contracted delta
    * edges yields the merged components' min-id labels directly; rows
    * of an untouched component keep their label because no contracted
    * edge reaches it.
    *
    * Storage: (id, cluster) partitioned by `pl = pmod(hash(id),
    * dirBuckets)`. `hash(id)` (not cluster) keys the layout so a row's
    * directory never moves when its cluster merges. The rewrite uses
    * DYNAMIC partition overwrite restricted to directories that contain
    * a changed row — merging two clusters rewrites a handful of
    * directories, not the corpus-wide table.
    */
  def updateLabels(spark: SparkSession, root: String,
      deltaPairs: DataFrame, cfg: Config = Config(),
      maxPairs: Long = Dedup.defaultMaxDeltaPairs): Unit =
    // no early `return` anywhere inside this by-name block: in Scala 2
    // a `return` exits via NonLocalReturnControl THROUGH timed()'s
    // body before the sample is recorded, so the first-batch fold, the
    // distributed fallback (the slowest path) and no-op folds would
    // all vanish from the scenario artifact's dedup.labels n/p95 —
    // silently optimistic telemetry (r14 ADVICE). Every path below is
    // an if/else branch that falls off the end.
    BatchTimer.timed("dedup.labels") {
    import spark.implicits._
    val path = labelsPath(root)
    def withPl(df: DataFrame) =
      df.withColumn("pl", pmod(hash(col("id")), lit(cfg.dirBuckets)))
    // file-based check: a deleteDocs can empty the table while its
    // directories remain — the next fold restarts from scratch
    if (!labelsExist(spark, root)) {
      // one batch's pair set — the bounded driver union-find path
      // (distributed fallback past the bound), same output
      val labels = Dedup.clustersDeltaScoped(deltaPairs)
      try {
        if (!labels.isEmpty)
          StreamState.overwriteDirs(withPl(labels), path, "pl")
      } finally StreamState.release(labels)
    } else {
    val existing = spark.read.parquet(path).select("id", "cluster")
    val probe = math.min(maxPairs, Int.MaxValue - 1L).toInt
    val edges = deltaPairs.select(col("id_a").cast("long"),
        col("id_b").cast("long"))
      .limit(probe + 1).as[(Long, Long)].collect()
    if (edges.length > probe) {
      // pathological delta: the exact distributed fold (pre-r14 path)
      BatchTimer.note("dedup.labels.fallback_distributed", 1.0)
      val updated = Dedup.incrementalClusters(existing, deltaPairs)
      try {
        val changed = updated
          .join(existing.withColumnRenamed("cluster", "_old"), Seq("id"), "left")
          .filter(col("_old").isNull || col("_old") =!= col("cluster"))
        val touched = withPl(changed).select("pl").distinct()
        // materialize BEFORE the overwrite — the semi-join replays the
        // `existing` scan, which must not race the commit's deletes
        val toWrite = withPl(updated)
          .join(touched, Seq("pl"), "left_semi")
          .localCheckpoint(true)
        try {
          if (!toWrite.isEmpty) StreamState.overwriteDirs(toWrite, path, "pl")
        } finally StreamState.release(toWrite)
      } finally StreamState.release(updated)
    } else if (edges.isEmpty) {
      () // nothing can change any label — still a (cheap) timed sample
    } else {
    BatchTimer.note("dedup.labels.uf_pairs", edges.length)
    // existing labels of the delta ENDPOINTS only (broadcast semi-join
    // against the endpoint list, bounded collect — never the table)
    val endpointIds = {
      val s = new java.util.TreeSet[java.lang.Long]()
      edges.foreach { case (a, b) => s.add(a); s.add(b) }
      val buf = new scala.collection.mutable.ArrayBuffer[Long](s.size)
      s.forEach(x => buf += x)
      buf.toSeq
    }
    val endLab = existing
      .join(broadcast(endpointIds.toDF("id")), Seq("id"), "left_semi")
      .as[(Long, Long)].collect().toMap
    // contract each endpoint through its existing label (identity for
    // never-seen ids) and union-find the contracted edges
    val uf = new Dedup.MinUnionFind(edges.length * 2)
    edges.foreach { case (a, b) =>
      uf.union(endLab.getOrElse(a, a), endLab.getOrElse(b, b))
    }
    // cluster relabel map: only entries that actually change a label
    val relabel = {
      val m = scala.collection.mutable.Map.empty[Long, Long]
      endpointIds.foreach { id =>
        val c = endLab.getOrElse(id, id)
        val nc = uf.find(c)
        if (nc != c) m(c) = nc
      }
      m.toMap
    }
    // rows for ids the table has never seen (their contracted node is
    // the id itself)
    val freshRows = endpointIds.filterNot(endLab.contains)
      .map(id => (id, uf.find(id)))
    if (relabel.nonEmpty || freshRows.nonEmpty) {
    val relabelDf = broadcast(
      relabel.toSeq.toDF("cluster", "_nc"))
    val freshDf = freshRows.toDF("id", "cluster")
    // directories holding a changed row (cluster ∈ relabel keys — one
    // column-pruned scan of the table's (cluster, pl)) or a new row,
    // COLLECTED to the driver: the list is ≤ dirBuckets ints, and
    // having it driver-side lets the rewrite scan below PARTITION-
    // PRUNE the parquet read to the touched directories (r17 — the
    // former semi-join on pl scanned the whole all-time table to
    // rewrite an O(batch) slice; guide §6 pushdown-to-the-scan). The
    // table's own pl partition column carries the same value withPl
    // computes, so pruning on it is exact. Non-empty under this
    // branch's guard: a fresh endpoint contributes its own dir, and a
    // relabel key is an existing cluster value when no endpoint is
    // fresh.
    val existingAll = spark.read.parquet(path) // (id, cluster, pl)
    val touched = existingAll
      .join(relabelDf, Seq("cluster"), "left_semi").select("pl")
      .unionByName(withPl(freshDf).select("pl"))
      // a string column when partition-type inference is off
      .select(col("pl").cast("int"))
      .distinct().collect().map(_.getInt(0)).toSeq
    // rewrite = every existing row of a touched directory (relabeled
    // through the broadcast map, identity elsewhere) ∪ the fresh rows;
    // materialize BEFORE the overwrite — the scans must not race the
    // commit's deletes
    val toWrite = existingAll
      .filter(col("pl").isin(touched: _*)).drop("pl")
      .join(relabelDf, Seq("cluster"), "left")
      .select(col("id"),
        coalesce(col("_nc"), col("cluster")).as("cluster"))
      .unionByName(freshDf)
      .localCheckpoint(true)
    try StreamState.overwriteDirs(withPl(toWrite), path, "pl")
    finally StreamState.release(toWrite)
    } // relabel/fresh non-empty
    } // driver union-find branch
    } // labels-exist branch
  }

  /** The maintained labeling as it stands: (id, cluster) for every id
    * that has ever appeared in an emitted near-dup pair; cluster = min
    * id of its connected component — exactly
    * [[Dedup.nearDupClusters]] over the union of all emitted pairs.
    */
  def indexLabels(spark: SparkSession, root: String): DataFrame = {
    // a delete can empty the table entirely (its directories remain,
    // file-less) — serve the typed empty labeling rather than letting
    // the parquet reader fail schema inference
    if (!labelsExist(spark, root)) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", LongType),
          StructField("cluster", LongType))))
    }
    // the anti-join is belt: a delete repairs the table in the
    // same call, so dead rows only exist inside a crashed delete's
    // redelivery window (and cost nothing when no delete ever ran)
    dropDead(spark.read.parquet(labelsPath(root)).select("id", "cluster"),
      StreamState.deadIds(spark, root))
  }

  /** Whether any labels are currently folded (an [[Index]] with `labels`
    * writes none until a first near-dup pair exists, and a
    * delete can empty the table again) — lets a composed
    * consumer ([[StreamPretrain]]) skip the exclusion read entirely on
    * a duplicate-free corpus. File-based: an existing but emptied
    * directory counts as no labels. */
  def labelsExist(spark: SparkSession, root: String): Boolean =
    StreamState.hasDataFiles(spark, labelsPath(root))

  /** The subset of `ids` currently labeled NON-canonical (an
    * earlier-id near-dup exists), read with partition pruning on the
    * ids' own `pl` directories, so a per-batch membership check costs
    * O(batch + touched directories), never a scan of the all-time dup
    * index. The pl list is ≤ dirBuckets ints (a bounded driver
    * collect). */
  def nonCanonicalOf(ids: DataFrame, idCol: String, root: String,
      cfg: Config = Config()): DataFrame = {
    val spark = ids.sparkSession
    if (!labelsExist(spark, root))
      return ids.select(col(idCol)).limit(0)
    val pls = ids
      .select(pmod(hash(col(idCol)), lit(cfg.dirBuckets)).as("pl"))
      .distinct().collect().map(_.getInt(0)).toSeq
    spark.read.parquet(labelsPath(root))
      .filter(col("pl").isin(pls: _*))
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
      .join(ids.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** All near-dup pairs derivable from the index as it stands — the
    * batch-query face of the incrementally-built index. Equals
    * [[Dedup.minhashLsh]] over every ingested document, computed from
    * the stored bands + signatures without touching document text.
    */
  def indexPairs(spark: SparkSession, root: String,
      cfg: Config = Config()): DataFrame = {
    val dead = StreamState.deadIds(spark, root)
    val banded = dropDead(spark.read.parquet(bandsPath(root)), dead)
      .select("id", "band", "bucket").distinct()
    val cand = Dedup.bandPairs(banded).distinct()
    val sides = dropDead(spark.read.parquet(sigsPath(root)), dead)
      .select("id", "hs", "sig").dropDuplicates("id")
    Dedup.verifyCandidates(cand, sides, cfg.numHashes, cfg.threshold)
  }

  /** Attach the ingest-and-match flow to a streaming document source:
    * every micro-batch upserts into the index and appends the pairs it
    * discovered to `pairsOut` (parquet). The emitted stream over time =
    * the full [[Dedup.minhashLsh]] pair set of everything ingested.
    * The stream's epoch ids (monotone, replay-stable) thread through
    * as generation batch ids, so a delete can order against a
    * live attached ingest from day one.
    */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      root: String, pairsOut: String, checkpoint: String,
      cfg: Config = Config()): StreamingQuery =
    docs.writeStream
      .queryName("stream_dedup_index")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val pairs = new Index(batch.sparkSession, root, idCol, textCol, cfg)
          .upsert(batch, epochId)
        try pairs.write.mode("append").parquet(pairsOut)
        finally StreamState.release(pairs) // checkpointed per batch
        ()
      }
      .start()
}
