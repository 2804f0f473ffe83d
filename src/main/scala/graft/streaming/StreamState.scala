package graft.streaming

import org.apache.spark.sql.SparkSession

/** The one home of the incremental state-table format. The six
  * streaming indexes share one lifecycle ([[StreamIndex]]: upsert,
  * delete, compact, committed), and it and [[StreamPretrain]]'s own
  * tables write, rewrite, compact and hide deletions through the
  * helpers here, so each table stays a replay-safe sink under one
  * contract:
  *
  *  - APPEND ([[append]]): a partitioned table is repartitioned on its
  *    directory column first, so an append writes one file per touched
  *    directory; an unpartitioned table gets one file per append.
  *  - DIRECTORY REWRITE ([[overwriteDirs]]): dynamic partition
  *    overwrite of exactly the directories the frame has rows for.
  *  - MERGE-AND-RETIRE ([[mergeAndRetire]]): snapshot the data-file
  *    list, compute the merged delta FROM THAT SNAPSHOT ONLY, append it
  *    as new files, then delete exactly the snapshot files. An upsert
  *    that lands at any point during the compaction writes files that
  *    are not in the snapshot, so they are never deleted — compaction
  *    is safe beside a live ingest, which is the whole point of an
  *    at-ingest index (the reference's supervisor runs its 5-minute
  *    maintenance loop beside live result writes,
  *    `supervisor/filter_manager.go:519-576`). This replaces the
  *    earlier `mode("overwrite")` design, whose read→rewrite window
  *    silently erased a concurrent append.
  *  - DELETION: tombstone generations in a per-root generation log
  *    (`_docs`), read as one dead-id set ([[deadIds]]) and retired
  *    physically at compaction by one rule ([[newestLive]]).
  *
  * Sidecars (`_meta`, `_docs`, `_graft_buckets`, `<root>_watermark`)
  * are underscore/dot-prefixed or siblings, so they are never part of
  * a data snapshot and survive every compaction — a crash can no
  * longer lose a trained model or a bucket modulus.
  */
private[graft] object StreamState {

  import graft.functions.BatchConst
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  private def fs(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Every data file currently under `root` (recursive), skipping
    * hidden/metadata entries (`_meta`, markers, in-flight `.` temp
    * files). This IS the compaction snapshot: merged output is
    * computed from, and only ever retires, these paths. */
  def listDataFiles(spark: SparkSession, root: String): Seq[String] = {
    val hfs = fs(spark, root)
    val rootPath = new org.apache.hadoop.fs.Path(root)
    if (!hfs.exists(rootPath)) return Nil
    val out = Seq.newBuilder[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      hfs.listStatus(p).foreach { st =>
        if (!hidden(st)) {
          if (st.isDirectory) walk(st.getPath)
          else out += st.getPath.toString
        }
      }
    walk(rootPath)
    out.result()
  }

  /** The parquet table at `root`, read from its listed entries (data
    * files and partition directories, [[listDataFiles]]' skip rules)
    * with `root` as the partition base. Spark's file index treats an
    * underscore-named root (`_docs`, `_meta`, `_vN`) as hidden and
    * warns that all paths were ignored; naming the entries does not
    * depend on how Spark treats such a root. */
  def readTable(spark: SparkSession, root: String,
      mergeSchema: Boolean = false): DataFrame = {
    val entries = fs(spark, root).listStatus(new org.apache.hadoop.fs.Path(root))
      .filterNot(hidden).map(_.getPath.toString)
    spark.read.option("basePath", root)
      .option("mergeSchema", mergeSchema.toString)
      .parquet(entries.toIndexedSeq: _*)
  }

  /** Whether `root` holds any data file under [[listDataFiles]]' skip
    * rules — the same answer as `listDataFiles(..).nonEmpty`, but the
    * walk returns at the first data file instead of listing the tree. */
  def hasDataFiles(spark: SparkSession, root: String): Boolean = {
    val hfs = fs(spark, root)
    def any(p: org.apache.hadoop.fs.Path): Boolean =
      hfs.listStatus(p).exists(st =>
        !hidden(st) && (!st.isDirectory || any(st.getPath)))
    val rootPath = new org.apache.hadoop.fs.Path(root)
    hfs.exists(rootPath) && any(rootPath)
  }

  // metadata sidecars and in-flight temp files are never data
  private def hidden(st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val name = st.getPath.getName
    name.startsWith("_") || name.startsWith(".")
  }

  /** Drop the executor blocks behind an eagerly `localCheckpoint`ed
    * per-batch delta once its last consumer is done — the streaming
    * face of [[graft.GraftSession.releaseCheckpoint]] (see there for
    * why `Dataset.unpersist` cannot do this and why a
    * `getPersistentRDDs` sweep must not run beside live queries). */
  def release(df: DataFrame): Unit =
    graft.GraftSession.releaseCheckpoint(df)

  /** Run independent Spark actions on concurrent driver threads and
    * wait for ALL of them (concurrent job submission against one
    * executor pool — standard Spark scheduling). For per-batch ingest
    * paths whose writes target DISJOINT state (e.g. the bands and
    * sigs appends, the near-dup and semantic index upserts): the wall
    * cost becomes max() instead of sum(), and failure semantics are
    * the sequential ones — any failure propagates (its ORIGINAL
    * exception, unwrapped) after every action has settled, the caller
    * retries the batch, and retry-idempotent state absorbs the
    * replay. Deliberately NOT for actions ordered by correctness
    * (probe-before-append stays sequential). */
  def inParallel(actions: (() => Unit)*): Unit = {
    if (actions.isEmpty) return
    if (actions.size == 1) return actions.head()
    // Dedicated threads, not a pool: the settle guarantee must hold
    // even when the WAITING batch thread is interrupted (a stopping
    // stream) — with a pool, cancelling queued-vs-running futures
    // races their completion bookkeeping, whereas Thread.join either
    // returns settled or re-throws and is retried below. 2–4 threads
    // per multi-second micro-batch is noise next to its Spark jobs.
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]
    val threads = actions.zipWithIndex.map { case (a, i) =>
      val t = new Thread(() => {
        try a()
        catch { case e: Throwable => firstFailure.compareAndSet(null, e) }
      }, s"graft-ingest-par-$i")
      t.setDaemon(true); t.start(); t
    }
    // every action SETTLES before anything propagates — the caller's
    // batch-retry cleanup must never race a still-running write. An
    // interrupt of the batch thread is forwarded to the workers (so a
    // blocking action can bail early) and the join resumes until every
    // worker has actually finished.
    var interrupted = false
    threads.foreach { t =>
      var joined = false
      while (!joined)
        try { t.join(); joined = true }
        catch { case _: InterruptedException =>
          interrupted = true
          threads.foreach(_.interrupt())
        }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val e = firstFailure.get()
    if (e != null) throw e
    if (interrupted) throw new InterruptedException(
      "inParallel interrupted; all actions settled before propagating")
  }

  /** Retire a compaction's snapshot files. Idempotent: a file already
    * gone (a crashed earlier retire got partway) is skipped. */
  def deleteFiles(spark: SparkSession, root: String,
      files: Seq[String]): Unit = {
    val hfs = fs(spark, root)
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      if (hfs.exists(p)) hfs.delete(p, false)
    }
  }

  // ---- the table layout ---------------------------------------------

  /** Append `df` to the state table at `path`. With a directory column
    * `dir`, the frame is repartitioned on it first: a `partitionBy`
    * write straight from a many-partition frame opens one file per task
    * per directory (about 2,000 tiny files per append measured on the
    * near-dup index, the dominant per-batch cost), so one small shuffle
    * buys one file per touched directory. Without `dir`, the append is
    * one file. */
  def append(df: DataFrame, path: String, dir: Option[String]): Unit =
    dir match {
      case Some(d) =>
        df.repartition(col(d)).write.mode("append").partitionBy(d).parquet(path)
      case None => df.repartition(1).write.mode("append").parquet(path)
    }

  /** Append one `foreachBatch` micro-batch to the table at `path` at
    * most once per `batchId`: a restarted query replays its newest
    * batch when the crash fell between the write and the query's commit,
    * and the replay must not add the rows twice. `write` writes the batch
    * as a table rooted at the directory it is given, in the table's
    * layout. That directory is `_batch-<id>` under `path` (hidden from
    * readers); its `_STAGED` marker records a complete write, and then
    * each data file moves into the table by one rename, so a replay
    * after a crash mid-move finishes the moves instead of writing again.
    * `_batches/<id>` commits the batch, and a replay of a committed batch
    * is a no-op. A query replays only its newest batch, so committing
    * batch N retires batch N−1's marker. As for [[StreamSketch]]'s
    * watermark, batch ids must not restart under a kept marker: a query
    * on a fresh checkpoint writes a fresh table (or clears `_batches`). */
  def appendOnce(spark: SparkSession, path: String, batchId: Long)(
      write: String => Unit): Unit = {
    val hfs = fs(spark, path)
    val root = hfs.makeQualified(new org.apache.hadoop.fs.Path(path))
    def under(p: String) = new org.apache.hadoop.fs.Path(root, p)
    val stage = under(s"_batch-$batchId")
    if (!hfs.exists(under(s"_batches/$batchId"))) {
      if (!hfs.exists(under(s"_batch-$batchId/_STAGED"))) {
        hfs.delete(stage, true) // a crashed write's partial files
        write(stage.toString)
        hfs.create(under(s"_batch-$batchId/_STAGED"), true).close()
      }
      listDataFiles(spark, stage.toString).foreach { f =>
        val dst = under(f.stripPrefix(s"$stage/"))
        hfs.mkdirs(dst.getParent)
        hfs.rename(new org.apache.hadoop.fs.Path(f), dst)
      }
      hfs.create(under(s"_batches/$batchId"), true).close()
      hfs.delete(under(s"_batches/${batchId - 1}"), false)
    }
    hfs.delete(stage, true)
  }

  /** Replace exactly the `dir` directories `df` has rows for (dynamic
    * partition overwrite, one file each); every other directory is
    * left as it is. Readers gate on [[hasDataFiles]], so a first write
    * into a table whose directories are all empty needs no static
    * overwrite. */
  def overwriteDirs(df: DataFrame, path: String, dir: String): Unit =
    df.repartition(col(dir)).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(dir).parquet(path)

  /** MERGE-AND-RETIRE over a pinned `snapshot` of `path`'s data files
    * (see the object header): `merge` receives the snapshot's rows,
    * read with `path` as the partition base, and appends the folded
    * rows in the table's layout; the snapshot files are deleted after
    * it returns. An empty snapshot is a no-op. A crash between the
    * append and the retire leaves both copies on disk — every reader
    * is duplicate-proof, so that costs space until the next
    * compaction, never correctness. `mergeSchema` is for tables whose
    * files predate a column (the generation log's `del`). */
  def mergeAndRetire(spark: SparkSession, path: String, snapshot: Seq[String],
      mergeSchema: Boolean = false)(merge: DataFrame => Unit): Unit =
    if (snapshot.nonEmpty) {
      merge(spark.read.option("basePath", path)
        .option("mergeSchema", mergeSchema.toString).parquet(snapshot: _*))
      deleteFiles(spark, path, snapshot)
    }

  // ---- per-document generation log --------------------------------
  //
  // Shared by the latest-wins incremental tables (StreamTextIndex,
  // StreamBpe): each upsert appends tiny (id, batch_id, del) rows to
  // a `_docs` sidecar inside the root (underscore-prefixed — data
  // scans and snapshots never see it); a data row is live iff its
  // batch equals its document's newest generation and that
  // generation is not a tombstone. The read-side exclusion set is
  // only the documents with history to resolve (>1 generation, or a
  // live tombstone) — empty until an update/delete happens, tiny
  // after, broadcastable beside any pruned read. No corpus-wide
  // window anywhere on the read path.

  def genLogPath(root: String): String = s"$root/_docs"

  // DATA-file based, not directory-existence based (r17): the marker
  // sidecars below create the `_docs` directory before any parquet
  // lands, and a crash in that window must not flip readers into the
  // log-reading paths (readGenLog on a data-less directory throws at
  // schema inference) or plain upserts into the require-batchId
  // branch. A log "exists" iff it has committed rows to read.
  def genLogExists(spark: SparkSession, root: String): Boolean =
    hasDataFiles(spark, genLogPath(root))

  // Tombstone-presence marker (r17): `_docs/_has_tombstones`, an
  // empty underscore-prefixed sidecar (parquet scans and snapshots
  // never see it; compaction's deleteFiles never retires it). Created
  // the first time a tombstone generation is appended — so a reader
  // that only cares about DELETIONS (deadIds/tombstones, consulted by
  // every per-batch upsert) can answer the common no-delete-ever case
  // with one file-existence probe instead of a groupBy aggregate over
  // the whole generation log per micro-batch. The marker is written
  // BEFORE the tombstone rows: a crash between the two leaves a
  // marker with no tombstones — readers pay the aggregate and find
  // nothing, which is correct; the reverse order could hide a
  // committed delete.
  private def tombMarkerPath(root: String) =
    new org.apache.hadoop.fs.Path(genLogPath(root), "_has_tombstones")

  // `_docs/_marker_aware`: written by EVERY post-r17 appendGens, so
  // its absence distinguishes a legacy log (written before the
  // tombstone marker existed — the absence of `_has_tombstones` there
  // proves nothing and readers must fall back to the aggregate) from
  // a marker-aware log (absence of `_has_tombstones` proves no delete
  // ever committed). Without this, upgrading a root that already
  // holds tombstone rows would silently stop honoring its deletions.
  private def awareMarkerPath(root: String) =
    new org.apache.hadoop.fs.Path(genLogPath(root), "_marker_aware")

  /** Whether any tombstone generation exists under `root` — FS probes
    * only in the common cases, the gen-log aggregate only for legacy
    * (pre-marker) logs. `_has_tombstones` alone is not enough: the
    * marker is written BEFORE the tombstone rows, so a crash between
    * the two leaves a marker over a log with no tombstone data — the
    * data-file check keeps that window honest (the delete did not
    * commit; its retry re-runs both). */
  def tombstonesExist(spark: SparkSession, root: String): Boolean = {
    val hfs = fs(spark, root)
    if (hfs.exists(tombMarkerPath(root))) genLogExists(spark, root)
    else if (hfs.exists(awareMarkerPath(root))) false
    else genLogExists(spark, root) // legacy log: cannot prove absence
  }

  /** Append one batch's generation rows. `ids` must be a single
    * column of document ids (any name). ~17 bytes a document. */
  def appendGens(ids: DataFrame, root: String, batchId: Long,
      del: Boolean = false): Unit = {
    val spark = ids.sparkSession
    val hfs = fs(spark, root)
    def ensure(p: org.apache.hadoop.fs.Path): Unit =
      if (!hfs.exists(p)) {
        hfs.mkdirs(p.getParent)
        hfs.create(p, true).close()
      }
    // upgrading a legacy log: its tombstone rows predate the marker,
    // so record them (one aggregate, once per root) BEFORE declaring
    // the log marker-aware — in the other order a crash between the
    // two would hide a committed delete
    if (!hfs.exists(awareMarkerPath(root))) {
      if (genLogExists(spark, root) &&
          !readGenLog(spark, root).filter(col("del")).isEmpty)
        ensure(tombMarkerPath(root))
      ensure(awareMarkerPath(root))
    }
    if (del) ensure(tombMarkerPath(root))
    append(ids.toDF("id").distinct()
      .withColumn("batch_id", BatchConst(lit(batchId)))
      .withColumn("del", lit(del)), genLogPath(root), None)
  }

  /** The log with the tombstone flag normalized (rows written before
    * deletions existed read as live generations). */
  def readGenLog(spark: SparkSession, root: String): DataFrame =
    withDel(readTable(spark, genLogPath(root), mergeSchema = true))

  private def withDel(raw: DataFrame): DataFrame =
    if (raw.columns.contains("del"))
      raw.withColumn("del", coalesce(col("del"), lit(false)))
    else raw.withColumn("del", lit(false))

  /** Documents whose history needs a read-side decision, with their
    * newest generation and whether it is a tombstone. */
  def updatedGens(spark: SparkSession, root: String): DataFrame =
    readGenLog(spark, root)
      .groupBy("id")
      .agg(max(struct(col("batch_id"), col("del"))).as("_m"),
        countDistinct("batch_id").as("_ngen"))
      .filter(col("_ngen") > 1 || col("_m.del"))
      .select(col("id"), col("_m.batch_id").as("_gen"),
        col("_m.del").as("_del"))

  /** Keep only live rows of a (… idCol …, batch_id) table: a row
    * whose document has a newer generation is superseded; a document
    * whose newest generation is a tombstone has no live rows. */
  def liveOnly(df: DataFrame, root: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    if (!genLogExists(spark, root)) return df
    df.join(
        broadcast(updatedGens(spark, root).withColumnRenamed("id", idCol)),
        Seq(idCol), "left")
      .filter(col("_gen").isNull ||
        (col("batch_id") === col("_gen") && !col("_del")))
      .drop("_gen", "_del")
  }

  /** Newest tombstone per document, or null when the log (or any
    * tombstone) does not exist. The presence marker answers the
    * no-delete-ever case without a job. */
  def tombstones(spark: SparkSession, root: String): DataFrame =
    if (!tombstonesExist(spark, root)) null
    else readGenLog(spark, root).filter(col("del"))
      .groupBy("id").agg(max("batch_id").as("_tomb"))

  /** Ids whose newest generation is a tombstone — the read-side
    * exclusion set of every index with deletions (one `id` column), or
    * null when no deletion ever committed under `root`: the common case
    * costs one marker probe, never an aggregate over the log.
    * Deletions are compliance events, so the set is broadcast-small by
    * assumption. */
  def deadIds(spark: SparkSession, root: String): DataFrame =
    if (!tombstonesExist(spark, root)) null
    else updatedGens(spark, root).filter(col("_del")).select("id")

  /** The physical-retire rule of a compaction fold over a snapshot of a
    * (… `idCol` …, batch_id) table: keep each id's newest IN-SNAPSHOT
    * generation, and drop it when its tombstone is at or past that
    * generation. Race-proof beside a live ingest: batch ids are
    * monotone, so no snapshot row can belong to a generation newer than
    * such a tombstone, and a resurrection landing concurrently writes
    * outside the snapshot (a newer in-snapshot generation disables the
    * drop by the guard itself). A tombstone not yet visible at fold
    * time only leaves the rows for the NEXT compaction — the read-side
    * exclusion already hides them. Same columns out as in. */
  def newestLive(df: DataFrame, root: String, idCol: String): DataFrame = {
    val newest = df
      .withColumn("_gen", max("batch_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy(idCol)))
      .filter(col("batch_id") === col("_gen"))
    val tombs = tombstones(df.sparkSession, root)
    val kept =
      if (tombs == null) newest
      else newest.join(broadcast(tombs.withColumnRenamed("id", idCol)),
          Seq(idCol), "left")
        .filter(col("_tomb").isNull || col("_tomb") < col("_gen"))
    kept.select(df.columns.map(col): _*)
  }

  // ---- versioned publish (the StreamIvfPq refit pattern, shared) --

  private val VDir = """_v(\d+)""".r

  /** The `_vN` version directories under `root` — a version is
    * visible only once its `_COMMITTED` marker lands (one atomic file
    * create, so a reader can never pair a half-written version's
    * contents with anything). `committedOnly = false` also counts
    * crashed publishes, so the next publish never reuses a directory
    * someone may still be half-writing. */
  def versionIds(spark: SparkSession, root: String,
      committedOnly: Boolean): Seq[Int] = {
    val hfs = fs(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!hfs.exists(p)) return Nil
    hfs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VDir(n)
              if !committedOnly || hfs.exists(
                new org.apache.hadoop.fs.Path(st.getPath, "_COMMITTED")) =>
            n.toInt
          case _ => -1
        }
    }.filter(_ > 0)
  }

  /** Directory of the newest COMMITTED version, or None before the
    * first successful publish. */
  def newestCommitted(spark: SparkSession, root: String): Option[String] =
    versionIds(spark, root, committedOnly = true) match {
      case Nil => None
      case vs => Some(s"$root/_v${vs.max}")
    }

  /** The next version directory to publish into — one past the
    * highest existing version, committed or not. */
  def nextVersionDir(spark: SparkSession, root: String): String =
    s"$root/_v${(versionIds(spark, root, committedOnly = false) :+ 0).max + 1}"

  /** Make a fully-written version directory visible: one atomic
    * `_COMMITTED` create. */
  def commitVersion(spark: SparkSession, vdir: String): Unit = {
    val marker = new org.apache.hadoop.fs.Path(vdir, "_COMMITTED")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(marker, false).close()
  }

  /** Atomically CLAIM a sidecar marker for a fresh root. Of N
    * concurrent claimers exactly one wins; returns true iff THIS call
    * created the marker. A loser must re-read the marker and conform
    * to (or loudly reject) the winner's value. This is the
    * single-writer boundary for the first append on an incremental
    * root: merge-and-retire already makes writer+compactor safe, and
    * this closes the remaining writer+writer window on root CREATION
    * (two upsertBatch callers racing the bucket-modulus claim could
    * otherwise interleave `exists`/`create` and land postings under
    * two layouts).
    *
    * Mechanism by scheme: on local filesystems the claim is a hard
    * LINK from a content-complete temp sibling — link(2) is atomic
    * and fails if the destination exists (a rename would silently
    * REPLACE it: POSIX rename overwrites, which is exactly the race
    * being closed — caught by the StreamCompactionSpec 8-thread
    * probe). On HDFS-like stores it is `create(overwrite = false)`,
    * an atomic namespace operation; there a reader could briefly see
    * a created-but-unwritten marker, which [[StreamTextIndex
    * .claimModulus]] already surfaces as the loud
    * "winner crashed mid-claim; retry" path rather than silently
    * misreading. */
  def claimSidecar(spark: SparkSession,
      path: org.apache.hadoop.fs.Path, content: String): Boolean = {
    val hfs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (hfs.exists(path)) return false
    hfs.mkdirs(path.getParent)
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val scheme = path.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val dst = java.nio.file.Paths.get(path.toUri.getPath)
      val tmp = dst.resolveSibling(
        s".${dst.getFileName}.claim.${java.util.UUID.randomUUID}")
      java.nio.file.Files.write(tmp, bytes)
      try {
        java.nio.file.Files.createLink(dst, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally java.nio.file.Files.deleteIfExists(tmp)
    } else {
      // Only an already-exists failure of the CREATE is "lost the
      // race". An IOException after the create succeeded (write/close
      // died) has produced a torn marker that would wedge the root
      // forever: claimModulus's "winner crashed mid-claim; retry"
      // re-enters here, sees the marker exists, and loses again — so
      // the torn marker must be deleted before the failure propagates,
      // leaving the namespace claimable by the retry.
      val out =
        try hfs.create(path, false)
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            return false
          case e: java.io.IOException
              if e.getMessage != null &&
                e.getMessage.contains("already exists") =>
            // some FileSystem impls signal the lost race as a plain
            // IOException rather than the typed subclass
            return false
        }
      try {
        try out.write(bytes) finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          try hfs.delete(path, false)
          catch { case _: java.io.IOException => () }
          throw e
      }
    }
  }

  /** Merge-and-retire fold of the generation log itself: one row per
    * document — its newest entry, tombstones included (a deleted,
    * never-resurrected document keeps its tombstone row forever;
    * that row IS the deletion record). */
  def compactGenLog(spark: SparkSession, root: String): Unit = {
    val log = genLogPath(root)
    mergeAndRetire(spark, log, listDataFiles(spark, log),
        mergeSchema = true) { snap =>
      append(withDel(snap)
        .groupBy("id")
        .agg(max(struct(col("batch_id"), col("del"))).as("_m"))
        .select(col("id"), col("_m.batch_id").as("batch_id"),
          col("_m.del").as("del")), log, None)
    }
  }
}
