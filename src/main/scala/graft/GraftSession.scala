package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session tuning so Verify/Bench/tests/demos all
  * run identical semantics.
  *
  *  - shuffle.partitions = cores (local mode; at cluster scale this is
  *    overridden by AQE coalescing anyway)
  *  - AQE on: runtime re-plan, skew-join splitting, partition coalesce
  *  - ANSI off: the engine's hash families (MinHash, rolling hashes)
  *    rely on wrapping 64-bit arithmetic, as any native hash engine
  *    does; ANSI overflow errors would reject them
  *  - UTC session timezone for oracle parity
  *  - FAIR scheduling: concurrent streaming queries (1 s results next
  *    to 10 s stats) each run in their own pool so a long stats
  *    micro-batch cannot starve the results cadence — single-query
  *    batch work is unaffected (one pool, FIFO within it)
  *  - `file:` through [[graft.sources.GraftLocalFileSystem]] and
  *    [[graft.sources.GraftLocalFs]] (FileContext): the stock local FS
  *    spawns a `chmod`/`readlink` process per create, mkdirs and
  *    checkpoint rename when libhadoop is absent
  *  - partition discovery always on the driver (default: a Spark job
  *    past 32 paths): the session is local, so a distributed listing
  *    only adds a job (115–500 ms each) to every read of a root with
  *    more than 32 partition directories (`StreamDedup`'s 64 `pb=`)
  *  - 20 retained SQL executions (default 1000): nothing reads them
  *    with the UI off, and a long streaming session would keep every
  *    micro-batch's plan on the heap
  *  - cached plans may change their output partitioning, and bucketed
  *    scans are not chosen per plan (Spark 4.1 defaults: no, yes):
  *    while either default holds, every `persist` plans its frame in a
  *    cloned session with those settings turned off, and each clone,
  *    once collected, is cleaned with an `rm -rf` process — one spawn
  *    per persist (the per-batch ingest frames of
  *    [[graft.streaming.StreamPretrain]], the durable stats sink's
  *    per-trigger persist). Both must change: with the first alone the
  *    session is still cloned. A streaming micro-batch already runs
  *    without AQE, so its cached plans are unchanged; a batch persist
  *    keeps AQE. Reads of bucketed tables
  *    ([[graft.operators.Scale.writeBucketed]]) always scan by bucket.
  *    `LocalFsSpec` counts zero spawns over 20 persist rounds and a GC
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[graft.sources.GraftLocalFs].getName)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")

  /** Run `start` with the thread-local scheduler pool set, so the
    * streaming query it launches lands its micro-batch jobs in `pool`
    * (StreamExecution threads inherit the property at query start).
    */
  def inPool[T](spark: SparkSession, pool: String)(start: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try start finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(math.min(32, Runtime.getRuntime.availableProcessors()))

  /** Release every pinned storage block (persist + localCheckpoint
    * RDDs). The eager-LSH operators (Dedup.minhashLsh,
    * Similarity.lshPairs/buildIvf, Pack.packSequences) return
    * localCheckpoint'ed frames whose blocks the ContextCleaner frees
    * only after the frame is garbage-collected; a long-lived session
    * that keeps references accumulates pinned blocks. Call this between
    * logical units of work (Bench calls the equivalent sweep after
    * every query).
    */
  def releaseCachedBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

  /** Release ONE eagerly-`localCheckpoint`ed frame's executor blocks,
    * deterministically. `Dataset.unpersist` cannot (the CacheManager
    * never saw the checkpoint) and [[releaseCachedBlocks]] is a sweep
    * that would also drop blocks concurrent work still needs — this
    * unpersists exactly the RDDs the frame's own plan holds (a
    * checkpointed plan is a single `LogicalRDD` leaf). The per-batch
    * ingest paths ([[graft.streaming.StreamDedup]],
    * [[graft.streaming.StreamPretrain]]) call it after each
    * micro-batch's delta is consumed, so a long ingest never pins N
    * batches of materialized deltas waiting for a driver GC. */
  def releaseCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
}
