package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything the benchmark measures from outside graft: spans around
  * calls into graft's modules, and counters fed by Spark's public
  * listeners, a counting local file system and JVM MXBeans. Spans and counters
  * stay in memory and are written out once, at the end of the run.
  * With tracing off, `span` only runs its body.
  */
final class Trace(val enabled: Boolean) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val current = new ThreadLocal[(Long, Long)] // (trace, span)
  // spans carry wall-clock nanoseconds, so Spark's own progress
  // timestamps can join them on one time line
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def nowNs(): Long = epochNs0 + (System.nanoTime() - nano0)

  /** Run `body` as span `name`; a span opened with no enclosing span
    * starts a new trace (one per operation). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = current.get()
      val id = nextId.getAndIncrement()
      val (trace, parent) = if (outer == null) (id, 0L) else (outer._1, outer._2)
      current.set((trace, id))
      val t0 = nowNs()
      try body
      finally {
        val t1 = nowNs()
        current.set(outer)
        spans.synchronized(spans += Span(trace, id, parent, name, t0, t1))
      }
    }

  /** One trace per streaming trigger: the trigger span and a child per
    * `durationMs` phase Spark reports, each starting at the trigger. */
  def recordProgress(name: String, p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    if (enabled) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val d = p.durationMs.asScala
      val id = nextId.getAndIncrement()
      spans.synchronized {
        spans += Span(id, id, 0L, name, start,
          start + d.get("triggerExecution").map(_.toLong).getOrElse(0L) * 1000000L)
        d.foreach { case (k, v) if k != "triggerExecution" =>
          spans += Span(id, nextId.getAndIncrement(), id, s"$name.$k", start, start + v.toLong * 1000000L)
        case _ => ()
        }
      }
    }

  def spanDurationsMs(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq)

  def writeTo(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.synchronized(spans.foreach { s =>
      w.write(s"""{"trace":${s.trace},"span":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    })
    finally w.close()
  }
}

object Trace {
  final case class Span(trace: Long, id: Long, parent: Long, name: String,
      startNs: Long, endNs: Long)
}

/** Engine-wide counters from Spark's public listeners. */
final class EngineCounters extends SparkListener {
  val jobs = new java.util.concurrent.atomic.AtomicLong
  val taskCpuNs = new java.util.concurrent.atomic.AtomicLong
  val gcMs = new java.util.concurrent.atomic.AtomicLong
  val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong
  val spillBytes = new java.util.concurrent.atomic.AtomicLong

  val jobWallMs = new java.util.concurrent.atomic.AtomicLong
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(t0 => jobWallMs.addAndGet(e.time - t0))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snap(): EngineCounters.Snap = EngineCounters.Snap(jobs.get, taskCpuNs.get, gcMs.get,
    shuffleWriteBytes.get, spillBytes.get, jobWallMs.get.toDouble)
}

object EngineCounters {
  final case class Snap(jobs: Long, cpuNs: Long, gcMs: Long, shuffleW: Long, spill: Long,
      jobWallMs: Double)
}

/** Per-action plan and scan facts from `QueryExecutionListener`. */
final class PlanCounters extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var exchanges = 0L
  @volatile var joins = 0L
  @volatile var codegenFallbacks = 0L
  @volatile var filesRead = 0L
  @volatile var bytesRead = 0L
  @volatile var rowsScanned = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)

  def record(plan: SparkPlan): Unit = synchronized {
    foreach(plan) {
      case s: FileSourceScanExec =>
        filesRead += metric(s, "numFiles")
        bytesRead += metric(s, "filesSize")
        rowsScanned += metric(s, "numOutputRows")
      case _: Exchange => exchanges += 1
      case _: BaseJoinExec => joins += 1
      case p =>
        codegenFallbacks += p.expressions.map(_.collect {
          case f: org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback => f
        }.size).sum
    }
  }

  def snap(): PlanCounters.Snap = synchronized {
    PlanCounters.Snap(exchanges, joins, codegenFallbacks, filesRead, bytesRead, rowsScanned)
  }
}

object PlanCounters {
  final case class Snap(exchanges: Long, joins: Long, fallbacks: Long,
      files: Long, bytes: Long, rows: Long)
}

/** File-tree and JVM memory facts. */
object Io {

  /** Files and bytes under a directory tree. */
  def tree(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + java.nio.file.Files.size(p)) }
      finally s.close()
    }

  def parquetFiles(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }

  private def oldGenPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported &&
        p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))

  /** Old-generation occupancy after a full collection, in MB. The
    * first collection lets Spark's ContextCleaner and asynchronous
    * unpersists release what is already unreachable; the second one
    * measures. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldGenPools.map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
}

object Probes {
  /** Engine totals between two snapshots, as per-layer metrics. */
  def engineDelta(a: EngineCounters.Snap, b: EngineCounters.Snap): Map[String, Double] = Map(
    "spark.task_cpu_s" -> (b.cpuNs - a.cpuNs) / 1e9,
    "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3,
    "spark.shuffle_write_mb" -> (b.shuffleW - a.shuffleW) / 1048576.0,
    "spark.spill_mb" -> (b.spill - a.spill) / 1048576.0)
}

/** Registers the listeners on a session. */
final class Probes(spark: SparkSession) {
  val engine = new EngineCounters
  val plans = new PlanCounters
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(plans)
  CountingFs.install(spark)
}

/** The local file system with its metadata and data calls counted —
  * Hadoop's own statistics count no operations for `file:`.
  * Installed only for traced passes (see [[CountingFs.install]]). */
class CountingFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import CountingFs.{reads, writes}
  override def listStatus(p: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(p) }
  override def getFileStatus(p: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = { reads.incrementAndGet(); super.open(p, bufferSize) }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(p, recursive) }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(p, perm) }
}

object CountingFs {
  val reads = new java.util.concurrent.atomic.AtomicLong
  val writes = new java.util.concurrent.atomic.AtomicLong

  /** Route `file:` paths through [[CountingFs]] from now on. Emptying
    * Hadoop's FileSystem cache once makes the next lookup create a
    * counting instance, which the cache then serves as it served the
    * plain one, so traced runs keep the shipped caching. */
  def install(spark: SparkSession): Unit = {
    spark.sparkContext.hadoopConfiguration.set("fs.file.impl", classOf[CountingFs].getName)
    org.apache.hadoop.fs.FileSystem.closeAll()
  }
}
