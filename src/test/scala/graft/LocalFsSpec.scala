package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._
import scala.util.Try

import graft.model.FilterDef
import graft.sources.{GraftLocalFileSystem, GraftLocalFs, NioRawLocalFileSystem}
import graft.streaming.LogPipeline
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** graft's `file:` file system (`graft/sources/LocalFs.scala`) answers like
  * Hadoop's stock local FS, without starting a process per call, and a
  * graft session lists local roots on the driver. */
class LocalFsSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def initialized[F <: FileSystem](fs: F): F = { fs.initialize(URI.create("file:///"), conf); fs }
  private def octal(s: String) = new FsPermission(Integer.parseInt(s, 8).toShort)
  /** Full mode bits, sticky included (`PosixFilePermission` has no sticky bit). */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("a graft session resolves file: to graft's FileSystem and FileContext") {
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
  }

  test("create and mkdirs set the same permission bits as the stock local FS") {
    val root = Files.createTempDirectory("localfs-perm")
    def modes(fs: FileSystem, tag: String): Seq[(String, Int)] = {
      val d = root.resolve(tag)
      fs.create(new Path(d.resolve("f").toString)).close()
      fs.mkdirs(new Path(d.resolve("d").toString))
      fs.mkdirs(new Path(d.resolve("d700").toString), octal("700"))
      fs.mkdirs(new Path(d.resolve("sticky").toString))
      fs.setPermission(new Path(d.resolve("sticky").toString), octal("1777"))
      Seq("f", ".f.crc", "d", "d700", "sticky").map(n => n -> mode(d.resolve(n)))
    }
    val stock = modes(initialized(new LocalFileSystem(new RawLocalFileSystem)), "stock")
    assert(modes(initialized(new GraftLocalFileSystem), "graft") == stock)
    assert(stock.toMap.apply("d700") == Integer.parseInt("700", 8))
    assert(stock.toMap.apply("sticky") == Integer.parseInt("1777", 8))
  }

  test("getFileLinkStatus matches the stock local FS for files, directories, symlinks and missing paths") {
    val root = Files.createTempDirectory("localfs-link")
    val file = Files.write(root.resolve("file"), "x".getBytes)
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), file)
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    val stock = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    def view(s: FileStatus) = (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
      if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getPermission,
      s.getOwner, s.getGroup, s.getModificationTime)
    // an answer is a status or an exception class; the stock FS reads a
    // scheme-qualified path's link target as "" (not a symlink)
    def answer(fs: FileSystem, p: Path) = Try(view(fs.getFileLinkStatus(p))).toEither.left.map(_.getClass)
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         p <- Seq(new Path(root.resolve(name).toString), new Path(root.resolve(name).toUri)))
      assert(answer(nio, p) == answer(stock, p), p)
    def isLink(name: String) = nio.getFileLinkStatus(new Path(root.resolve(name).toString)).isSymlink
    assert(isLink("link") && isLink("dangling") && !isLink("file"))
    assert(answer(nio, new Path(root.resolve("missing").toString)) == Left(classOf[FileNotFoundException]))
  }

  /** The commands of the processes this JVM started while `body` ran
    * (JFR `jdk.ProcessStart` events). */
  private def spawnedBy(root: JPath)(body: => Unit): Seq[String] = {
    // Spark's process-tree metrics run `getconf PAGESIZE` once per JVM, at
    // the first heartbeat; start them now so the window sees per-call spawns only
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = root.resolve("spawns.jfr")
    rec.dump(dump)
    rec.close()
    jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map(_.getString("command")).toSeq
  }

  /** Collects what earlier tests left behind until no collection has
    * started a process for `quietSeconds`: a collected session (every
    * streaming query clones one) removes its artifact directory with
    * `rm -rf`, and that spawn must not land inside a window. A clone
    * stays reachable from the pool threads that inherited it as their
    * active session until they idle out, so after a streaming suite
    * such spawns kept arriving for a minute (at 10 s and 63 s after
    * StreamingSpec, GC every 2 s). */
  private def drainCleanups(root: JPath, quietSeconds: Int): Unit = {
    val start = System.nanoTime()
    var quietSince = start
    while (System.nanoTime() - quietSince < quietSeconds * 1000000000L) {
      assert(System.nanoTime() - start < 300000000000L,
        "earlier sessions' cleanups kept starting processes for 5 minutes")
      if (spawnedBy(root) { System.gc(); Thread.sleep(2000) }.nonEmpty)
        quietSince = System.nanoTime()
    }
  }

  test("persist and unpersist start no process, once their frames are collected too") {
    val root = Files.createTempDirectory("localfs-persist")
    val df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    // sessions earlier suites left behind (a streaming query clones one)
    // are cleaned the same way; this window runs first, after a drain
    // past Spark's 60 s pool-thread keep-alive
    drainCleanups(root, quietSeconds = 70)
    val spawned = spawnedBy(root) {
      for (i <- 0 until 20) {
        val p = df.filter(s"k = ${i % 7}").persist()
        assert(p.count() > 0)
        p.unpersist(blocking = true)
      }
      // a cached plan planned in a cloned session leaves the clone to a
      // cleaner that runs when the clone is collected
      System.gc()
      Thread.sleep(2000)
    }
    assert(spawned.size == 0, s"e.g. ${spawned.take(3).mkString("; ")}")
  }

  test("a partitioned parquet write and two results micro-batches start no process") {
    implicit val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("localfs-spawn")
    val filters = Seq(FilterDef("f_err", "errors", "error"), FilterDef("f_co", "checkout", "(?i)checkout"))
    val batch1 = Seq(
      "2015-07-20T11:35:41.851+02:00 host1 app: error in checkout 100",
      "2015-07-21T11:35:42.000+02:00 host1 app: checkout ok 200")
    val batch2 = Seq("2015-07-22T11:36:01.000+02:00 host2 app: error timeout")
    val out = root.resolve("results").toString
    // runs after the persist window, whose drain outlasted every earlier
    // clone; its own streaming clone is collected after the window
    drainCleanups(root, quietSeconds = 4)
    val spawned = spawnedBy(root) {
      (0 until 64).map(i => (s"f$i", s"2015072${i % 4}", i.toLong)).toDF("filter_id", "date", "v")
        .write.partitionBy("filter_id", "date").parquet(root.resolve("table").toString)
      val input = MemoryStream[String](spark)
      val q = LogPipeline.resultsQuery(
        LogPipeline.matches(LogPipeline.parse(input.toDF(), "value"), filters),
        out, root.resolve("checkpoint").toString)
      try {
        input.addData(batch1: _*)
        q.processAllAvailable()
        input.addData(batch2: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(spawned.size == 0, s"e.g. ${spawned.take(3).mkString("; ")}")
    assert(spark.read.parquet(out).count() == 4)
    assert(spark.read.parquet(root.resolve("table").toString).count() == 64)
  }

  test("reading a parquet root with 64 partition directories starts no Spark job") {
    val root = Files.createTempDirectory("localfs-list").resolve("t").toString
    spark.range(64).selectExpr("id", "cast(id as int) as pb")
      .write.partitionBy("pb").parquet(root)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      // a given schema: this read lists the root, it infers nothing
      val df = spark.read.schema("id long, pb int").parquet(root)
      assert(df.inputFiles.length == 64)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      assert(jobs.get == 0, s"listing the root started ${jobs.get} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
