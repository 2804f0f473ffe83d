package perfbench

import graft.model.FilterDef
import graft.queries.Console
import graft.streaming.LogPipeline
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import scala.collection.mutable

/** console: one client sends a seeded mix of console lines, each
  * parsed, compiled and collected in turn (closed loop). The results
  * table they read is written in set-up by `LogPipeline.resultsQuery`
  * itself, so it has the streaming sink's (filter_id, date) layout. */
object ConsoleBench {
  val CorpusLines = 20000L
  val MinQueries = 100
  val TailPercentile = 0.9  // lat_tail_s: p90 of per-line latency

  /** Twelve filters, at most FilterFanout.InlineRegistryLimit, so the
    * table is written through the inline fan-out path. The corpus holds
    * stamped lines only, so the two anchors on stamp-less lines
    * (`(?i)^nginx`, `^app\\[`) are left out: they could never match. */
  def registry: Seq[FilterDef] =
    Gen.registry(32).filterNot(f => f.regex.startsWith("(?i)^nginx") || f.regex.startsWith("^app")).take(12)

  /** One round of the mix; shares are exact per round. No record of
    * how often users send each kind exists, so the shares are an
    * unverified assumption: one of each kind per round. */
  val Mix: Seq[(String, Int)] = Seq("grep" -> 1, "grep_all" -> 1,
    "select" -> 1, "tail" -> 1, "stats" -> 1, "count" -> 1, "search" -> 1)
  val RoundSize: Int = Mix.map(_._2).sum
  /** Kinds that name one filter, so the read prunes to its partition. */
  val Pruned: Set[String] = Set("grep", "select", "tail", "stats", "count")
  def prunedShare: Double = Mix.filter(m => Pruned(m._1)).map(_._2).sum.toDouble / RoundSize

  /** One results row of the in-memory corpus: (filter index, event
    * time in epoch ms, the stored line). */
  final case class Hit(f: Int, tsMs: Long, raw: String)

  /** Event time of a stamped line, parsed without graft: the stamp's
    * first three sub-second digits and its UTC offset. */
  def stampMs(line: String): Long = {
    val m = StampRe.findPrefixMatchOf(line).get
    java.time.OffsetDateTime.parse(m.group(1) + m.group(2)).toInstant.toEpochMilli
  }
  private val StampRe = "(\\d{4}-\\d\\d-\\d\\dT\\d\\d:\\d\\d:\\d\\d\\.\\d{3})\\d*([+-]\\d\\d:\\d\\d)".r

  final case class Corpus(filters: Seq[FilterDef], hits: IndexedSeq[Hit], path: String)

  /** The corpus's sequence numbers: only stamped, non-blank templates,
    * so every row's event time is known without the wall clock. */
  def corpusSeqs(pool: Gen.Pool): Iterator[Long] =
    Iterator.from(0).map(_.toLong).filter { s =>
      val t = pool.templates(pool.index(s)); !t.blank && t.prefix.contains(" ")
    }.take(CorpusLines.toInt)

  def setup(ctx: Ctx): Corpus = {
    val spark = ctx.spark
    val pool = Gen.pool(ctx.seed)
    val filters = registry
    val seqs = corpusSeqs(pool).toArray
    val path = ctx.dir("console-results")
    val ck = ctx.dir("console-ck")
    Seq(path, ck).foreach(p => deleteTree(java.nio.file.Paths.get(p)))
    implicit val enc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val ms = MemoryStream[Long](spark, ctx.cores)
    ms.addData(seqs.toSeq)
    val q = LogPipeline.resultsQuery(
      LogPipeline.matches(LogPipeline.parse(LiveTail.lines(ms.toDF(), pool, "value")), filters),
      path, ck, Trigger.AvailableNow())
    q.awaitTermination()
    val pats = filters.map(f => java.util.regex.Pattern.compile(f.regex))
    val hits = seqs.toIndexedSeq.flatMap { s =>
      val l = LiveTail.normalize(pool.line(s))
      pats.indices.filter(j => pats(j).matcher(l).find()).map(j => Hit(j, stampMs(l), l))
    }
    Corpus(filters, hits, path)
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally s.close()
    }

  /** Filter name → its partition of the results table; `all` is the
    * whole table. */
  final class Catalog(c: Corpus) extends Console.Catalog {
    private val ids = c.filters.map(f => f.name -> f.id).toMap
    def resolve(spark: SparkSession, name: String): DataFrame = {
      val t = spark.read.parquet(c.path)
      if (name == "all") t
      else t.filter(col("filter_id") === ids.getOrElse(name,
        throw new IllegalArgumentException(s"unknown filter $name")))
    }
  }

  // ------------------------------------------------------------- the mix

  private val GrepWords = Vector("session", "upstream", "latency", "pool",
    "client", "flush", "rpc", "queue")
  private val GrepStages = Vector("grep -v 404", "grep -i checkout",
    "grep -e \"(100|200)\"", "grep -e \"took [0-9]+\"", "grep -i ERROR",
    "grep -v -i session", "grep cache")

  final case class Query(kind: String, line: String)

  def round(seed: Long, n: Int, filters: Seq[FilterDef]): Seq[Query] = {
    val r = Gen.rng(seed, s"console$n")
    def f() = r.pick(filters.toVector).name
    def w() = r.pick(GrepWords)
    def grepTail() = r.nextInt(3) match {
      case 0 => " | sort | head"
      case 1 => " | sort -r | head"
      case _ => " | limit 20"
    }
    val qs = Mix.flatMap { case (kind, k) =>
      (1 to k).map { _ =>
        val line = kind match {
          case "grep" =>
            val stages = new scala.util.Random(r.nextLong()).shuffle(GrepStages).take(1 + r.nextInt(3))
            s"cat ${f()} | ${stages.mkString(" | ")}${grepTail()}"
          case "grep_all" => s"cat all | grep -i ${w()} | grep -e \"(100|200)\" | sort | head"
          case "select" => s"select * from ${f()} where '${r.pick(Vector("took [0-9]{2} ms", "(GET|POST)", "^2015-07-20T1[0-2]", w()))}' limit 20"
          case "tail" => s"tail ${f()}"
          case "stats" => s"stats ${f()} window 1d rollup 1h"
          case "count" => s"count ${f()}"
          case "search" => s"search select filter_id, count(*) as n from all where _raw like '%${w()}%' group by filter_id"
        }
        Query(kind, line)
      }
    }
    new scala.util.Random(r.nextLong()).shuffle(qs)
  }

  // ------------------------------------------------- plain-Scala answers

  /** Grep predicate semantics of the console language, in plain Scala. */
  private def grepKeep(raw: String, g: graft.queries.GrepQL.GrepCmd): Boolean = {
    val hit =
      if (g.regex) java.util.regex.Pattern.compile(
        if (g.caseInsensitive) "(?i)" + g.pattern else g.pattern).matcher(raw).find()
      else if (g.caseInsensitive) raw.toLowerCase(java.util.Locale.ROOT)
        .contains(g.pattern.toLowerCase(java.util.Locale.ROOT))
      else raw.contains(g.pattern)
    hit != g.inverse
  }

  /** Check one answer against the in-memory corpus. */
  def check(c: Corpus, cmd: Console.Command, rows: Array[Row]): Boolean = {
    val idx = c.filters.map(f => f.name -> c.filters.indexOf(f)).toMap
    def src(name: String) = if (name == "all") c.hits else c.hits.filter(_.f == idx(name))
    def raws = rows.map(_.getString(0)).toSeq
    cmd match {
      case Console.Grep(p) =>
        val kept = src(p.source).map(_.raw).filter(r => p.greps.forall(g => grepKeep(r, g)))
        p.sortDesc match {
          case Some(desc) =>
            val s = if (desc) kept.sorted.reverse else kept.sorted
            raws == p.limit.fold(s)(s.take)
          case None => subsetOf(raws, kept) && raws.size == p.limit.fold(kept.size)(math.min(_, kept.size))
        }
      case Console.Select(name, where, limit, true) =>
        val kept = src(name).map(_.raw).filter(r => where.forall(w => java.util.regex.Pattern.compile(w).matcher(r).find()))
        raws.sorted == kept.sorted.reverse.take(limit.getOrElse(10)).sorted
      case Console.Select(name, where, limit, false) =>
        val kept = src(name).map(_.raw).filter(r => where.forall(w => java.util.regex.Pattern.compile(w).matcher(r).find()))
        subsetOf(raws, kept) && raws.size == limit.fold(kept.size)(math.min(_, kept.size))
      case Console.Count(name) => rows.length == 1 && rows(0).getLong(0) == src(name).size
      case Console.Stats(name, window, rollup) =>
        val secs = src(name).map(h => math.floorDiv(h.tsMs, 1000L))
        val now = secs.max
        val counts = secs.filter(_ >= now - window).groupBy(s => math.floorDiv(s, rollup) * rollup)
          .map { case (b, xs) => b -> xs.size.toLong }
        val (lo, hi) = (counts.keys.min, counts.keys.max)
        val want = (lo to hi by rollup).map(b => (b, counts.getOrElse(b, 0L))).toSet
        rows.map(r => (r.getLong(0), r.getLong(1))).toSet == want && rows.length == want.size
      case Console.Search(sql, _) =>
        val w = "'%(.*)%'".r.findFirstMatchIn(sql).get.group(1)
        val want = c.hits.filter(_.raw.contains(w)).groupBy(_.f)
          .map { case (f, xs) => c.filters(f).id -> xs.size.toLong }
        rows.map(r => r.getString(0) -> r.getLong(1)).toMap == want && rows.length == want.size
    }
  }

  private def subsetOf(xs: Seq[String], of: Seq[String]): Boolean = {
    val have = of.groupBy(identity).map { case (k, v) => k -> v.size }
    xs.groupBy(identity).forall { case (k, v) => have.getOrElse(k, 0) >= v.size }
  }

  // -------------------------------------------------------------- runner

  final case class Sample(kind: String, ms: Double, ok: Boolean, rows: Long)

  def runFor(ctx: Ctx, c: Corpus, cat: Catalog, seconds: Double, firstRound: Int): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val until = System.nanoTime() + (seconds * 1e9).toLong
    var n = firstRound
    // at least MinQueries, so the p90 has ten samples beyond it
    def more = System.nanoTime() < until || out.size < MinQueries
    while (more) {
      round(ctx.seed, n, c.filters).foreach { q =>
        if (more) out += one(ctx, c, cat, q)
      }
      n += 1
    }
    out.toSeq
  }

  def one(ctx: Ctx, c: Corpus, cat: Catalog, q: Query): Sample = {
    val t0 = System.nanoTime()
    try ctx.trace.span(s"console.${q.kind}") {
      val cmd = ctx.trace.span("queries.parse")(Console.parse(q.line))
      val df = ctx.trace.span("queries.compile")(Console.compile(cmd, cat, ctx.spark))
      ctx.trace.span("plans.optimize")(df.queryExecution.executedPlan)
      val rows = ctx.trace.span("queries.exec")(df.collect())
      val ms = (System.nanoTime() - t0) / 1e6
      Sample(q.kind, ms, check(c, cmd, rows), rows.length.toLong)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] console query failed: ${q.line}: $e")
        Sample(q.kind, (System.nanoTime() - t0) / 1e6, ok = false, 0L)
    }
  }

  /** One query of each kind: first-use planning and codegen. */
  def warm(ctx: Ctx, c: Corpus, cat: Catalog): Unit =
    round(ctx.seed, -1, c.filters).groupBy(_.kind).values.map(_.head)
      .toSeq.sortBy(_.kind).foreach(one(ctx, c, cat, _))

  def run(ctx: Ctx): Outcome = {
    val corpus = ctx.repeatedSetup(setup(ctx))
    val cat = new Catalog(corpus)
    ctx.onceSetup(warm(ctx, corpus, cat))
    ctx.checkpointHeap()

    def e2e(s: Seq[Sample]): Map[String, Double] = {
      val lat = s.map(_.ms).toArray.sorted
      val p = Stats.tailPercentile(lat.length, TailPercentile)
      Map("lat_p50_s" -> Stats.quantile(lat, 0.5) / 1000,
        "lat_tail_s" -> Stats.quantile(lat, p) / 1000,
        "rate_per_s" -> s.size / (s.map(_.ms).sum / 1000))
    }
    // a traced run measures once, with the probes registered first
    val probes = if (ctx.trace.enabled) Some(ctx.probes()) else None
    val e0 = probes.map(_.engine.snap()); val p0 = probes.map(_.plans.snap())
    ctx.mark("queries")
    val samples = ctx.trace.span("console.run")(runFor(ctx, corpus, cat, ctx.seconds, 0))
    ctx.mark("measured")
    val e1 = probes.map(_.engine.snap()); val p1 = probes.map(_.plans.snap())
    ctx.checkpointHeap()
    val base = e2e(samples)
    val failed = samples.count(!_.ok).toLong
    val tailP = Stats.tailPercentile(samples.size, TailPercentile)
    val notes = Map(
      "console_lat_p50_s" -> f"${base("lat_p50_s")}%.4f",
      "console_lat_p90_s" -> f"${base("lat_tail_s")}%.4f",
      "console_lat_percentile" -> tailP.toString,
      "queries" -> samples.size.toString,
      "corpus_lines" -> CorpusLines.toString, "results_rows" -> corpus.hits.size.toString,
      "filters" -> corpus.filters.size.toString, "no_stamp_share" -> "0",
      "mix" -> Mix.map { case (k, n) => s"$k:$n" }.mkString(","),
      "pruned_share" -> f"$prunedShare%.2f") ++
      samples.groupBy(_.kind).map { case (k, xs) => s"p50_ms.$k" -> f"${Stats.median(xs.map(_.ms))}%.1f" }
    if (!ctx.trace.enabled)
      return Outcome(samples.size.toLong, failed, base, Map.empty, notes)

    val layers = queryLayers(ctx, samples, p0.get, p1.get, e0.get, e1.get) ++ Map(
      "trace.lat_p50_s" -> base("lat_p50_s"),
      "trace.rate_per_s" -> base("rate_per_s")) ++ Probes.engineDelta(e0.get, e1.get)
    Outcome(samples.size.toLong, failed, base, layers, notes)
  }

  /** The queries, plans and sources metrics of `samples`, from the
    * counter snapshots taken around them. */
  def queryLayers(ctx: Ctx, samples: Seq[Sample], pa: PlanCounters.Snap, pb: PlanCounters.Snap,
      ea: EngineCounters.Snap, eb: EngineCounters.Snap): Map[String, Double] = {
    val nq = samples.size.toDouble
    val rowsOut = samples.map(_.rows).sum.max(1L)
    val wallMs = samples.map(_.ms).sum
    def p50(name: String) = { val d = ctx.trace.spanDurationsMs(name); if (d.isEmpty) 0.0 else Stats.median(d) }
    Map(
      "queries.parse_ms_p50" -> p50("queries.parse"),
      "queries.compile_ms_p50" -> p50("queries.compile"),
      "plans.optimize_ms_p50" -> p50("plans.optimize"),
      "queries.exec_ms_p50" -> p50("queries.exec"),
      "queries.driver_share" -> (1 - (eb.jobWallMs - ea.jobWallMs) / wallMs),
      "sources.bytes_read_per_query" -> (pb.bytes - pa.bytes) / nq,
      "sources.files_read_per_query" -> (pb.files - pa.files) / nq,
      "sources.rows_examined_per_row_returned" -> (pb.rows - pa.rows).toDouble / rowsOut,
      "plans.exchanges_per_query" -> (pb.exchanges - pa.exchanges) / nq,
      "plans.codegen_fallback_per_query" -> (pb.fallbacks - pa.fallbacks) / nq,
      "spark.jobs_per_query" -> (eb.jobs - ea.jobs) / nq)
  }

  /** The console as a probe pass inside another workload's traced run:
    * set-up once, one warm query per kind, then `rounds` rounds of the
    * mix with the probes registered. Returns (queries, failed, metrics). */
  def probePass(ctx: Ctx, rounds: Int): (Long, Long, Map[String, Double]) = {
    val corpus = setup(ctx)
    val cat = new Catalog(corpus)
    warm(ctx, corpus, cat)
    val probes = ctx.probes()
    val e0 = probes.engine.snap(); val p0 = probes.plans.snap()
    val samples = (0 until rounds).flatMap(n =>
      round(ctx.seed, n, corpus.filters).map(one(ctx, corpus, cat, _)))
    val e1 = probes.engine.snap(); val p1 = probes.plans.snap()
    (samples.size.toLong, samples.count(!_.ok).toLong, queryLayers(ctx, samples, p0, p1, e0, e1))
  }
}
