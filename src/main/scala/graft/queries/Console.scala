package graft.queries

import graft.functions.LogFunctions
import graft.operators.{StatsRollup, Tail}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference CLI's verb surface (`cli/cloudpelican-lsd.go:200-303`)
  * compiled to DataFrame plans instead of supervisor RPCs:
  *
  *   cat <f> | grep ... | sort | head          — [[GrepQL]]
  *   select <cols> from <f> [where '<regex>'] [limit n]
  *                                             — `:455-491`
  *   tail <f>                                  — rewrite to select+last-N,
  *                                               `:250-259`, `:629-636`
  *   stats <f> [window W] [rollup R]           — `:761-833` + A4 rollup
  *   count <f>                                 — COUNT(1) shape (F15)
  *
  * The engine side is a [[Catalog]]: name → results DataFrame with a
  * `_raw` column (plus `id`/`ts` when available). In the reference the
  * name resolves to a filter's result table; here any registered
  * DataFrame works.
  */
object Console {

  trait Catalog {
    /** Resolve a filter/table name to its results frame. */
    def resolve(spark: SparkSession, name: String): DataFrame
  }

  sealed trait Command
  final case class Grep(pipeline: GrepQL.GrepPipeline) extends Command
  final case class Select(source: String, whereRegex: Option[String],
      limit: Option[Int], tail: Boolean) extends Command
  final case class Stats(source: String, windowSec: Long, rollupSec: Long)
      extends Command
  final case class Count(source: String) extends Command
  /** `search <sql>` — raw SQL with `FROM <name>` resolved through the
    * catalog (reference `cli/cloudpelican-lsd.go:322-348`: regex
    * rewrite of the FROM target + `select *`→`select _raw`, then
    * delegate; here the delegate is Catalyst, not BigQuery).
    */
  final case class Search(sql: String, sources: Seq[String]) extends Command

  /** Parse one console line into a Command.
    * Mirrors the keyword dispatch at `cli/cloudpelican-lsd.go:200-303`.
    */
  def parse(line: String): Command = {
    val trimmed = line.trim
    val lower = trimmed.toLowerCase(java.util.Locale.ROOT)
    if (lower.startsWith("cat ")) Grep(GrepQL.parse(trimmed))
    else if (lower.startsWith("tail ")) {
      val name = trimmed.split("\\s+")(1)
      Select(name, None, Some(10), tail = true) // tail = select * + last-N
    } else if (lower.startsWith("select")) parseSelect(trimmed)
    else if (lower.startsWith("stats ")) parseStats(trimmed)
    else if (lower.startsWith("count ")) Count(trimmed.split("\\s+")(1))
    else if (lower.startsWith("search ")) {
      val sql = trimmed.drop("search ".length).trim
      // candidate FROM/JOIN targets; resolution is best-effort at
      // compile time (CTE names, string-literal text, and derived
      // tables simply won't resolve in the catalog and are skipped —
      // Catalyst resolves them itself or reports the missing relation)
      val sources = "(?i)\\b(?:from|join)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1)).toSeq.distinct
      Search(sql, sources)
    }
    else throw new IllegalArgumentException(s"unknown command: $trimmed")
  }

  /** `select <cols> from <name> [where '<regex>'] [limit n]` —
    * shape per `cli/cloudpelican-lsd.go:457-491`; `*` projects `_raw`
    * (`:338-339`). The where-regex is taken verbatim from its quotes
    * (it may contain keywords like `limit`); an unquoted where pattern
    * is a single token.
    */
  private val FromRe = "(?i)\\bfrom\\s+(\\S+)".r
  private val WhereQuotedRe = "(?i)\\bwhere\\s+'([^']*)'".r
  private val WhereBareRe = "(?i)\\bwhere\\s+([^'\\s]+)".r
  private val LimitRe = "(?i)\\blimit\\s+(\\d+)\\s*$".r

  private def parseSelect(s: String): Select = {
    val source = FromRe.findFirstMatchIn(s).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException(s"select needs FROM: $s"))
    val whereRegex = WhereQuotedRe.findFirstMatchIn(s).map(_.group(1))
      .orElse(WhereBareRe.findFirstMatchIn(s).map(_.group(1))
        .filterNot(_.equalsIgnoreCase("limit")))
    val limit = LimitRe.findFirstMatchIn(s).map(_.group(1).toInt)
    Select(source, whereRegex, limit, tail = false)
  }

  /** `stats <name> [window W] [rollup R]` with m/h/d suffixes —
    * defaults 86400 s window, 60 s rollup
    * (`cli/cloudpelican-lsd.go:794-798`).
    */
  private def parseStats(s: String): Stats = {
    val toks = s.split("\\s+").toSeq
    require(toks.length >= 2, s"stats needs a name: $s")
    var window = 86400L
    var rollup = 60L
    var i = 2
    while (i < toks.length) {
      toks(i).toLowerCase(java.util.Locale.ROOT) match {
        case "window" if i + 1 < toks.length =>
          window = LogFunctions.parseDuration(toks(i + 1)); i += 2
        case "rollup" if i + 1 < toks.length =>
          rollup = LogFunctions.parseDuration(toks(i + 1)); i += 2
        case _ => i += 1
      }
    }
    Stats(toks(1), window, rollup)
  }

  /** Reference parity (`cli/cloudpelican-lsd.go:500-524`): a
    * select/tail whose FROM target the catalog doesn't know is
    * auto-served by creating a TEMPORARY filter `__tmp__<unixts>`
    * holding the WHERE regex (empty = match-all) and retargeting the
    * command at it. The reference spells the unknown target
    * `stream:default` (any other `stream:` name errors, `:508-511`); a
    * plain unknown name with a WHERE regex gets the same treatment.
    * Temp filters expire after 1 h via [[graft.operators.FilterRegistry]].
    */
  def autoCreateTemp(cmd: Command,
      registry: graft.operators.FilterRegistry,
      known: String => Boolean): Command = cmd match {
    case Select(src, _, _, _)
        if src.startsWith("stream:") && src != "stream:default" =>
      throw new IllegalArgumentException(
        "Can not create temporary filter from stream, try 'select * from stream:default'")
    case s @ Select(src, where, _, _)
        if src == "stream:default" || (!known(src) && where.nonEmpty) =>
      val f = registry.createTemp(where.getOrElse(""))
      s.copy(source = f.name, whereRegex = None)
    case other => other
  }

  /** Compile a parsed command against the catalog. `nowEpochSec` pins
    * the stats window for determinism (tests/oracle).
    */
  def compile(cmd: Command, catalog: Catalog, spark: SparkSession,
      nowEpochSec: Option[Long] = None): DataFrame = cmd match {
    case Grep(p) =>
      p.compile(catalog.resolve(spark, p.source), "_raw")
        .select("_raw")
    case Select(src, whereRegex, limit, tail) =>
      val base = catalog.resolve(spark, src)
      val filtered = whereRegex match {
        case Some(re) => base.filter(col("_raw").rlike(re)) // P6
        case None => base
      }
      if (tail) {
        val orderCol = if (filtered.columns.contains("id")) "id" else "_raw"
        Tail.lastN(filtered, limit.getOrElse(10), Seq(orderCol)).select("_raw")
      } else limit.fold(filtered.select("_raw"))(n => filtered.select("_raw").limit(n))
    case Stats(src, window, rollup) =>
      val base = catalog.resolve(spark, src)
      require(base.columns.contains("ts"), s"stats needs a ts column on $src")
      // an empty source has no latest stamp (the max is null): serve
      // the stats schema with no rows
      val now = nowEpochSec.orElse(Option(
        base.agg(max(unix_timestamp(col("ts")))).head().get(0))
        .map(_.asInstanceOf[Long]))
      val stats = StatsRollup.statsQuery(base, "ts", Seq.empty,
        windowSec = window, stepSec = rollup, nowEpochSec = now.getOrElse(0L))
      if (now.isEmpty) stats.limit(0) else stats
    case Count(src) =>
      catalog.resolve(spark, src).agg(count(lit(1)).as("cnt"))
    case Search(sql, sources) =>
      // Register catalog-resolvable FROM/JOIN targets as temp views
      // (best-effort: names the catalog doesn't know — CTEs, literals —
      // are skipped). Views created here are dropped again after the
      // plan is analyzed, so the session catalog isn't left mutated;
      // pre-existing views are left alone (and shadow the catalog).
      val created = sources.flatMap { src =>
        if (spark.catalog.tableExists(src)) None
        else scala.util.Try {
          catalog.resolve(spark, src).createOrReplaceTempView(src)
          src
        }.toOption
      }
      try {
        val df = spark.sql(sql)
        df.schema // force analysis while the views exist
        df
      } finally created.foreach(spark.catalog.dropTempView)
  }
}
