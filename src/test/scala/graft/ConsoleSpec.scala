package graft

import graft.queries.Console
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class ConsoleSpec extends SparkSpec {

  private object Cat extends Console.Catalog {
    def resolve(s: SparkSession, name: String): DataFrame = name match {
      case "docs" => Tables.load(s, sfDir, "documents")
        .select(col("text").as("_raw"), col("doc_id").as("id"))
      case "ev" => Tables.load(s, sfDir, "events")
        .select(col("event_type").as("_raw"), col("ts"), col("event_id").as("id"))
      case other => fail(s"unknown $other")
    }
  }

  test("select with where-regex and limit (cli/cloudpelican-lsd.go:455-491)") {
    val cmd = Console.parse("select * from docs where 'spark' limit 5")
    assert(cmd == Console.Select("docs", Some("spark"), Some(5), tail = false))
    val got = Console.compile(cmd, Cat, spark).collect()
    assert(got.length == 5)
    assert(got.forall(_.getString(0).contains("spark")))
  }

  test("quoted where-regex may contain keywords like 'limit'") {
    val cmd = Console.parse("select * from docs where 'rate limit exceeded' limit 3")
    assert(cmd == Console.Select("docs", Some("rate limit exceeded"), Some(3),
      tail = false))
    // and executes without error (empty result is fine — pattern is rare)
    Console.compile(cmd, Cat, spark).count()
  }

  test("tail rewrites to last-N by id (cli/cloudpelican-lsd.go:250-259)") {
    val cmd = Console.parse("tail ev")
    assert(cmd == Console.Select("ev", None, Some(10), tail = true))
    val got = Console.compile(cmd, Cat, spark).count()
    assert(got == 10)
  }

  test("stats parses window/rollup durations and gap-fills") {
    val cmd = Console.parse("stats ev window 1d rollup 2h")
    assert(cmd == Console.Stats("ev", 86400L, 7200L))
    val df = Console.compile(cmd, Cat, spark)
    val buckets = df.select("bucket_start").collect().map(_.getLong(0)).sorted
    assert(buckets.forall(_ % 7200 == 0))
    // complete arithmetic series (gap-fill)
    assert(buckets.zip(buckets.tail).forall { case (a, b) => b - a == 7200 })
  }

  test("stats over an empty source returns the stats schema with no rows") {
    val empty = new Console.Catalog {
      def resolve(s: SparkSession, name: String): DataFrame =
        Cat.resolve(s, "ev").filter(lit(false))
    }
    val df = Console.compile(Console.parse("stats ev window 1d rollup 2h"),
      empty, spark)
    val full = Console.compile(Console.parse("stats ev window 1d rollup 2h"),
      Cat, spark)
    assert(df.schema == full.schema)
    assert(df.collect().isEmpty)
  }

  test("count emits COUNT(1) (F15)") {
    val got = Console.compile(Console.parse("count docs"), Cat, spark)
      .head().getLong(0)
    assert(got == 500)
  }

  test("cat pipeline routes through GrepQL") {
    val got = Console.compile(
      Console.parse("cat docs | grep -i SPARK | limit 7"), Cat, spark).count()
    assert(got == 7)
  }

  test("unknown verb rejected") {
    intercept[IllegalArgumentException](Console.parse("drop table docs"))
  }

  test("select from stream:default auto-creates a temp filter (cli/cloudpelican-lsd.go:500-524)") {
    val reg = new graft.operators.FilterRegistry()
    val regCat = new Console.Catalog {
      def resolve(s: SparkSession, name: String): DataFrame =
        reg.byName(name) match {
          case Some(f) => Cat.resolve(s, "docs").filter(col("_raw").rlike(f.regex))
          case None => Cat.resolve(s, name)
        }
    }
    val known = (n: String) => n == "docs" || n == "ev" || reg.byName(n).isDefined
    val cmd = Console.autoCreateTemp(
      Console.parse("select * from stream:default where 'spark' limit 5"),
      reg, known)
    val sel = cmd.asInstanceOf[Console.Select]
    assert(sel.source.startsWith("__tmp__") && sel.whereRegex.isEmpty)
    assert(reg.byName(sel.source).exists(_.temp))
    val got = Console.compile(cmd, regCat, spark).collect()
    assert(got.length == 5 && got.forall(_.getString(0).contains("spark")))
  }

  test("unknown FROM with a where-regex auto-creates; known or regex-less targets pass through") {
    val reg = new graft.operators.FilterRegistry()
    val known = (n: String) => n == "docs" || reg.byName(n).isDefined
    // unknown + regex → temp filter
    val created = Console.autoCreateTemp(
      Console.parse("select * from nosuch where 'spark' limit 3"), reg, known)
    assert(created.asInstanceOf[Console.Select].source.startsWith("__tmp__"))
    // known name keeps its where-regex inline
    val kept = Console.autoCreateTemp(
      Console.parse("select * from docs where 'spark'"), reg, known)
    assert(kept == Console.Select("docs", Some("spark"), None, tail = false))
    // unknown without a regex is NOT auto-created (nothing to filter by)
    val bare = Console.autoCreateTemp(
      Console.parse("select * from nosuch"), reg, known)
    assert(bare == Console.Select("nosuch", None, None, tail = false))
    // non-default stream name errors like the reference (":508-511")
    intercept[IllegalArgumentException](Console.autoCreateTemp(
      Console.parse("select * from stream:other where 'x'"), reg, known))
  }

  test("temp filters expire after 1 h (Filter.java:64-75 TTL)") {
    var now = 1700000000000L
    val reg = new graft.operators.FilterRegistry(None, () => now)
    val f = reg.createTemp("spark")
    assert(reg.byName(f.name).isDefined)
    now += FilterTtlSlack
    assert(reg.byName(f.name).isEmpty, "expired temp filter still resolvable")
  }
  private val FilterTtlSlack = 3601 * 1000L

  test("REPL dual-series: errorSeries is the metric-2 face of the stats chart (cli/stats.go:69-90)") {
    val s = spark
    import s.implicits._
    val t0 = 1700000000L
    val base = (1 to 200).map { i =>
      val raw = if (i % 4 == 0) s"disk error $i" else s"request ok $i"
      (raw, java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t0 + i * 60)))
    }.toDF("_raw", "ts")
    val st = Console.Stats("x", 86400L, 3600L)
    val err = graft.queries.Repl.errorSeries(base, st)
    assert(err.nonEmpty)
    assert(err.map(_._2).sum == 50, "every 4th row is an error")
    val now = t0 + 200 * 60
    val reg = graft.operators.StatsRollup
      .statsQuery(base, "ts", Seq.empty, 86400L, 3600L, now)
      .orderBy("bucket_start").collect()
      .map(r => (r.getAs[Long]("bucket_start"), r.getAs[Long]("cnt"))).toSeq
    // both series bucket-aligned; the chart draws o and * together
    assert(err.map(_._1).forall(reg.map(_._1).toSet.contains))
    val out = graft.queries.Chart.render(reg, err)
    assert(out.contains("o") && out.contains("*"), s"missing glyph:\n$out")
  }

  test("search: raw SQL with catalog-resolved FROM (cli/cloudpelican-lsd.go:322-348)") {
    val cmd = Console.parse(
      "search SELECT count(*) AS n FROM docs WHERE _raw LIKE '%spark%'")
    assert(cmd.asInstanceOf[Console.Search].sources == Seq("docs"))
    val n = Console.compile(cmd, Cat, spark).head().getLong(0)
    // agrees with the grep path over the same source
    val viaGrep = Console.compile(
      Console.parse("cat docs | grep spark"), Cat, spark).count()
    assert(n == viaGrep && n > 0)
    // multi-source search joins two catalog names
    val joined = Console.compile(Console.parse(
      "search SELECT count(*) AS n FROM docs d JOIN ev e ON d.id = e.id"),
      Cat, spark).head().getLong(0)
    assert(joined > 0)
  }
}
