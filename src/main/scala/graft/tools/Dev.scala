package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.model.FilterDef
import graft.operators.Scale
import graft.sources.Tables
import graft.streaming.LogPipeline
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Developer tools behind one main:
  *
  * {{{
  * runMain graft.tools.Dev probe <query> [sfDir] [runs]  # cold + warm timings, plan
  * runMain graft.tools.Dev plans [sfDir] [query ...]     # formatted physical plans
  * runMain graft.tools.Dev entry-smoke                   # SparkEntry.entry on a vanilla session
  * runMain graft.tools.Dev scale-demo [sfDir]            # salted agg + bucketed join check
  * runMain graft.tools.Dev stream-demo <sfDir> <workDir>  # file-source stream → results + stats
  * }}}
  */
object Dev {
  private val Fixtures = "/root/testdata"
  private val usage =
    "usage: Dev probe <query> [sfDir] [runs] | plans [sfDir] [query ...] | " +
      "entry-smoke | scale-demo [sfDir] | stream-demo <sfDir> <workDir>"

  def main(args: Array[String]): Unit = args.toList match {
    case "probe" :: name :: rest =>
      withSession("probe")(probe(_, name,
        rest.headOption.getOrElse(s"$Fixtures/sf0.1"),
        rest.drop(1).headOption.fold(3)(_.toInt)))
    case "plans" :: rest =>
      withSession("plans")(plans(_,
        rest.headOption.getOrElse(s"$Fixtures/sf0.01"), rest.drop(1)))
    case "entry-smoke" :: Nil =>
      // an external caller's smoke: a VANILLA session (no GraftSession
      // tuning, ANSI default-on, no extensions) calling SparkEntry.entry
      run(SparkSession.builder().master("local[4]")
        .config("spark.ui.enabled", "false").getOrCreate()) { spark =>
        val df = SparkEntry.entry(spark)
        println(s"ENTRY_SMOKE rows=${df.count()} cols=${df.columns.mkString(",")}")
      }
    case "scale-demo" :: rest =>
      withSession("scale-demo")(scaleDemo(_,
        rest.headOption.getOrElse(s"$Fixtures/sf0.01")))
    case "stream-demo" :: sfDir :: workDir :: Nil =>
      withSession("stream-demo")(streamDemo(_, sfDir, workDir))
    case _ => sys.error(usage)
  }

  private def withSession(app: String)(body: SparkSession => Unit): Unit =
    run(GraftSession.builder(GraftSession.defaultCores)
      .appName(s"dev-$app").getOrCreate())(body)

  private def run(spark: SparkSession)(body: SparkSession => Unit): Unit = {
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark) finally spark.stop()
  }

  /** Time one SparkEntry query in isolation (cold + warm runs), then
    * print its formatted physical plan. */
  private def probe(spark: SparkSession, name: String, dir: String,
      runs: Int): Unit = {
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; have: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    // absorb session-wide startup so run1 measures the query's own
    // cold cost (its codegen + IO), not the JVM's. Warm on sf0.001,
    // not `dir` — probe fixtures like the x10/x100 replicas carry only
    // the documents/embeddings tables.
    SparkEntry.queries("q1_agg")(spark, s"$Fixtures/sf0.001")
      .write.format("noop").mode("overwrite").save()
    for (i <- 1 to runs) {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      GraftSession.releaseCachedBlocks(spark)
    }
    fn(spark, dir).explain("formatted")
  }

  /** Formatted physical plans for headline queries — the scale-review
    * loop (pushdown / broadcast / codegen inspection). */
  private def plans(spark: SparkSession, sfDir: String,
      requested: Seq[String]): Unit = {
    val names = if (requested.nonEmpty) requested else Seq(
      "q_grep_pipeline", "q1_agg", "q_join_agg", "q_join_5way",
      "q_topk_orders", "q_filter_fanout", "q_stats_rollup", "q_semi_join",
      "q_dedup_exact", "q_embed_topk")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
  }

  /** The scale utilities on the fixtures: salted-vs-direct aggregation
    * agreement and the bucketed-join plan's exchange count. */
  private def scaleDemo(spark: SparkSession, sfDir: String): Unit = {
    val events = Tables.load(spark, sfDir, "events")
    val direct = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Scale.saltedCount(events, Seq("event_type"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"SALTED_EQUALS_DIRECT=${salted == direct} keys=${direct.size} total=${direct.values.sum}")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    Scale.writeBucketed(Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice")), "sd_orders", "k", 4)
    Scale.writeBucketed(Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_quantity")), "sd_lineitem", "k", 4)
    val joined = Scale.bucketedJoin(spark, "sd_orders", "sd_lineitem", "k")
    val exchanges = joined.queryExecution.executedPlan.toString
      .split("Exchange").length - 1
    println(s"BUCKETED_JOIN_EXCHANGES=$exchanges rows=${joined.count()}")
    spark.sql("DROP TABLE sd_orders"); spark.sql("DROP TABLE sd_lineitem")
  }

  /** The streaming ingest end to end on finite input: fixture
    * documents → text-file "log" → file-source stream → parse →
    * fan-out → {parquet results sink partitioned by date, windowed
    * stats}, driven to completion; prints a summary line
    * (`partitions` counts distinct (filter_id, date) pairs). */
  private def streamDemo(spark: SparkSession, sfDir: String,
      workDir: String): Unit = {
    // stage fixture docs as timestamped syslog-ish lines
    val linesDir = s"$workDir/lines"
    Tables.load(spark, sfDir, "documents")
      .select(concat(
        lit("2025-07-20T11:"),
        lpad((col("doc_id") % 60).cast("string"), 2, "0"),
        lit(":00.000+00:00 host"), (col("doc_id") % 4).cast("string"),
        lit(" app: "), col("text")).as("value"))
      .coalesce(1).write.mode("overwrite").text(linesDir)
    val filters = Seq(
      FilterDef("f_spark", "spark", "spark"),
      FilterDef("f_joinmerge", "join_or_merge", "(join|merge)"),
      FilterDef("f_ci", "query_ci", "(?i)QUERY"))
    val stream = spark.readStream.schema("value STRING").text(linesDir)
    val matched =
      LogPipeline.matches(LogPipeline.parse(stream, "value"), filters)
    val results = LogPipeline.resultsQuery(matched,
      s"$workDir/results", s"$workDir/ckpt_results",
      Trigger.ProcessingTime("1 second"))
    val stats = LogPipeline.statsQuery(matched, "demo_stats",
      stepSec = 60, Trigger.ProcessingTime("1 second"))
    results.processAllAvailable()
    stats.processAllAvailable()
    results.stop(); stats.stop()
    val written = spark.read.parquet(s"$workDir/results")
    val perFilter = written.groupBy("filter_id").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
    val statRows = spark.table("demo_stats").count()
    val partitions = written.select("filter_id", "date").distinct().count()
    println(s"STREAM_DEMO results_per_filter{$perFilter} stats_rows=$statRows partitions=$partitions")
  }
}
