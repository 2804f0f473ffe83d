package perfbench

import graft.functions.LogFunctions
import graft.streaming.LogPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layer self time from cumulative plan prefixes. Spark is lazy, so a
  * span around a plan-building call only times plan construction;
  * instead each prefix (input → +parse → +fan-out → +sink) is forced
  * over the same cached input and a layer's self time is the
  * difference between consecutive prefixes. */
object Prefix {
  val Reps = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def medianMs(body: => Unit): Double =
    Stats.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    })

  /** Log path: parse (functions) → fan-out (operators) → parquet
    * results write (the results sink's layout). */
  def logPath(ctx: Ctx, pool: Gen.Pool, filters: Seq[graft.model.FilterDef]): Map[String, Double] = {
    val m = 50000L
    val base = LiveTail.lines(ctx.spark.range(m).toDF("seq"), pool, "seq").cache()
    base.count()
    try {
      val parsed = LogPipeline.parse(base)
      val matched = LogPipeline.matches(parsed, filters)
      val out = ctx.dir("prefix-sink")
      val t0 = medianMs(noop(base))
      val t1 = medianMs(noop(parsed))
      val t2 = medianMs(noop(matched))
      val t3 = medianMs(matched.withColumn("date", LogFunctions.dateSuffix(col("ts")))
        .write.mode("overwrite").partitionBy("filter_id", "date").parquet(out))
      val rowsOut = matched.count()
      val perM = m / 1e6
      Map(
        "functions.parse_self_s_per_mline" -> (t1 - t0) / 1000 / perM,
        "operators.fanout_self_s_per_mline" -> (t2 - t1) / 1000 / perM,
        "streaming.sink_self_s_per_mline" -> (t3 - t2) / 1000 / perM,
        "operators.fanout_rows_out_per_line" -> rowsOut.toDouble / m)
    } finally base.unpersist()
  }
}
