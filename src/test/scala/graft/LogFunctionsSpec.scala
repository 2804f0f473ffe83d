package graft

import graft.functions.LogFunctions._
import org.apache.spark.sql.functions._

class LogFunctionsSpec extends SparkSpec {

  private def one(raw: String, c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(raw).toDF("x").select(c).head().get(0)
  }

  test("normalizeRaw truncates >4096 chars with .. suffix (ParseBolt.java:62-66)") {
    val long = "a" * 5000
    val got = one(long, normalizeRaw(col("x"))).asInstanceOf[String]
    assert(got.length == 4098 && got.endsWith("..") && got.startsWith("aaaa"))
    assert(one("short", normalizeRaw(col("x"))) == "short")
    assert(one("  padded  ", normalizeRaw(col("x"))) == "padded")
  }

  test("ISO8601 sniff: 3-digit millis parse (LogTypeSniffer.java:20)") {
    val ts = one("2015-07-20T11:35:41.851+02:00 host1 kernel: up",
      parseIsoTs(col("x"))).asInstanceOf[java.sql.Timestamp]
    assert(ts.toInstant.toString == "2015-07-20T09:35:41.851Z")
  }

  test("ISO8601 sniff: >3-digit millis fixup (LogTypeSniffer.java:35-46)") {
    val ts = one("2015-07-20T11:35:42.123456+02:00 host2 app: x",
      parseIsoTs(col("x"))).asInstanceOf[java.sql.Timestamp]
    assert(ts.toInstant.toString == "2015-07-20T09:35:42.123Z")
  }

  test("no timestamp → null from parse, now() fallback from tsOrNow (ParseBolt.java:81-84)") {
    assert(one("no timestamp here", parseIsoTs(col("x"))) == null)
    assert(one("no timestamp here", tsOrNow(col("x"))) != null)
  }

  test("BatchConst passes its value through references: two values, one generated source") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{LongType, StructField}
    def code(df: org.apache.spark.sql.DataFrame): Seq[String] =
      org.apache.spark.sql.execution.debug.codegenStringSeq(df.queryExecution.executedPlan)
        .map(_._2)
    def plan(v: Long) = spark.range(3)
      .select(graft.functions.BatchConst(lit(v)).as("b"),
        tsOrNow(col("id").cast("string")).as("ts"))
    val (one, two) = (plan(1L), plan(2L))
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(1L, 1L, 1L))
    assert(two.collect().map(_.getLong(0)).toSeq == Seq(2L, 2L, 2L))
    assert(one.select("ts").distinct().count() == 1)
    val (c1, c2) = (code(one), code(two))
    assert(c1.nonEmpty && c1 == c2)
    assert(one.schema("b") == StructField("b", LongType, nullable = false))
    val e = graft.functions.BatchConst(Literal(5L))
    assert(!e.foldable && e.eval() == 5L)
  }

  test("bucket arithmetic = ts - ts % step in epoch seconds") {
    import spark.implicits._
    val got = Seq("2024-01-02T03:04:05.000+00:00").toDF("x")
      .select(graft.functions.LogFunctions.bucket(parseIsoTs(col("x")), 300)).head().getLong(0)
    assert(got == 1704164400L + 245 - 245 % 300)
    assert(got % 300 == 0)
  }

  test("error lexicon contains (ErrorClassifierBolt.java:44)") {
    assert(one("Connection TIMED OUT after 30s", containsErrorWord(col("x"))) == true)
    assert(one("HTTP 404 not found", containsErrorWord(col("x"))) == true)
    assert(one("all good here", containsErrorWord(col("x"))) == false)
  }

  test("duration literals (cli/cloudpelican-lsd.go:723-747)") {
    assert(parseDuration("90") == 90L)
    assert(parseDuration("10s") == 10L)
    assert(parseDuration("5m") == 300L)
    assert(parseDuration("2h") == 7200L)
    assert(parseDuration("1d") == 86400L)
  }
}
