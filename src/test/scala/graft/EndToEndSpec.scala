package graft

import graft.model.FilterDef
import graft.queries.{Console, GrepQL}
import graft.streaming.LogPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** SURVEY §7.2 — the minimum end-to-end slice, as a spec: the
  * reference's core value loop on the canonical grep corpus
  * (`cli/resources/tests/grep_sql.sh:1`): stream syslog lines →
  * parse → match filter `errors` → parquet results table → run
  * `cat errors | grep -v 404 | grep -i checkout | grep -e "(100|200)"`
  * → rows equal an independently computed expectation.
  */
class EndToEndSpec extends SparkSpec {

  test("Tables.load adapts a double-encoded embeddings fixture to the float contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("embdrift").toString
    // a regenerated fixture writing array<double> + int ids (the
    // round-8 drift class, embedding flavor)
    Seq((1, Seq(0.5d, -0.25d)), (2, Seq(1.0d, 2.0d)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val loaded = graft.sources.Tables.load(spark, dir, "embeddings")
    assert(loaded.schema("embedding").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, true))
    assert(loaded.schema("vec_id").dataType ==
      org.apache.spark.sql.types.LongType)
    // the driver-side read every ANN query does must work unchanged
    val row = loaded.filter(col("vec_id") === 1L).head()
    assert(row.getSeq[Float](row.fieldIndex("embedding"))
      .map(_.toDouble) == Seq(0.5, -0.25))
  }

  // Canonical corpus (FIXTURES.md A6): with/without 404,
  // checkout case variants, (100|200) hits, error lexicon words.
  private val corpus = Seq(
    "2015-07-20T11:35:41.851+02:00 host1 app: error checkout ok 100",     // KEEP
    "2015-07-20T11:35:42.000+02:00 host1 app: error CHECKOUT failed 404", // -v 404
    "2015-07-20T11:35:43.000+02:00 host2 app: error Checkout retry 200",  // KEEP
    "2015-07-20T11:35:44.000+02:00 host2 app: error checkout pending 300",// no (100|200)
    "2015-07-20T11:35:45.000+02:00 host3 app: error payment 100",         // no checkout
    "2015-07-20T11:35:46.000+02:00 host3 app: all fine checkout 100",     // no 'error' → filter drops
    "",                                                                   // dropped by parse
    "2015-07-20T11:35:47.123456+02:00 host4 app: error ChEckOut big 200") // KEEP (ts fixup too)

  private val expectedKept = Set(
    "2015-07-20T11:35:41.851+02:00 host1 app: error checkout ok 100",
    "2015-07-20T11:35:43.000+02:00 host2 app: error Checkout retry 200",
    "2015-07-20T11:35:47.123456+02:00 host4 app: error ChEckOut big 200")

  test("reference value loop: stream → filter 'errors' → parquet → canonical grep query") {
    implicit val s = spark
    import s.implicits._
    val work = java.nio.file.Files.createTempDirectory("e2e").toString
    val filters = Seq(FilterDef("f_errors", "errors", "error"))

    // 1. streaming ingest to the partitioned results table
    val input = MemoryStream[String](spark)
    val q = LogPipeline.resultsQuery(
      LogPipeline.matches(LogPipeline.parse(input.toDF(), "value"), filters),
      s"$work/results", s"$work/ckpt")
    try {
      input.addData(corpus: _*)
      q.processAllAvailable()
    } finally q.stop()

    // 2. the canonical grep pipeline against the results table
    val results = spark.read.parquet(s"$work/results")
    assert(results.count() == 6) // six lines contain 'error'
    val pipeline = GrepQL.parse(
      """cat errors | grep -v 404 | grep -i checkout | grep -e "(100|200)"""")
    val got = pipeline.compile(results, "_raw")
      .select("_raw").as[String].collect().toSet
    assert(got == expectedKept)

    // 3. same result through the console search verb (SQL path)
    val catalog = new Console.Catalog {
      def resolve(sp: SparkSession, name: String): DataFrame =
        if (name == "errors") results
        else throw new IllegalArgumentException(name)
    }
    val viaSql = Console.compile(Console.parse(
      "search SELECT _raw FROM errors WHERE _raw NOT LIKE '%404%' " +
        "AND lower(_raw) LIKE '%checkout%' AND _raw RLIKE '(100|200)'"),
      catalog, spark).as[String].collect().toSet
    assert(viaSql == expectedKept)

    // 4. every row carries its filter_id (a data column) and its date
    // (the one partition level) — the pruning contract
    val parts = results.select(col("filter_id"), col("date")).distinct().collect()
    assert(parts.map(_.getString(0)).toSet == Set("f_errors"))
    assert(parts.map(_.getString(1)).forall(_.matches("\\d{4}_\\d{2}_\\d{2}")))
  }
}
