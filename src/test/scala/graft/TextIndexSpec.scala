package graft

import graft.functions.TextFunctions
import graft.sources.{Tables, TextIndex}
import org.apache.spark.sql.functions._

class TextIndexSpec extends SparkSpec {

  private def textIdx(root: String) =
    new graft.streaming.StreamTextIndex.Index(spark, root, "doc_id", "text")

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  private def indexDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("textindex").toString
    TextIndex.write(docs, "doc_id", "text", dir)
    dir
  }

  test("index lookup equals the scan-based word filter, including AND of tokens") {
    import spark.implicits._
    val dir = indexDir()
    def scanIds(tokens: Seq[String]): Set[Long] = docs
      .filter(tokens.map(t =>
        array_contains(TextFunctions.tokenSet(lower(col("text"))), t))
        .reduce(_ && _))
      .select("doc_id").as[Long].collect().toSet
    val one = TextIndex.lookup(spark, dir, "SPARK") // case-folded
      .as[Long].collect().toSet
    assert(one == scanIds(Seq("spark")) && one.nonEmpty)
    val both = TextIndex.grepTokens(docs, "doc_id", dir,
        Seq("spark", "window"))
      .select("doc_id").as[Long].collect().toSet
    assert(both == scanIds(Seq("spark", "window")) && both.nonEmpty)
    // a token absent from the corpus resolves to the empty set, fast
    assert(TextIndex.lookup(spark, dir, "zzz_not_a_token").isEmpty)
  }

  test("lookup derives the bucket modulus from the index, not a repeated constant") {
    import spark.implicits._
    // write with a NON-default bucket count: a lookup that assumed the
    // default 64 would prune the wrong directory and silently return
    // an empty posting list
    val dir = java.nio.file.Files.createTempDirectory("textindex16").toString
    TextIndex.write(docs, "doc_id", "text", dir, buckets = 16)
    assert(TextIndex.bucketsOf(spark, dir) == 16)
    val viaDefault = TextIndex.lookup(spark, dir, "spark")
      .as[Long].collect().toSet
    val viaExplicit = TextIndex.lookup(spark, dir, "spark", buckets = 16)
      .as[Long].collect().toSet
    assert(viaDefault == viaExplicit && viaDefault.nonEmpty)
  }

  test("ensureIndex builds once per cache key and serves the same lookups") {
    import spark.implicits._
    val p1 = TextIndex.ensureIndex(docs, "doc_id", "text", sfDir + "#spec")
    val p2 = TextIndex.ensureIndex(docs, "doc_id", "text", sfDir + "#spec")
    assert(p1 == p2) // second call must reuse, not rebuild
    val viaCache = TextIndex.lookup(spark, p1, "spark").as[Long].collect().toSet
    val viaFresh = TextIndex.lookup(spark, indexDir(), "spark").as[Long].collect().toSet
    assert(viaCache == viaFresh && viaCache.nonEmpty)
  }

  test("phrase search equals the scan-based consecutive-token filter, not AND-of-words") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("textindexpos").toString
    TextIndex.writePositional(docs, "doc_id", "text", dir)
    // scan truth: consecutive tokens = substring of the space-joined
    // token stream with token boundaries
    def scanIds(phrase: String): Set[Long] = docs
      .filter(concat(lit(" "),
          array_join(TextFunctions.tokens(lower(col("text"))), " "),
          lit(" ")).contains(" " + phrase + " "))
      .select("doc_id").as[Long].collect().toSet
    val phrase = "table table"
    val got = TextIndex.grepPhrase(docs, "doc_id", dir, "TABLE table")
      .select("doc_id").as[Long].collect().toSet
    assert(got == scanIds(phrase) && got.nonEmpty)
    // AND-of-words is strictly weaker: every phrase doc has the word,
    // but some docs hold both occurrences non-adjacently — guard that
    // the fixture actually exercises the distinction
    val withBothApart = docs
      .filter(concat(lit(" "),
          array_join(TextFunctions.tokens(lower(col("text"))), " "),
          lit(" ")).contains(" table ") &&
        !concat(lit(" "),
          array_join(TextFunctions.tokens(lower(col("text"))), " "),
          lit(" ")).contains(" " + phrase + " "))
      .count()
    assert(withBothApart > 0, "fixture has no non-adjacent counterexample")
    // 3-token phrase and an absent phrase
    val three = "key agg row"
    assert(TextIndex.grepPhrase(docs, "doc_id", dir, three)
      .select("doc_id").as[Long].collect().toSet == scanIds(three))
    assert(TextIndex.grepPhrase(docs, "doc_id", dir,
      "zzz_not_a_token spark").isEmpty)
  }

  test("phrase legs prune to one bucket each and join on (id, start)") {
    val dir = java.nio.file.Files.createTempDirectory("textindexpos2").toString
    TextIndex.writePositional(docs, "doc_id", "text", dir)
    val p = TextIndex.phraseStarts(spark, dir, "table window")
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[isnotnull\(bucket#\d+\), \(bucket#\d+ = \d+\)\]""".r
      .findAllIn(p).size >= 2, s"each phrase leg should prune its bucket:\n$p")
    assert(p.contains("EqualTo(tok,table)") && p.contains("EqualTo(tok,window)"),
      s"token filters not pushed per leg:\n$p")
  }

  test("lookup prunes to one bucket directory before IO and pushes the token filter") {
    val dir = indexDir()
    val p = TextIndex.lookup(spark, dir, "spark")
      .queryExecution.executedPlan.toString
    // the bucket expression folds to a literal and prunes partitions:
    // the scan must carry an equality PartitionFilter on bucket …
    assert(p.contains("PartitionFilters: [isnotnull(bucket") &&
      """\(bucket#\d+ = \d+\)""".r.findFirstIn(p).isDefined,
      s"no folded bucket partition filter:\n$p")
    // … and the token equality reaches parquet as a pushed filter
    assert(p.contains("PushedFilters: [IsNotNull(tok), EqualTo(tok,spark)]"),
      s"token filter not pushed:\n$p")
  }

  test("streaming index: batch splits + retry + compaction equal the one-shot index") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("stextindex").toString + "/idx"
    val S = graft.streaming.StreamTextIndex
    val b0 = docs.filter(col("doc_id") % 3 === 0)
    val b1 = docs.filter(col("doc_id") % 3 === 1)
    val b2 = docs.filter(col("doc_id") % 3 === 2)
    textIdx(root).upsert(b0, 0L)
    // a document is greppable right after its OWN batch
    val early = S.lookup(spark, root, "spark").as[Long].collect().toSet
    val scanB0 = b0.filter(array_contains(
        TextFunctions.tokenSet(lower(col("text"))), "spark"))
      .select("doc_id").as[Long].collect().toSet
    assert(early == scanB0 && early.nonEmpty)
    textIdx(root).upsert(b1, 1L)
    textIdx(root).compact()
    textIdx(root).upsert(b1, 1L) // post-compaction retry
    textIdx(root).upsert(b2, 2L)
    // final posting set == batch-built index's
    val oneShot = indexDir()
    val batchPostings = spark.read.parquet(oneShot)
      .select("tok", "id").as[(String, Long)].collect().toSet
    val streamed = S.readIndex(spark, root)
      .select("tok", "id").as[(String, Long)].collect().toSet
    assert(streamed == batchPostings)
    // and the pruning contract survives incremental growth + compaction
    val p = S.lookup(spark, root, "spark")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(bucket") &&
      """\(bucket#\d+ = \d+\)""".r.findFirstIn(p).isDefined,
      s"no folded bucket partition filter on the streamed index:\n$p")
    // the latest-wins exclusion side must stay broadcast: it is the
    // unresolved-history set (empty here), never a corpus-sized
    // relation worth a sort-merge exchange
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"generation exclusion not broadcast:\n$p")
  }

  test("streaming index compaction shrinks files and Maintenance drives it") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("stextindex2").toString + "/idx"
    val S = graft.streaming.StreamTextIndex
    (0 until 4).foreach { k =>
      textIdx(root).upsert(docs.filter(pmod(col("doc_id"), lit(4)) === k), k.toLong)
    }
    def dataFiles(): Long = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala.count(f => f.toString.endsWith(".parquet"))
    }
    val before = dataFiles()
    val want = S.readIndex(spark, root)
      .select("tok", "id").as[(String, Long)].collect().toSet
    val rep = graft.streaming.Maintenance.run(spark,
      java.nio.file.Files.createTempDirectory("mroot").toString,
      indexes = Seq(textIdx(root)))
    assert(rep.compactedIndexes == Seq(root))
    val after = dataFiles()
    assert(after < before, s"compaction did not shrink files: $before -> $after")
    val got = S.readIndex(spark, root)
      .select("tok", "id").as[(String, Long)].collect().toSet
    assert(got == want)
    // the modulus marker survives the rewrite
    assert(S.bucketsOf(spark, root) == 64)
  }
}
