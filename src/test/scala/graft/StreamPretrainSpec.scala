package graft

import graft.operators.{Bpe, Dedup, LangModel, Pack, TextAnalysis}
import graft.ml.LinearQuality
import graft.streaming.StreamPretrain
import org.apache.spark.sql.functions._

/** The composed at-ingest curation pipeline ([[StreamPretrain]]):
  * id-ordered batch splits with redeliveries equal the batch
  * composition (gates ∩ exact keep-first dedup → frozen-BPE encode →
  * packed windows), the fingerprint ledger enforces keep-first even
  * when the first copy was gated out, and the manifest accounts for
  * every surviving document exactly once.
  */
class StreamPretrainSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("spretrain").toString + "/pipe"

  // the batch-side composition the stream must converge to
  private def batchSurvivors(corpus: org.apache.spark.sql.DataFrame,
      fz: StreamPretrain.Frozen): org.apache.spark.sql.DataFrame = {
    val gk = TextAnalysis.gopherRules(corpus, "doc_id", "text",
      stopWords = fz.stopWords).filter(col("keep")).select("doc_id")
    val lk = LinearQuality.score(corpus, "doc_id", "text", fz.quality)
      .filter(col("keep")).select("doc_id")
    val dk = Dedup.exactKeepFirst(corpus, "doc_id", "text").select("doc_id")
    corpus.join(gk, "doc_id").join(lk, "doc_id")
      .join(dk, "doc_id").join(knKeepIds(corpus, fz), "doc_id")
  }

  // the KN gate's batch-side reference: scored documents at or under
  // their language's frozen threshold (an unseen language or a
  // sub-2-token document has no row to join)
  private def knKeepIds(corpus: org.apache.spark.sql.DataFrame,
      fz: StreamPretrain.Frozen): org.apache.spark.sql.DataFrame =
    LangModel.knScoreWith(corpus, "doc_id", "text", fz.knCosts)
      .join(corpus.select("doc_id", "lang"), "doc_id")
      .join(broadcast(fz.langT1.toSeq.toDF("lang", "_t1")), "lang")
      .filter(col("mean_nll_micro") <= col("_t1")).select("doc_id")

  test("ordered splits + retry converge to the batch composition, manifest exact") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 3 <= maxId)
    val b1 = docs.filter(col("doc_id") * 3 > maxId && col("doc_id") * 3 <= maxId * 2)
    val b2 = docs.filter(col("doc_id") * 3 > maxId * 2)
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source", fz, root, 0L)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L) // retry
    StreamPretrain.ingestBatch(b2, "doc_id", "text", "lang", "source", fz, root, 2L)
    val surv = batchSurvivors(docs, fz)
    // packed spans equal packing the batch composition's piece counts
    val want = Pack.packCounts(
      Bpe.encodeIdsWith(surv, "doc_id", "text", fz.tokenizer)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
      "doc_id", 512).collect().map(_.toSeq).toSet
    val got = StreamPretrain.packedShards(spark, root, 512)
      .collect().map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
    // kept table: every survivor exactly once, correct sources
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSeq
    assert(keptIds.sorted == surv.select("doc_id").as[Long].collect().toSeq.sorted)
    assert(keptIds.distinct.size == keptIds.size)
    // manifest accounts for every survivor once, pieces sum to total
    val mf = StreamPretrain.manifest(spark, root, 512)
    assert(mf.agg(sum("n_docs")).head().getLong(0) == keptIds.size)
    val totalPieces = Bpe.encodeIdsWith(surv, "doc_id", "text", fz.tokenizer).count()
    assert(mf.agg(sum("n_pieces")).head().getLong(0) == totalPieces)
  }

  test("the frozen gates are one filter: no semi-join or threshold-table join at ingest, and each gate's count still adds up") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    // a survivor whose text is unique: its copy under a language the
    // fit never saw passes Gopher, quality and the ledger, so only the
    // KN gate can drop it; plus a sub-2-token row
    val pid = batchSurvivors(docs, fz)
      .join(docs.groupBy("text").count().filter(col("count") === 1),
        "text")
      .agg(min("doc_id")).head().getLong(0)
    val orig = docs.filter(col("doc_id") === pid)
    val batch = docs.filter(col("doc_id") =!= pid)
      .union(orig.withColumn("doc_id", lit(maxId + 1))
        .withColumn("lang", lit("zz")))
      .union(orig.withColumn("doc_id", lit(maxId + 2))
        .withColumn("text", lit("hello")))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      StreamPretrain.ingestBatch(batch, "doc_id", "text", "lang", "source",
        fz, root, 0L, recordStats = true)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // every node of every query, looking through persisted frames
    def nodes(p: LogicalPlan): Seq[LogicalPlan] = p.flatMap {
      case r: InMemoryRelation => r +: nodes(r.cacheBuilder.logicalPlan)
      case n => Seq(n)
    }
    val all = plans.asScala.toSeq.flatMap(nodes)
    assert(all.nonEmpty, "the listener recorded no query")
    val gateJoins = all.collect {
      case j: Join if j.joinType == LeftSemi ||
          (j.left.output ++ j.right.output).exists(_.name == "_t1") => j
    }
    assert(gateJoins.isEmpty,
      s"a gate is a re-joined frame again:\n${gateJoins.mkString("\n")}")
    // the batch composition, both extra rows dropped
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(keptIds ==
      batchSurvivors(batch, fz).select("doc_id").as[Long].collect().toSet)
    assert(!keptIds.contains(maxId + 1) && !keptIds.contains(maxId + 2))
    // the accounting row: each gate's individual pass count over the
    // whole batch, as the frame-per-gate reference counts it
    val st = StreamPretrain.gateStats(spark, root).head()
    def n(c: String): Long = st.getLong(st.fieldIndex(c))
    assert(n("n_in") == batch.count())
    assert(n("n_gopher") == TextAnalysis.gopherRules(batch, "doc_id", "text",
      stopWords = fz.stopWords).filter(col("keep")).count())
    assert(n("n_quality") == LinearQuality.score(batch, "doc_id", "text",
      fz.quality).filter(col("keep")).count())
    assert(n("n_kn") == knKeepIds(batch, fz).count())
    assert(n("n_kept") == keptIds.size.toLong)
  }

  test("attach: the whole chain runs as one Structured Streaming job") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val root = tmp()
    val ckpt = java.nio.file.Files.createTempDirectory("spretrain-ck").toString
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val input = MemoryStream[(Long, String, String, String)](spark)
    val stream = input.toDF().toDF("doc_id", "text", "lang", "source")
    val q = StreamPretrain.attach(stream, "doc_id", "text", "lang",
      "source", fz, root, ckpt)
    try {
      val rows = docs.select("doc_id", "text", "lang", "source")
        .as[(Long, String, String, String)].collect().sortBy(_._1)
      val (lo, hi) = rows.splitAt(rows.length / 2)
      input.addData(lo.toSeq)
      q.processAllAvailable()
      input.addData(hi.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    val survIds = batchSurvivors(docs, fz)
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == survIds && keptIds.nonEmpty)
  }

  test("forgetDocs removes a document from every served face, but its ledger claim holds") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz, root, 0L)
    val surv = batchSurvivors(docs, fz)
    val forgetIds = surv.select("doc_id").as[Long].collect().sorted.take(3)
    StreamPretrain.forgetDocs(forgetIds.toSeq.toDF("doc_id"), "doc_id",
      root, 1L)
    val live = surv.filter(!col("doc_id").isin(forgetIds: _*))
    // packed windows rebuild over exactly the live survivors
    val want = Pack.packCounts(
      Bpe.encodeIdsWith(live, "doc_id", "text", fz.tokenizer)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
      "doc_id", 512).collect().map(_.toSeq).toSet
    assert(StreamPretrain.packedShards(spark, root, 512)
      .collect().map(_.toSeq).toSet == want)
    // the kept table forgets the same rows
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(keptIds == live.select("doc_id").as[Long].collect().toSet)
    // the manifest accounts for exactly the live documents
    val mf = StreamPretrain.manifest(spark, root, 512)
    assert(mf.agg(sum("n_docs")).head().getLong(0) == keptIds.size)
    // the ledger claim survives the forget: re-ingesting the
    // forgotten TEXT under a new id is still refused (forgetting
    // content must not re-admit a later copy of it)
    val again = docs.filter(col("doc_id") === forgetIds.head)
      .withColumn("doc_id", lit(maxId + 11))
    StreamPretrain.ingestBatch(again, "doc_id", "text", "lang", "source",
      fz, root, 2L)
    assert(StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet == keptIds)
  }

  test("ledger keep-first holds even when the first copy was gated out") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val surv0 = batchSurvivors(docs, fz)
    val survIds = surv0.select("doc_id").as[Long].collect().toSet
    val p = surv0.orderBy("doc_id").limit(1)
    val pid = p.select("doc_id").head().getLong(0)
    // the decoy: a passing document's TEXT, arriving FIRST under a
    // lower id with an unknown language — the KN gate has no frozen
    // threshold for it, so it is gated out on arrival, but its
    // fingerprint must still claim keep-first
    val decoy = p.withColumn("doc_id", lit(-5L))
      .withColumn("lang", lit("zz"))
    StreamPretrain.ingestBatch(decoy, "doc_id", "text", "lang", "source",
      fz, root, 0L)
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz, root, 1L)
    // the later, would-pass copy is blocked by the ledger: exactly
    // the batch exactKeepFirst semantics on the union corpus (min id
    // −5 holds the fingerprint and itself fails the gates)
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(survIds.contains(pid))
    assert(keptIds == survIds - pid)
    // and a straight re-ingest of an already-kept document's text
    // under a new id is likewise refused
    val dup = p.withColumn("doc_id", lit(maxId + 7))
    StreamPretrain.ingestBatch(dup, "doc_id", "text", "lang", "source",
      fz, root, 2L)
    assert(StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet == survIds - pid)
  }

  test("the frozen decontamination gate composes at ingest, and it provably bites") {
    val root = tmp()
    val bench = docs.filter(col("doc_id") % 23 === 7)
      .select(substring(col("text"), 20, 120).as("phrase"))
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang",
      bench = Some(bench), deconN = 8, deconMinShared = 3L)
    val d = fz.decon.get
    assert(d.grams.nonEmpty && d.n == 8 && d.minShared == 3L)
    // the batch-side gate, replayed from the frozen gram set
    val bg = broadcast(d.grams.toDF("_ng"))
    val flagged = docs.select(col("doc_id"),
        explode(graft.operators.Decontaminate.ngramSet(col("text"), d.n))
          .as("_ng"))
      .join(bg, "_ng").groupBy("doc_id").agg(count(lit(1)).as("_ns"))
      .filter(col("_ns") >= d.minShared).select("doc_id")
    val want = batchSurvivors(docs, fz)
      .join(flagged, Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // the gate is NOT vacuous on this fixture: without it, flagged
    // documents survive the other gates
    val noDecon = batchSurvivors(docs,
      StreamPretrain.fit(docs, "doc_id", "text", "lang"))
    assert(noDecon.join(flagged, "doc_id").count() > 0,
      "bench selector must flag documents the other gates keep")
    // streamed splits + an at-least-once retry converge to the gated
    // batch composition
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 2 <= maxId)
    val b1 = docs.filter(col("doc_id") * 2 > maxId)
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source", fz, root, 0L)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L) // retry
    val got = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    assert(flagged.as[Long].collect().toSet.intersect(got).isEmpty)
  }

  test("a killed first append's _temporary residue does not wedge the ingest") {
    // a first append killed before its job commit leaves only
    // `<table>/_temporary/0/`: the table directory exists but holds no
    // data file, so a reader gated on the directory alone fails
    // parquet's schema inference on every later batch
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val near = Some(graft.streaming.StreamDedup.Config())
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 3 <= maxId)
    def keptAfterIngest(residue: Option[String]): Set[Long] = {
      val root = tmp()
      residue.foreach(r => assert(
        new java.io.File(s"$root/$r/_temporary/0").mkdirs()))
      StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source",
        fz, root, 0L, nearDup = near)
      StreamPretrain.keptDocs(spark, root).select("id").as[Long]
        .collect().toSet
    }
    val clean = keptAfterIngest(None)
    assert(clean.nonEmpty)
    Seq("ledger", "near/bands", "near/sigs").foreach { r =>
      assert(keptAfterIngest(Some(r)) == clean, s"residue under $r")
    }
    // the mix-control read of the encoded table answers empty too
    val encOnly = tmp()
    assert(new java.io.File(
      s"${StreamPretrain.encRoot(encOnly)}/_temporary/0").mkdirs())
    assert(StreamPretrain.liveSourceTokens(spark, encOnly).isEmpty)
  }

  test("the near-dup cluster gate composes at ingest: canonical-only survives, and it bites") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val near = Some(graft.streaming.StreamDedup.Config(threshold = 0.5))
    // the batch twin: gates ∩ keep-first ∩ canonical under the
    // whole-corpus clustering (brute-force exact — StreamDedup's LSH
    // has full recall on this fixture, the q_dedup_clusters_incr
    // contract)
    val canon = Dedup.dropNearDuplicatesExact(docs, "doc_id", "text",
      threshold = 0.5).select("doc_id")
    val surv0 = batchSurvivors(docs, fz)
    val want = surv0.join(canon, Seq("doc_id"), "left_semi")
    // NOT vacuous: the near-dup gate removes documents every other
    // gate keeps
    assert(surv0.join(canon, Seq("doc_id"), "left_anti").count() > 0,
      "fixture must contain non-canonical near-dups that pass the gates")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 3 <= maxId)
    val b1 = docs.filter(col("doc_id") * 3 > maxId && col("doc_id") * 3 <= maxId * 2)
    val b2 = docs.filter(col("doc_id") * 3 > maxId * 2)
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source",
      fz, root, 0L, nearDup = near)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source",
      fz, root, 1L, nearDup = near)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source",
      fz, root, 1L, nearDup = near) // retry
    StreamPretrain.ingestBatch(b2, "doc_id", "text", "lang", "source",
      fz, root, 2L, nearDup = near)
    // every served face excludes the non-canonicals
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(keptIds == want.select("doc_id").as[Long].collect().toSet)
    val wantPacked = Pack.packCounts(
      Bpe.encodeIdsWith(want, "doc_id", "text", fz.tokenizer)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
      "doc_id", 512).collect().map(_.toSeq).toSet
    assert(StreamPretrain.packedShards(spark, root, 512)
      .collect().map(_.toSeq).toSet == wantPacked && wantPacked.nonEmpty)
    val mf = StreamPretrain.manifest(spark, root, 512)
    assert(mf.agg(sum("n_docs")).head().getLong(0) == keptIds.size)
  }

  test("a LATE transitive bridge vacates an already-encoded document's window slots") {
    val root = tmp()
    // three synthetic documents over a sliding window of one shared
    // token stream: A~B and B~C are near-dups (3-shingle Jaccard
    // 43/73 ≈ 0.589) but A~C is not (28/88 ≈ 0.318) — C is canonical
    // until the BRIDGE B arrives and merges {A, B, C} under min id A.
    // Every window is 60 words with both stop words inside the region
    // all three share, so the Gopher gate passes each document.
    val toks = (1 to 90).map {
      case 35 => "the"
      case 40 => "a"
      case i => f"tok$i%02d"
    }
    def text(lo: Int, hi: Int) = toks.slice(lo - 1, hi).mkString(" ")
    val a = (10L, text(1, 60), "en", "s1")
    val c = (30L, text(31, 90), "en", "s1")
    val b = (20L, text(16, 75), "en", "s1")
    val corpus = Seq(a, c, b).toDF("doc_id", "text", "lang", "source")
    // gates that pass everything: fit on the tiny corpus itself, then
    // neutralize the thresholded gates so only the near-dup structure
    // decides (this test pins the MECHANISM, not the gates)
    val fz0 = StreamPretrain.fit(corpus, "doc_id", "text", "lang")
    val fz = fz0.copy(
      quality = fz0.quality.copy(
        weightsMicro = Map.empty, biasMicro = fz0.quality.scale),
      langT1 = Map("en" -> Long.MaxValue))
    val near = Some(graft.streaming.StreamDedup.Config(threshold = 0.5))
    val batch0 = Seq(a, c).toDF("doc_id", "text", "lang", "source")
    val batch1 = Seq(b).toDF("doc_id", "text", "lang", "source")
    StreamPretrain.ingestBatch(batch0, "doc_id", "text", "lang", "source",
      fz, root, 0L, nearDup = near)
    // C was canonical at encode time — it is being served
    assert(StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet == Set(10L, 30L))
    StreamPretrain.ingestBatch(batch1, "doc_id", "text", "lang", "source",
      fz, root, 1L, nearDup = near)
    // the bridge merged {10, 20, 30}: only canonical A=10 serves now,
    // and the packed windows rebuilt without B and C
    assert(StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet == Set(10L))
    val packedIds = StreamPretrain.packedShards(spark, root, 512)
      .select("doc_id").as[Long].collect().toSet
    assert(packedIds == Set(10L))
  }

  test("the frozen model set persists: save/load round-trips every gate and the packed output") {
    val dir = java.nio.file.Files.createTempDirectory("spfrozen").toString
    val bench = docs.filter(col("doc_id") % 23 === 7)
      .select(substring(col("text"), 20, 120).as("phrase"))
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang",
      bench = Some(bench), deconN = 8, deconMinShared = 3L)
    StreamPretrain.save(spark, fz, s"$dir/frozen")
    val fz2 = StreamPretrain.load(spark, s"$dir/frozen")
    // every frozen field round-trips exactly
    assert(fz2.quality == fz.quality)
    assert(fz2.knCosts == fz.knCosts)
    assert(fz2.langT1 == fz.langT1)
    assert(fz2.stopWords == fz.stopWords)
    assert(fz2.decon == fz.decon)
    assert(fz2.tokenizer.merges == fz.tokenizer.merges)
    assert(fz2.tokenizer.words.toSet == fz.tokenizer.words.toSet)
    // and the LOADED set drives the pipeline to the identical output
    // (fit on one cluster, attach on another)
    val rootA = tmp(); val rootB = tmp()
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz, rootA, 0L)
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz2, rootB, 0L)
    val a = StreamPretrain.packedShards(spark, rootA, 512)
      .collect().map(_.toSeq).toSet
    val b = StreamPretrain.packedShards(spark, rootB, 512)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("monitor flags the anomalous feed from the pipeline's own accounting") {
    val root = tmp()
    // lang-sensitive gates configured pass-all so the healthy keep
    // rate is the stable Gopher∩ledger rate, not small-batch noise;
    // the encode still runs under the real frozen tokenizer
    val fz0 = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val langs = docs.select("lang").distinct().as[String].collect()
    val fz = fz0.copy(
      quality = fz0.quality.copy(weightsMicro = Map.empty,
        biasMicro = fz0.quality.scale),
      langT1 = langs.map(_ -> Long.MaxValue).toMap)
    // seven healthy mod-7 feed slices, then the broken feed: a
    // RE-CRAWL ships the whole corpus again under fresh ids — the
    // fingerprint ledger refuses every re-seen text, so that feed's
    // composed keep rate collapses to zero
    (0 to 6).foreach { k =>
      StreamPretrain.ingestBatch(docs.filter(col("doc_id") % 7 === k),
        "doc_id", "text", "lang", "source", fz, root, k.toLong,
        recordStats = true)
    }
    StreamPretrain.ingestBatch(
      docs.withColumn("doc_id", col("doc_id") + 1000000L),
      "doc_id", "text", "lang", "source", fz, root, 7L,
      recordStats = true)
    val flagged = StreamPretrain.monitor(spark, root).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(7L),
      s"exactly the re-crawl feed must flag, got ${flagged.toSeq}")
    assert(flagged.head.getDouble(flagged.head.fieldIndex("z")) < 0,
      "the anomaly is a keep-rate COLLAPSE, so its z is negative")
    assert(flagged.head.getLong(flagged.head.fieldIndex("n_kept")) == 0L,
      "the ledger refused the entire re-crawl")
    // and the healthy feeds sit inside the band: eight stats rows,
    // seven of them unflagged
    assert(StreamPretrain.gateStats(spark, root).count() == 8)
  }

  test("gate accounting survives a post-ledger redelivery via the per-batch max-fold") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 2 <= maxId)
    val b1 = docs.filter(col("doc_id") * 2 > maxId)
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source",
      fz, root, 0L, recordStats = true)
    // the at-least-once worst case: the ledger append committed, then
    // the batch replays — its row records zeros for the
    // ledger-dependent counts and must not poison the accounting
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source",
      fz, root, 0L, recordStats = true)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source",
      fz, root, 1L, recordStats = true)
    val st = StreamPretrain.gateStats(spark, root)
      .orderBy("batch_id").collect()
    assert(st.length == 2)
    val r0 = st(0)
    assert(r0.getLong(r0.fieldIndex("n_in")) == b0.count())
    assert(r0.getLong(r0.fieldIndex("n_fresh")) > 0,
      "the replay's zero row must fold away under the first delivery")
    assert(r0.isNullAt(r0.fieldIndex("n_decon")), "no decon gate configured")
    // the accounting adds up to the served table
    assert(st.map(r => r.getLong(r.fieldIndex("n_kept"))).sum ==
      StreamPretrain.keptDocs(spark, root).count())
  }

  // independent replay of the published rates: batch-0 survivors'
  // per-source piece mass → mixtureTarget's rule in plain Scala
  // doubles (the exact IEEE association the engine and the oracle
  // share: (minr * w) / dom)
  private def expectedMixRates(b0surv: org.apache.spark.sql.DataFrame,
      fz: StreamPretrain.Frozen,
      targets: Seq[(String, Long)]): Map[String, Double] = {
    val mass = Bpe.encodeIdsWith(b0surv, "doc_id", "text", fz.tokenizer)
      .groupBy("doc_id").agg(count(lit(1)).as("_n"))
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source").agg(sum("_n").cast("long").as("m"))
      .as[(String, Long)].collect().toMap
    val dw = targets.map { case (s0, w) => (s0, w, mass.getOrElse(s0, 0L)) }
    val minr = dw.collect { case (_, w, m) if m > 0 =>
      m.toDouble / w.toDouble }.min
    dw.map { case (s0, w, m) =>
      s0 -> (if (m == 0) 1.0
             else math.min(1.0, minr * w.toDouble / m.toDouble))
    }.toMap
  }

  test("mix rates from the maintenance window steer later batches exactly") {
    val root = tmp()
    // pass-all lang-sensitive gates (the monitor-test configuration):
    // the fixture's full chain leaves too few later survivors at this
    // scale to exercise the mix gate non-vacuously; the full-chain
    // composition is pinned by the q_stream_pretrain_mix oracle
    val fz0 = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val langs = docs.select("lang").distinct().as[String].collect()
    val fz = fz0.copy(
      quality = fz0.quality.copy(weightsMicro = Map.empty,
        biasMicro = fz0.quality.scale),
      langT1 = langs.map(_ -> Long.MaxValue).toMap)
    val maxId = docs.agg(max("doc_id")).head().getLong(0)
    val b0 = docs.filter(col("doc_id") * 3 <= maxId)
    val b1 = docs.filter(col("doc_id") * 3 > maxId && col("doc_id") * 3 <= maxId * 2)
    val b2 = docs.filter(col("doc_id") * 3 > maxId * 2)
    StreamPretrain.ingestBatch(b0, "doc_id", "text", "lang", "source", fz, root, 0L)
    val targets = docs.select("source").distinct().orderBy("source")
      .as[String].collect().toSeq.map(_ -> 100000L)
    StreamPretrain.publishMixRates(spark, root, targets)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L)
    StreamPretrain.ingestBatch(b1, "doc_id", "text", "lang", "source", fz, root, 1L) // retry
    StreamPretrain.ingestBatch(b2, "doc_id", "text", "lang", "source", fz, root, 2L)
    // independent expectation: batch-0 survivors whole; later
    // survivors admitted by the md5 rule under independently-replayed
    // rates from batch 0's mass
    val surv = batchSurvivors(docs, fz)
    val b0surv = surv.filter(col("doc_id") * 3 <= maxId)
    val rates = expectedMixRates(b0surv, fz, targets)
    val thr = rates.map { case (s0, kf) =>
      s0 -> f"${math.floor(kf * 4294967296.0).toLong}%08x" }
    val thrDf = broadcast(thr.toSeq.toDF("source", "_thr")
      .join(rates.toSeq.toDF("source", "_kf"), "source"))
    val later = surv.filter(col("doc_id") * 3 > maxId)
      .join(thrDf, Seq("source"), "left")
      .filter(col("_kf").isNull || col("_kf") >= 1.0 ||
        graft.operators.Scale.sampleBucket(col("doc_id")) < col("_thr"))
      .drop("_kf", "_thr")
    val expected = b0surv.select("doc_id").union(later.select("doc_id"))
    // the gate BITES: some later survivor of every other gate was
    // downsampled away (otherwise this test is vacuous)
    assert(later.count() <
      surv.filter(col("doc_id") * 3 > maxId).count(),
      "equal-mass targets must actually downsample some source")
    val keptIds = StreamPretrain.keptDocs(spark, root)
      .select("id").as[Long].collect().toSet
    assert(keptIds == expected.as[Long].collect().toSet && keptIds.nonEmpty)
    // the packed windows rebuild over exactly the admitted set
    val want = Pack.packCounts(
      Bpe.encodeIdsWith(docs.join(expected, "doc_id"), "doc_id", "text",
        fz.tokenizer)
        .groupBy("doc_id").agg(count(lit(1)).as("n_tokens")),
      "doc_id", 512).collect().map(_.toSeq).toSet
    val got = StreamPretrain.packedShards(spark, root, 512)
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // a source the operator never targeted is kept whole
    val untargeted = StreamPretrain.currentMixRates(spark, root).get
      .filter(col("keep_frac") >= 1.0).select("source")
      .as[String].collect().toSet
    assert(untargeted.nonEmpty,
      "the most under-represented source keeps everything")
  }

  test("MixPolicy: bad configs fail at construction, not mid-maintenance-run") {
    val M = graft.streaming.Maintenance
    // zero/negative weights would reach rebalanceMix as wSum == 0 /
    // nonsense shares; duplicates would double-count a source
    intercept[IllegalArgumentException](
      M.MixPolicy("/r", Seq("a" -> 0L)))
    intercept[IllegalArgumentException](
      M.MixPolicy("/r", Seq("a" -> -5L, "b" -> 1L)))
    intercept[IllegalArgumentException](
      M.MixPolicy("/r", Seq("a" -> 1L, "a" -> 2L)))
    intercept[IllegalArgumentException](
      M.MixPolicy("/r", Seq.empty))
    intercept[IllegalArgumentException](
      M.MixPolicy("/r", Seq("a" -> 1L), tolerancePpm = -1L))
    // a valid config constructs
    M.MixPolicy("/r", Seq("a" -> 1L, "b" -> 2L))
  }

  test("MixPolicy: no-op below tolerance, publishes at drift, never flaps") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    val targets = docs.select("source").distinct().orderBy("source")
      .as[String].collect().toSeq.map(_ -> 100000L)
    // before any ingest: no live mass, no signal, no publish
    assert(!StreamPretrain.rebalanceMix(spark, root, targets, 0L))
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz, root, 0L)
    // a huge tolerance: the mix is "healthy", the window must not flap
    val calm = graft.streaming.Maintenance.run(spark, root,
      mixPolicies = Seq(graft.streaming.Maintenance.MixPolicy(
        root, targets, tolerancePpm = 1000000L)))
    assert(calm.rebalancedMix.isEmpty)
    assert(StreamPretrain.currentMixRates(spark, root).isEmpty)
    // zero tolerance: the fixture's sources are unbalanced — publish
    val act = graft.streaming.Maintenance.run(spark, root,
      mixPolicies = Seq(graft.streaming.Maintenance.MixPolicy(
        root, targets, tolerancePpm = 0L)))
    assert(act.rebalancedMix == Seq(root))
    val rates = StreamPretrain.currentMixRates(spark, root)
    assert(rates.isDefined)
    assert(rates.get.count() == targets.size.toLong)
    assert(rates.get.filter(col("keep_frac") < 1.0).count() > 0)
  }

  test("a crashed rates publish is invisible; the next one supersedes it") {
    val root = tmp()
    val fz = StreamPretrain.fit(docs, "doc_id", "text", "lang")
    StreamPretrain.ingestBatch(docs, "doc_id", "text", "lang", "source",
      fz, root, 0L)
    // a fully-written rates table whose _COMMITTED create never ran
    val crashed = s"${StreamPretrain.mixRoot(root)}/_v1"
    Seq(("web", 1L, 0.5)).toDF("source", "dom_tokens", "keep_frac")
      .coalesce(1).write.parquet(crashed)
    assert(StreamPretrain.currentMixRates(spark, root).isEmpty,
      "an uncommitted version must never serve")
    // the next publish lands beside it and wins
    val targets = docs.select("source").distinct().orderBy("source")
      .as[String].collect().toSeq.map(_ -> 100000L)
    val vdir = StreamPretrain.publishMixRates(spark, root, targets)
    assert(vdir.endsWith("_v2"), s"crashed _v1 must not be reused: $vdir")
    assert(StreamPretrain.currentMixRates(spark, root).get
      .filter(col("source") === "web" && col("keep_frac") === 0.5)
      .isEmpty, "the crashed table's rows must not serve")
  }
}
