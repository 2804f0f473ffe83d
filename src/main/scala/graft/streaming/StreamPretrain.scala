package graft.streaming

import graft.functions.{BatchConst, TextFunctions}
import graft.ml.LinearQuality
import graft.operators.{Bpe, Curate, Decontaminate, Dedup, LangModel, Scale, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The WHOLE curation→training pipeline composed AT INGEST — the
  * engine's closing argument: one streaming job takes raw document
  * micro-batches through quality gates (Gopher rules + the learned
  * linear classifier + the Kneser–Ney perplexity gate), an exact
  * keep-first dedup ledger, optionally the incrementally-maintained
  * MinHash NEAR-dup cluster index ([[StreamDedup]] — canonical-only
  * survives, see [[ingestBatch]]'s `nearDup`), and frozen-tokenizer
  * BPE encoding, and maintains a live encoded table that packs into
  * fixed-budget context windows plus a training manifest. This is
  * the reference's
  * continuous supervisor pipeline (parse → filter → sink,
  * `supervisor/filter_manager.go`) scaled up to the full pretrain
  * curation chain.
  *
  * Fit once, gate forever: every model the gates need — classifier
  * weights, KN cost tables, per-language head-tercile thresholds,
  * BPE merges — is fit ONCE on the curation corpus ([[fit]]) and
  * frozen ([[Frozen]]); each micro-batch then costs one scan through
  * stateless compiled gates, one anti-join against the fingerprint
  * ledger, and one encode projection. No state ever rescans history.
  *
  * Parity contract (q_stream_pretrain hash-checks it): ingesting a
  * corpus in ANY id-ordered batch split — with at-least-once
  * redeliveries — yields exactly the batch composition: gates ∩
  * exact keep-first dedup, encoded by [[Bpe.encodeIdsWith]], packed
  * by [[graft.operators.Pack.packCounts]]. Ordered splits make
  * first-arrival equal min-id, so the ledger's keep-first agrees
  * with the batch [[Dedup.exactKeepFirst]].
  *
  * Delivery: the ledger append runs LAST in [[ingestBatch]] — a
  * crash anywhere earlier means the redelivery simply re-runs the
  * batch (gates are deterministic, the encode append is absorbed by
  * [[StreamBpe.readEncoded]]'s latest-wins distinct, the kept table
  * dedups on read); a crash after the ledger append only skips
  * re-encoding rows that are already fully written.
  */
object StreamPretrain {

  /** The frozen decontamination gate: the benchmark set's DISTINCT
    * token `n`-grams, collected once at [[fit]] time (eval suites are
    * thousands of rows by nature — the set is broadcast-sized, and a
    * cap enforces it). A document is contaminated iff it shares at
    * least `minShared` distinct grams with the UNION of the benchmark
    * grams — [[Decontaminate.decontaminate]]'s semantics at
    * `minShared = 1`, and the union-counting variant above it (the
    * per-bench-row pair counts need the bench ids, which a frozen
    * gate deliberately does not carry). */
  final case class Decon(grams: Seq[String], n: Int, minShared: Long) {
    require(grams.size <= (1 << 20),
      s"benchmark gram set too large to freeze: ${grams.size}")
    require(minShared >= 1L, s"minShared must be >= 1: $minShared")
  }

  /** Every model parameter the per-batch gates need, fit once. */
  final case class Frozen(
      quality: LinearQuality.Model,
      knCosts: (Map[(String, String), Long], Map[String, Long],
        Map[String, Long], Long),
      langT1: Map[String, Long],
      tokenizer: Bpe.Learned,
      stopWords: Seq[String],
      decon: Option[Decon] = None)

  private[graft] def encRoot(root: String) = s"$root/enc"
  private def keptRoot(root: String) = s"$root/kept"
  private def ledgerRoot(root: String) = s"$root/ledger"
  private def statsRoot(root: String) = s"$root/gatestats"
  private def nearRoot(root: String) = s"$root/near"
  private def semRoot(root: String) = s"$root/sem"
  private[graft] def mixRoot(root: String) = s"$root/_mix"

  /** The semantic-dedup gate's configuration: the frozen quantizer +
    * threshold ([[StreamSemDedup.Model]]) and the batch column
    * carrying the document embedding. */
  final case class SemGate(model: StreamSemDedup.Model, embCol: String)

  /** Fit the full frozen-model set on the curation corpus:
    *  - the learned quality classifier, labeled "is the reference
    *    language" (the q_quality_classifier convention);
    *  - KN bigram cost tables from the reference-language slice;
    *  - per-language head-tercile perplexity thresholds, computed
    *    over the corpus that survives the OTHER gates (so the
    *    streamed chain applies them as frozen literals);
    *  - the BPE tokenizer at `rounds` merges.
    */
  def fit(corpus: DataFrame, idCol: String, textCol: String,
      langCol: String, refLang: String = "en",
      stopWords: Seq[String] = Seq("the", "a"),
      bpeRounds: Int = 6,
      bench: Option[DataFrame] = None, benchTextCol: String = "phrase",
      deconN: Int = 8, deconMinShared: Long = 1L): Frozen = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // The four sub-fits below are mutually independent (classifier,
    // KN cost tables, benchmark gram set, BPE merges — none reads
    // another's output), and each is a CHAIN of Spark jobs with
    // driver-side collects between them, so run serially they leave
    // the box idle at every tail (guide §2.6: overlap independent
    // jobs so the next one's tasks back-fill the current one's
    // stragglers). Dispatch them on driver threads and join; outputs
    // are deterministic, so the overlap cannot change the model.
    val mRef = new java.util.concurrent.atomic.AtomicReference[
      LinearQuality.Model]
    val costsRef = new java.util.concurrent.atomic.AtomicReference[
      (Map[(String, String), Long], Map[String, Long],
        Map[String, Long], Long)]
    val decRef = new java.util.concurrent.atomic.AtomicReference[
      Option[Decon]](None)
    val tokRef = new java.util.concurrent.atomic.AtomicReference[
      graft.operators.Bpe.Learned]
    val t1Ref = new java.util.concurrent.atomic.AtomicReference[
      Map[String, Long]]
    // Two driver threads span the whole fit: the BPE merge loop
    // (bpeRounds full-corpus rounds, nothing downstream reads it) runs
    // beside everything else, while the other thread fits the three
    // models the threshold chain needs (classifier / KN costs /
    // benchmark grams — mutually independent, so themselves parallel)
    // and then freezes the per-lang thresholds. Serially each of these
    // is a chain of small jobs with driver collects between them that
    // leave the box idle at every tail (guide §2.6 — overlap
    // independent jobs); every output is deterministic, so the overlap
    // cannot change the model.
    StreamState.inParallel(
      () => tokRef.set(Bpe.learnMerges(corpus, textCol, bpeRounds)),
      () => {
        StreamState.inParallel(
          () => mRef.set(LinearQuality.fit(
            corpus.withColumn("_is",
              (col(langCol) === refLang).cast("int")),
            idCol, textCol, "_is")),
          () => costsRef.set(LangModel.knCollectCosts(
            LangModel.knBigrams(corpus.filter(col(langCol) === refLang),
              textCol))),
          // the decontamination gate freezes as the benchmark's
          // distinct gram set — ONE pass over the small side, sorted
          // for determinism
          () => decRef.set(bench.map { b =>
            Decon(b.select(explode(
                Decontaminate.ngramSet(col(benchTextCol), deconN))
                .as("_ng"))
              .distinct().as[String].collect().toSeq.sorted,
              deconN, deconMinShared)
          }))
        val m = mRef.get; val costs = costsRef.get; val dec = decRef.get
        // the per-lang thresholds freeze over the corpus that survives
        // the keep-first dedup and the OTHER gates ([[cheapGates]], the
        // Columns [[ingestBatch]] applies). KN scoring (the chain's
        // most expensive column) runs only over those survivors
        // (guide §2.3 — don't compute what you throw away).
        val scored = Dedup.exactKeepFirst(corpus, idCol, textCol)
          .filter(cheapGates(col(textCol), stopWords, m, dec)
            .map(_._2).reduce(_ && _))
          .select(col(langCol),
            LangModel.knDocCostStruct(col(textCol), costs).as("_st"))
          .filter(col("_st").isNotNull)
          .select(col(langCol),
            LangModel.meanNll(col("_st"), "n_big").as("mean_nll_micro"))
        // the head threshold IS the frozen value: t1 is an attained
        // score (see [[Curate.perplexityThresholds]]), so
        // max(score | bucket = head) = t1 — reading the threshold
        // relation directly skips perplexityBuckets' join-back, which
        // evaluated the whole `scored` chain a second time inside one
        // action
        t1Ref.set(Curate.perplexityThresholds(scored, langCol,
            "mean_nll_micro")
          .select(col(langCol), col("_t1"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      })
    Frozen(mRef.get, costsRef.get, t1Ref.get, tokRef.get, stopWords,
      decRef.get)
  }

  /** Persist the frozen model set — the fit-on-the-curation-cluster /
    * attach-anywhere split for the WHOLE pipeline (the
    * [[graft.operators.Bpe.saveLearned]] contract extended to every
    * gate). Layout under `path`: `tokenizer/` (the BPE artifact),
    * `quality/` (hashed-bucket weights), `kn/` (the three cost tables
    * + OOV floor as one kind-tagged relation), `langt1/` (per-lang
    * thresholds), `decon/` (the benchmark gram set, present only when
    * the gate is configured), `meta/` (scalars + stop words). Every
    * relation is model-bounded (never corpus-sized) and written
    * sorted/coalesced so the artifact's ROWS are stable for a given
    * fit (two saves of the same model load equal).
    */
  def save(spark: SparkSession, fz: Frozen, path: String): Unit = {
    import spark.implicits._
    Bpe.saveLearned(spark, fz.tokenizer, s"$path/tokenizer")
    fz.quality.weightsMicro.toSeq.sorted.toDF("b", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/quality")
    val (pair, b1, cont, oov) = fz.knCosts
    val knRows =
      pair.toSeq.sortBy(_._1)
        .map { case ((a, b), c) => ("pair", a, b, c) } ++
      b1.toSeq.sorted.map { case (a, c) => ("b1", a, "", c) } ++
      cont.toSeq.sorted.map { case (a, c) => ("cont", a, "", c) } :+
      (("oov", "", "", oov))
    knRows.toDF("kind", "w1", "w2", "cost")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/kn")
    fz.langT1.toSeq.sorted.toDF("lang", "t1")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/langt1")
    fz.decon.foreach { d =>
      d.grams.toDF("ng")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/decon")
    }
    Seq((fz.quality.biasMicro, fz.quality.scale, fz.quality.hexDigits,
        fz.stopWords, fz.decon.map(_.n), fz.decon.map(_.minShared)))
      .toDF("bias_micro", "scale", "hex_digits", "stop_words",
        "decon_n", "decon_min_shared")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load a [[save]] artifact. Round-trips exactly: the loaded
    * [[Frozen]] equals the fit one field for field, so every gate
    * decision — and therefore the packed output — is identical. */
  def load(spark: SparkSession, path: String): Frozen = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$path/meta").head()
    val quality = LinearQuality.Model(
      spark.read.parquet(s"$path/quality").as[(String, Long)]
        .collect().toMap,
      meta.getAs[Long]("bias_micro"), meta.getAs[Long]("scale"),
      meta.getAs[Int]("hex_digits"))
    val kn = spark.read.parquet(s"$path/kn")
      .as[(String, String, String, Long)].collect()
    val knCosts = (
      kn.collect { case ("pair", a, b, c) => (a, b) -> c }.toMap,
      kn.collect { case ("b1", a, _, c) => a -> c }.toMap,
      kn.collect { case ("cont", a, _, c) => a -> c }.toMap,
      kn.collectFirst { case ("oov", _, _, c) => c }.getOrElse(
        sys.error(s"$path/kn: missing oov row")))
    val langT1 = spark.read.parquet(s"$path/langt1")
      .as[(String, Long)].collect().toMap
    val deconP = new org.apache.hadoop.fs.Path(s"$path/decon")
    val dec =
      if (!deconP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(deconP)) None
      else Some(Decon(
        spark.read.parquet(s"$path/decon").as[String]
          .collect().toSeq.sorted,
        meta.getAs[Int]("decon_n"), meta.getAs[Long]("decon_min_shared")))
    Frozen(quality, knCosts, langT1,
      Bpe.loadLearned(spark, s"$path/tokenizer"),
      meta.getSeq[String](meta.fieldIndex("stop_words")), dec)
  }

  // ---- the frozen per-document gates, each ONE boolean Column ------
  //
  // A gate is a per-row predicate over the document's own columns, so
  // every consumer — [[fit]]'s threshold corpus, [[ingestBatch]]'s
  // kept chain and its gate accounting — applies the same Column: a
  // filter conjunction (FilterExec stops at the first failing
  // conjunct, so list cheap gates first) or a conditional count. No
  // gate is an id relation re-joined on the document id.

  /** The learned quality gate: [[LinearQuality.scoreColumn]] above the
    * half-scale decision boundary ([[LinearQuality.score]]'s `keep`). */
  private def qualityKeep(text: Column, m: LinearQuality.Model): Column =
    LinearQuality.scoreColumn(text, m) * 2 > m.scale

  /** The decontamination gate: a document is kept unless it shares
    * `minShared`+ distinct `n`-grams with the frozen benchmark gram
    * set, counted in ONE compiled pass ([[graft.functions.SetHitCount]]
    * over [[Decontaminate.ngramSet]]'s distinct grams — an O(1) hash
    * probe per gram). A null or sub-`n`-token document has zero hits
    * and stays kept. */
  private def deconKeep(text: Column, d: Decon): Column = {
    val hits = GraftExprBridge.column(graft.functions.SetHitCount(
      GraftExprBridge.expression(Decontaminate.ngramSet(text, d.n)),
      d.grams))
    coalesce(hits, lit(0L)) < d.minShared
  }

  /** The KN perplexity gate: the document's mean cost at or under its
    * language's frozen head threshold, looked up in a map literal.
    * NULL — so dropped by a filter and uncounted — for an unseen
    * language or a sub-2-token document. The cost struct is bound once
    * through a single-element array (the mean reads it twice). */
  private def knKeep(text: Column, lang: Column, fz: Frozen): Column = {
    val t1 = element_at(typedLit(fz.langT1), lang)
    element_at(transform(array(LangModel.knDocCostStruct(text, fz.knCosts)),
      st => LangModel.meanNll(st, "n_big") <= t1), 1)
  }

  /** The gates [[fit]] freezes the KN thresholds behind, as
    * (accounting column, gate), cheap first: Gopher, quality,
    * decontamination (when configured). */
  private def cheapGates(text: Column, stopWords: Seq[String],
      m: LinearQuality.Model, decon: Option[Decon]): Seq[(String, Column)] =
    Seq("n_gopher" -> TextAnalysis.gopherKeep(text, stopWords),
      "n_quality" -> qualityKeep(text, m)) ++
      decon.map(d => "n_decon" -> deconKeep(text, d))

  /** Every frozen gate, cheap to expensive: [[cheapGates]], then KN. */
  private def gates(fz: Frozen, text: Column,
      lang: Column): Seq[(String, Column)] =
    cheapGates(text, fz.stopWords, fz.quality, fz.decon) :+
      ("n_kn" -> knKeep(text, lang, fz))

  /** Run one micro-batch through the whole chain: ledger → gates →
    * encode → manifest row. One anti-join against the fingerprint
    * ledger, ONE filter over its survivors for every frozen gate
    * ([[gates]], cheap first, so KN scores only what passed the
    * others), one encode projection over the survivors. `recordStats`
    * only decides whether the per-batch accounting row is written.
    * PRECONDITION: `idCol` is unique within the batch. */
  def ingestBatch(batch: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String, fz: Frozen, root: String,
      batchId: Long, recordStats: Boolean = false,
      nearDup: Option[StreamDedup.Config] = None,
      semDup: Option[SemGate] = None): Unit =
    BatchTimer.timed("pretrain.ingest") {
    val spark = batch.sparkSession
    // The incoming micro-batch is scanned by EVERY consumer below —
    // the near/sem index upserts, the fingerprint window, the opt-in
    // stats counts — and nothing guarantees the caller hands us a
    // cheap scan (q_stream_pretrain_sem's batch is a
    // docs⋈embeddings JOIN that re-ran per gate; measured 5.7 s
    // bpe.encode vs 1.6 s on the plain-scan twin). Persist it for
    // the batch's lifetime (batch-sized, MEMORY_AND_DISK — never a
    // corpus relation), released in the finally at the end.
    val batchP = batch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val batch = batchP // shadow: every read below rides the persist
    // (r16) The index upserts and the gate chain OVERLAP: the
    // stateless gate chain is defined first (it reads only the
    // persisted batch and pre-batch ledger state — nothing the
    // upserts write), `kept1` persists and a third driver thread
    // materializes it while the upserts run, so the per-batch wall
    // pays max(upserts, gate chain) instead of their sum. The frames
    // that DO read upsert state (the near pre-filter `nkp`, the
    // semantic anti-join) are still built strictly after the group
    // settles, exactly as before.
    val semRefusedRef =
      new java.util.concurrent.atomic.AtomicReference[DataFrame]
    val gs = gates(fz, col(textCol), col(langCol))
    // keep-first ledger over ALL arrivals (gate-independent, so a
    // gated-out first copy still blocks its later duplicates — the
    // batch exactKeepFirst semantics), first-per-fp within the batch
    val wFp = Window.partitionBy("_fp").orderBy(col(idCol))
    // persist marked HERE, before kept1 nests it (r17): the
    // kept1 materialization on the overlap thread below is the first
    // action over this frame, and the mark must precede it so that
    // run populates the cache the ledger append reads — marked after
    // the group, the fingerprint window + ledger anti-join evaluated
    // twice per batch. Batch-sized, released in the finally.
    val freshAllP = batch
      .withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("_rn", row_number().over(wFp))
      .filter(col("_rn") === 1).drop("_rn")
      .join(readLedger(spark, root), Seq("_fp"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every frozen gate in one conjunction over the fresh arrivals
    val kept1 = freshAllP.filter(gs.map(_._2).reduce(_ && _))
    // kept1 persists whenever an index upsert runs beside it: the
    // third thread below materializes it (count() over the marked
    // plan populates the cache) while the upserts work, and every
    // later consumer — the near/sem joins, encode, manifest, counts —
    // rides the blocks. Without an upsert there is nothing to overlap
    // and the later `kept` persist already covers reuse.
    val kept1P =
      if (nearDup.isEmpty && semDup.isEmpty) None
      else Some(kept1.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // Near: the batch's bands probe the accumulated index and the
    // cluster-label table folds the new pairs in
    // (a [[StreamDedup.Index]] with `labels` — the
    // q_dedup_clusters_incr machinery). Like the fingerprint ledger,
    // the index ingests ALL arrivals — near-dup structure is a
    // property of the content, not of what the gates kept — so the
    // maintained clusters equal the batch clustering over the whole
    // corpus. The upsert is retry-idempotent (duplicate-proof readers,
    // label fold converges), so it can safely run before the ledger;
    // the returned pair delta is consumed by the label fold inside
    // the call, and its checkpoint blocks are released (one delta per
    // micro-batch in a long-lived ingest). The pipeline's batch id
    // threads through as the index's generation id, so a later
    // delete on the near-dup index can order against this ingest.
    //
    // Semantic: likewise ingests ALL arrivals (a refused document
    // still refuses later lookalikes — the batch semanticDedup's
    // non-greedy rule). The refusal decision is final at arrival
    // (direct-pair keep-first under monotone ids), so unlike the near
    // gate there is no read-side late exclusion: the anti-join below
    // is the whole composition.
    //
    // The upserts target DISJOINT roots and neither reads the other,
    // so they run on concurrent driver threads with the gate-chain
    // materialization; all have settled before any frame that reads
    // their state is built.
    StreamState.inParallel(
      (nearDup.map { cfg => () =>
        StreamState.release(new StreamDedup.Index(spark, nearRoot(root),
          idCol, textCol, cfg, labels = true)
          .upsert(batch.select(col(idCol), col(textCol)), batchId))
      } ++
        semDup.map { g => () =>
          semRefusedRef.set(new StreamSemDedup.Index(spark, semRoot(root),
            idCol, g.embCol, g.model)
            .upsert(batch.select(col(idCol), col(g.embCol)), batchId))
        } ++
        kept1P.map { k => () => { k.count(); () } }).toSeq: _*)
    val semRefused = Option(semRefusedRef.get)
    // near-dup pre-filter (when configured): documents ALREADY known
    // non-canonical — an earlier-id near-dup exists in the index —
    // skip encoding. With monotone batch/document ids non-canonical
    // is PERMANENT (a doc can only lose canonicity to a smaller id,
    // never regain it), so nothing dropped here is ever needed again;
    // a doc that merges into an older cluster only LATER (a
    // transitive bridge arrives) is caught by the read-side exclusion
    // ([[nearNonCanonical]]) instead. The membership check partition-
    // prunes the label table to the batch's own directories
    // ([[StreamDedup.nonCanonicalOf]]) — per-batch cost tracks the
    // batch, never the all-time dup index.
    val nkp = nearDup.map { cfg =>
      batch.select(col(idCol)).join(
        StreamDedup.nonCanonicalOf(batch.select(col(idCol)), idCol,
          nearRoot(root), cfg),
        Seq(idCol), "left_anti")
    }
    val kept1a = nkp.fold(kept1)(k => kept1.join(k, Seq(idCol), "left_semi"))
    // the semantic gate: refused-at-arrival ids drop before encoding
    val kept2 = semRefused.fold(kept1a)(r =>
      kept1a.join(r.withColumnRenamed("id", idCol), Seq(idCol),
        "left_anti"))
    // the training-mix gate (when a rates version is committed): the
    // maintenance-window policy publishes per-source keep fractions
    // ([[publishMixRates]]) and every later batch admits documents by
    // the deterministic md5-threshold rule — one broadcast join
    // against a sources-sized table, zero shuffle, one directory
    // listing per batch to resolve the version. A source absent from
    // the rates keeps everything (an unconfigured feed must not be
    // silently downsampled). The decision is a pure function of
    // (doc id, rates version): a redelivery under the SAME version
    // replays exactly; one under a NEWER version may ADMIT documents
    // the first delivery dropped — the encoded table serves the union
    // (append-only), nothing is ever un-admitted. Rates changes are
    // rare by the policy's tolerance ([[rebalanceMix]]).
    val mixGate = currentMixRates(spark, root).map { r =>
      val ann = broadcast(r
        .withColumn("_thr", format_string("%08x",
          floor(col("keep_frac") * lit(4294967296.0)).cast("long")))
        .select(col("source").as("_mix_src"), col("keep_frac").as("_kf"),
          col("_thr")))
      (df: DataFrame) => df
        .join(ann, df(sourceCol) === col("_mix_src"), "left")
        .filter(col("_kf").isNull || col("_kf") >= 1.0 ||
          Scale.sampleBucket(col(idCol)) < col("_thr"))
        .drop("_mix_src", "_kf", "_thr")
    }
    // The tail actions below each re-evaluate their lazy inputs:
    // without the persist, `kept` (the full gate chain — gopher +
    // quality + KN scoring + ledger anti-join + near/sem/mix joins)
    // re-runs for the encode write, the encode generation row, the
    // manifest write and the opt-in stats count — 3–4 evaluations of
    // the batch's most expensive frames per micro-batch. Persist for
    // the batch's lifetime; blocks release in the finally
    // (batch-sized, MEMORY_AND_DISK, never a corpus relation).
    // freshAll's own persist is marked at its definition above.
    val kept = mixGate.fold(kept2)(g => g(kept2))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // encode + manifest BEFORE the ledger append (see header). The
    // two target DISJOINT roots and neither reads the other, so they
    // run on two driver threads at once (the near/sem upsert
    // precedent above); both have completed before the stats/ledger
    // actions below. A crash in either retries both: the encoded
    // table is generation-guarded (appendGens last inside
    // the upsert) and the manifest's readers go through
    // [[keptDocs]]' distinct(), so replay duplicates are absorbed.
    StreamState.inParallel(
      () => new StreamBpe.Index(spark, encRoot(root), idCol, textCol,
        fz.tokenizer).upsert(kept, batchId),
      () => BatchTimer.timed("pretrain.manifest") {
        StreamState.append(
          kept.select(col(idCol).as("id"), col(sourceCol).as("source"))
            .withColumn("batch_id", BatchConst(lit(batchId))),
          keptRoot(root), None)
      })
    // OPT-IN gate accounting — the "why did my corpus shrink" row:
    // one tiny record per batch with each gate's individual pass
    // count over the batch plus the composed result. Counts cost
    // extra jobs over the micro-batch (that is why it is opt-in).
    // Written before the ledger append so the crash contract stays
    // "ledger last"; a redelivery AFTER the ledger append re-records
    // the batch with the ledger-dependent counts at zero (its
    // fingerprints are already claimed) — [[gateStats]]' per-batch
    // max-fold reconstructs the first delivery's accounting exactly,
    // because every count can only shrink on a replay.
    if (recordStats) {
      import batch.sparkSession.implicits._
      // n_in and every frozen gate's pass count are ONE aggregate over
      // the batch (the same gate Columns the kept chain filters by);
      // the other counts read index state or composed frames. The
      // independent read-only jobs run concurrently (guide §2.6: each
      // job's straggler tail back-fills the next one's ramp); results
      // land in fixed slots so the row's column order is unchanged.
      val gateRow = new java.util.concurrent.atomic.AtomicReference[
        org.apache.spark.sql.Row]
      val slots = new Array[java.lang.Long](5)
      def slot(i: Int)(f: => Long): () => Unit = () => slots(i) = f
      StreamState.inParallel((Seq(
        () => gateRow.set(batch.agg(count(lit(1)).as("n_in"),
          gs.map { case (n, g) => count(when(g, 1)).as(n) }: _*).head()),
        slot(0)(freshAllP.count())) ++
        nkp.map(k => slot(1)(k.count())) ++
        semRefused.map(r => slot(2)(r.count())) ++
        mixGate.map(g => slot(3)(g(batch).count())) ++
        Seq(slot(4)(kept.count()))): _*)
      val gr = gateRow.get
      def n(c: String): Long = gr.getLong(gr.fieldIndex(c))
      val nIn = n("n_in")
      StreamState.append(
        Seq((batchId, nIn, slots(0): Long, n("n_gopher"), n("n_quality"),
            n("n_kn"), fz.decon.map(_ => n("n_decon")),
            Option(slots(1)).map(_.toLong),
            Option(slots(2)).map(nIn - _.toLong),
            Option(slots(3)).map(_.toLong), slots(4): Long))
          .toDF("batch_id", "n_in", "n_fresh", "n_gopher", "n_quality",
            "n_kn", "n_decon", "n_near", "n_sem", "n_mix", "n_kept"),
        statsRoot(root), None)
    }
    BatchTimer.timed("pretrain.ledger") {
      StreamState.append(freshAllP.select(col("_fp"))
        .withColumn("batch_id", BatchConst(lit(batchId))),
        ledgerRoot(root), None)
    }
    } finally {
      kept.unpersist(false)
      freshAllP.unpersist(false)
      kept1P.foreach(_.unpersist(false))
    }
    // the semantic delta's checkpoint blocks release once the batch's
    // last consumer (encode/kept/stats above) has run
    semRefused.foreach(StreamState.release)
    } finally batchP.unpersist(false)
  }

  /** The per-batch gate accounting rows ([[ingestBatch]] with
    * `recordStats = true`): (batch_id, n_in, n_fresh, n_gopher,
    * n_quality, n_kn, n_decon, n_near, n_sem, n_mix, n_kept) — each
    * gate's INDIVIDUAL pass count over its batch (n_decon / n_near /
    * n_sem / n_mix
    * null when that gate is not configured), n_fresh the first-arrival count
    * after the ledger, n_kept the composed survivors. One row per
    * batch: the ledger append is
    * all-or-nothing per batch (a Spark write commits or leaves
    * nothing), so a replayed batch's row either repeats the original
    * exactly (crash before the append) or shrinks its
    * ledger-dependent counts toward zero (redelivery after it) — the
    * per-batch MAX of every ledger-dependent column is therefore
    * exactly the first full delivery's accounting. EXCEPTION: n_mix
    * is evaluated against the mix-rates version current AT DELIVERY
    * TIME (the gate is a frozen-per-batch closure over
    * [[currentMixRates]]), so a redelivery that lands after a newer
    * [[publishMixRates]] can record a different — possibly larger —
    * n_mix than the first delivery; read n_mix as "the mix gate's
    * pass count under SOME published rates version", not as a
    * replay-stable count. n_kept stays safe: the ledger anti-join
    * zeroes a redelivered batch's survivors regardless of rates. */
  def gateStats(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read.parquet(statsRoot(root))
    val aggs = raw.columns.filter(_ != "batch_id")
      .map(c => max(col(c)).as(c))
    raw.groupBy("batch_id").agg(aggs.head, aggs.tail: _*)
  }

  /** The pipeline watches ITSELF — the reference's outlier-detection
    * shape (the `ml/Outliers` z-score analyzer its topology runs over
    * every filter's log series, `storm/src/main/java/nl/us2/
    * cloudpelican/stormprocessor/OutlierDetectionBolt.java`) applied
    * to the pipeline's own per-batch gate accounting: a micro-batch whose
    * composed keep rate sits more than `k`σ from the series mean is
    * flagged with its z-score. A broken scraper, a wrong-language
    * feed, or an upstream dedup storm surfaces HERE — one tiny
    * relation read — before it poisons the training mix. kept_ppm is
    * integer parts-per-million (truncating division), so the series
    * itself is engine-exact; only the final z carries float rounding
    * (round 6, the q_outlier_zscore precedent). Requires
    * [[ingestBatch]] `recordStats = true`; never reads the corpus. */
  def monitor(spark: SparkSession, root: String,
      k: Double = 1.5): DataFrame = {
    val st = gateStats(spark, root)
      .withColumn("kept_ppm",
        expr("CAST(n_kept * 1000000 AS BIGINT) DIV n_in"))
    val g = st.agg(avg("kept_ppm").as("mu"),
      stddev_samp("kept_ppm").as("sigma"))
    st.crossJoin(broadcast(g))
      .withColumn("z", (col("kept_ppm") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > lit(k))
      .select(col("batch_id"), col("n_in"), col("n_kept"),
        col("kept_ppm"), round(col("z"), 6).as("z"))
  }

  // ---- training-mix control (detect → ACT) --------------------------

  /** Per-source LIVE token mass — the training mix as it stands: each
    * surviving document's encoded piece count, summed per source. One
    * aggregate over the live encoded table; the result is
    * sources-sized, never corpus-sized. */
  def liveSourceTokens(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    if (!StreamState.hasDataFiles(spark, encRoot(root)))
      return Seq.empty[(String, Long)].toDF("source", "dom_tokens")
    val enc = StreamBpe.readEncoded(spark, encRoot(root))
    val idc = enc.columns.head
    val perDoc = enc.groupBy(col(idc)).agg(count(lit(1)).as("_n"))
    keptDocs(spark, root).withColumnRenamed("id", idc)
      .join(perDoc, idc)
      .groupBy("source").agg(sum("_n").cast("long").as("dom_tokens"))
  }

  /** Publish a new mix-rates version computed from the live mix:
    * [[graft.operators.Curate.mixtureTarget]]'s DoReMi-style rule —
    * with r_s = dom_tokens_s / w_s, keep_frac_s = min(1,
    * min_e(r_e) · w_s / dom_tokens_s) — evaluated over the CURRENT
    * per-source token mass, so future admissions steer the kept mass
    * toward the target ratios (assuming arriving traffic resembles
    * the history that produced the imbalance — the standard feedback
    * control premise; the next policy run re-measures and corrects).
    * Every arithmetic step is plain IEEE double on integer inputs
    * (the q_mixture_target replay contract), so an external engine
    * reproduces the kept set exactly.
    *
    * The rates land as a tiny (source, dom_tokens, keep_frac) parquet
    * in a `_vN` directory made visible by one atomic `_COMMITTED`
    * create ([[StreamState.commitVersion]] — the [[StreamIvfPq.refit]]
    * publish pattern), so ingest always reads one consistent,
    * fully-written rates table and a crashed publish is invisible.
    * A target must be positive; a targeted source with no live mass
    * keeps everything (it is the under-represented one). Returns the
    * published directory. */
  def publishMixRates(spark: SparkSession, root: String,
      targets: Seq[(String, Long)]): String = {
    require(targets.nonEmpty, "targets must not be empty")
    require(targets.forall(_._2 > 0), s"weights must be positive: $targets")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate source in targets: $targets")
    import spark.implicits._
    val w = targets.toDF("source", "_w")
    val dw = w.join(liveSourceTokens(spark, root), Seq("source"), "left")
      .na.fill(0L, Seq("dom_tokens"))
    val minR = dw.filter(col("dom_tokens") > 0)
      .agg(min(col("dom_tokens").cast("double") / col("_w").cast("double"))
        .as("_minr"))
    val rates = dw.crossJoin(minR)
      .withColumn("keep_frac", when(col("dom_tokens") === 0, lit(1.0))
        .otherwise(least(lit(1.0),
          col("_minr") * col("_w").cast("double") /
            col("dom_tokens").cast("double"))))
      .select("source", "dom_tokens", "keep_frac")
      .orderBy("source")
    val vdir = StreamState.nextVersionDir(spark, mixRoot(root))
    // the rates live under a normal-named leaf: Spark's file listing
    // skips underscore-prefixed roots, so `_vN` itself cannot be a
    // parquet root (the StreamIvfPq layout convention)
    rates.coalesce(1).write.mode("overwrite").parquet(s"$vdir/rates")
    StreamState.commitVersion(spark, vdir)
    vdir
  }

  /** The newest committed mix-rates table, or None before the first
    * publish (ingest keeps everything). */
  def currentMixRates(spark: SparkSession,
      root: String): Option[DataFrame] =
    StreamState.newestCommitted(spark, mixRoot(root))
      .map(v => spark.read.parquet(s"$v/rates"))

  /** The ACT face of the mix signal (the [[Maintenance
    * .IvfPqRefitPolicy]] pattern for the training mix): measure the
    * live mix against the target ratios and publish a new rates
    * version only when some targeted source's share drifts more than
    * `tolerancePpm` from its target share — a healthy mix never
    * flaps, a drifted one self-corrects from the next micro-batch on.
    * Shares are parts-per-million over the TARGETED sources' mass
    * (an untargeted source is out of scope by construction: the
    * ingest gate keeps it whole — a feed the operator never
    * configured must not be silently downsampled), computed in
    * double: a 100 TB corpus carries ~2.5e13 token masses, so the
    * integer form `m * 1000000L` would overflow Long (limit ~9.2e12
    * after the multiply); a ppm share needs no more than double's
    * 2⁵³ mantissa anyway — the tolerance check is a threshold, not a
    * replayable hash. Returns true iff a version was published. */
  def rebalanceMix(spark: SparkSession, root: String,
      targets: Seq[(String, Long)], tolerancePpm: Long = 50000L): Boolean = {
    require(tolerancePpm >= 0, s"tolerancePpm must be >= 0: $tolerancePpm")
    import spark.implicits._
    val wSum = targets.map(_._2).sum
    val live = liveSourceTokens(spark, root)
      .as[(String, Long)].collect().toMap
    val masses = targets.map { case (s0, _) => live.getOrElse(s0, 0L) }
    val total = masses.sum
    if (total == 0L) return false // nothing live yet — no signal
    val drift = targets.zip(masses).map { case ((_, w0), m) =>
      math.abs(m.toDouble / total * 1e6 - w0.toDouble / wSum * 1e6)
    }.max
    if (drift <= tolerancePpm) false
    else { publishMixRates(spark, root, targets); true }
  }

  /** Attach the whole chain to a live document stream as ONE
    * Structured Streaming job: every micro-batch runs
    * [[ingestBatch]] under the frozen models, exactly the
    * [[StreamDedup.attach]] shape. Batch ids come from the stream
    * (epoch ids are monotone — the ledger/generation contract); the
    * checkpoint makes redelivery at-least-once, which the chain is
    * built for. */
  def attach(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, sourceCol: String, fz: Frozen, root: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .queryName("stream_pretrain")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(batch, idCol, textCol, langCol, sourceCol, fz,
          root, batchId)
      }
      .start()

  /** FORGET documents across the pipeline's live state — the
    * compliance path ("this content must leave the training set")
    * composed end-to-end: one tombstone generation in the encoded
    * table's shared log (a [[StreamBpe.Index]] delete) and the pieces
    * stop serving from the next read, so [[packedShards]] and
    * [[manifest]] rebuild without them and [[keptDocs]] drops the
    * rows; the next compaction physically retires the dead state.
    * The fingerprint LEDGER keeps its first-arrival record ON
    * PURPOSE: forgetting the content must not re-admit a later copy
    * of the same text — the ledger row is the dedup decision, not
    * the content (and it stores a fingerprint, nothing readable).
    * The near-dup index is likewise NOT auto-deleted from: a strict
    * signature purge is a [[StreamDedup.Index]] delete on `nearRoot`,
    * but its exact label repair can PROMOTE a surviving cluster-mate
    * to canonical, and that mate was never encoded (non-canonicals
    * skip encoding at arrival) — its text is gone, so the promoted
    * document could not serve anyway. Keeping the forgotten id's
    * labels means the mates stay non-canonical (never OVER-serving),
    * which is the conservative composition; run the index delete
    * separately when the derived signatures themselves must go, and
    * re-ingest a mate if its content should start serving. */
  def forgetDocs(ids: DataFrame, idCol: String, root: String,
      batchId: Long): Unit =
    new StreamBpe.Index(ids.sparkSession, encRoot(root), idCol,
      textCol = null, learned = null).delete(ids, batchId)

  /** Ids currently known NON-canonical in the near-dup cluster index
    * (an earlier-id near-dup exists), or null when no near-dup gate
    * ever ran — the read-side face of the [[ingestBatch]] `nearDup`
    * option. The pre-filter at encode drops the non-canonicals known
    * at arrival (the vast majority — within-batch and probe-vs-history
    * pairs surface immediately), so this exclusion only actually
    * bites on LATE transitive merges; it is one id column, joined
    * WITHOUT a broadcast hint (at 100 TB the all-time dup set is
    * corpus-proportional — let AQE pick the join side). */
  private def nearNonCanonical(spark: SparkSession,
      root: String): DataFrame =
    if (!StreamDedup.labelsExist(spark, nearRoot(root))) null
    else StreamDedup.indexLabels(spark, nearRoot(root))
      .filter(col("id") =!= col("cluster")).select("id")

  private def readLedger(spark: SparkSession, root: String): DataFrame = {
    if (!StreamState.hasDataFiles(spark, ledgerRoot(root))) {
      import spark.implicits._
      Seq.empty[String].toDF("_fp")
    } else spark.read.parquet(ledgerRoot(root)).select(col("_fp")).distinct()
  }

  /** The surviving documents: (id, source), one row each — the
    * manifest's row-level face. Forgotten documents
    * ([[forgetDocs]]) are excluded via the same broadcast dead set
    * the encoded table serves under. */
  def keptDocs(spark: SparkSession, root: String): DataFrame = {
    val raw = spark.read.parquet(keptRoot(root))
      .select("id", "source").distinct()
    // forgotten documents: the encoded table's dead set, so the kept
    // and encoded faces forget together
    val dead = StreamState.deadIds(spark, encRoot(root))
    val base = if (dead == null) raw
      else raw.join(broadcast(dead), Seq("id"), "left_anti")
    val nc = nearNonCanonical(spark, root)
    if (nc == null) base else base.join(nc, Seq("id"), "left_anti")
  }

  /** Fixed-budget context windows over the live encoded survivors —
    * [[StreamBpe.packShards]]' packing over this pipeline's encoded
    * table, with the near-dup read-side exclusion applied BEFORE the
    * pack prefix sum when the `nearDup` gate ran (a late transitive
    * merge must vacate its window slots, exactly like a forgotten
    * document). */
  def packedShards(spark: SparkSession, root: String,
      tokenBudget: Int): DataFrame = {
    val nc = nearNonCanonical(spark, root)
    if (nc == null)
      StreamBpe.packShards(spark, encRoot(root), tokenBudget)
    else {
      val enc = StreamBpe.readEncoded(spark, encRoot(root))
      val idc = enc.columns.head
      graft.operators.Pack.packCounts(
        enc.join(nc.withColumnRenamed("id", idc), Seq(idc), "left_anti")
          .groupBy(col(idc)).agg(count(lit(1)).as("n_tokens")),
        idc, tokenBudget)
    }
  }

  /** The training manifest: per source, how many documents survived
    * curation, their total BPE pieces, and which context-window span
    * the source's documents touch under `tokenBudget` — the artifact
    * a training job reads to locate its data. */
  def manifest(spark: SparkSession, root: String,
      tokenBudget: Int): DataFrame = {
    val packed = packedShards(spark, root, tokenBudget)
    val idc = packed.columns.head
    keptDocs(spark, root).withColumnRenamed("id", idc)
      .join(packed, idc)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_pieces"),
        min("pack_first").as("first_shard"),
        max("pack_last").as("last_shard"))
  }
}
