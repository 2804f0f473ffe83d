package perfbench

import graft.ml.LinearQuality
import graft.operators.{Bpe, LangModel}
import graft.streaming.{StreamDedup, StreamPretrain}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** pretrain_ingest: one client runs a fixed number of cycles of
  * ingest (with the near-dup gate) → forget ~1% of kept ids → read
  * the kept table and the packed shards (closed loop). The cycle count
  * is fixed, not the time, so every run ends with the same state size.
  * An `ingestBatch` costs about 10 s on a 4-core host whatever the
  * batch size (some 80 Spark jobs), so a run affords two cycles; both
  * are timed, the first from an empty pipeline root. */
object PretrainIngest {
  val CorpusDocs = 100      // the curation corpus `fit` learns from
  val BatchDocs = 60
  val Cycles = 2
  val ForgetShare = 0.01
  val TokenBudget = 512
  val NearDup = StreamDedup.Config()
  /** Near duplicates at least this similar to their source (word
    * 3-shingle Jaccard, the gate's own measure) must be dropped: far
    * above the gate's 0.7 threshold, so MinHash banding cannot miss
    * them. */
  val SureNearDup = 0.9
  val GateDocs = 2000       // documents the traced run's gate self times run over

  def toDf(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text, d.lang, d.source)).toDF("doc_id", "text", "lang", "source")
  }

  def fit(ctx: Ctx): StreamPretrain.Frozen =
    StreamPretrain.fit(toDf(ctx.spark, Gen.corpus(ctx.seed, CorpusDocs)),
      "doc_id", "text", "lang")

  /** All batches up front, so generation never runs inside a timed call. */
  def batches(seed: Long): IndexedSeq[IndexedSeq[(Gen.Doc, Gen.Kind)]] = {
    val history = mutable.ArrayBuffer.empty[Gen.Doc]
    (0 until Cycles).map { i =>
      val b = Gen.batch(seed, i, 1000000L + i.toLong * BatchDocs, BatchDocs, history.toIndexedSeq)
      history ++= b.map(_._1)
      b
    }
  }

  final case class CycleTimes(ingestMs: Double, forgetMs: Double, readMs: Double)

  final case class RunResult(times: Seq[CycleTimes], failed: Long, keptHash: Long,
      keepRatio: Double, nearDropRatio: Double, notes: Map[String, String])

  /** Jaccard similarity of two texts' word 3-shingle sets. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String) = t.split(' ').sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    x.intersect(y).size.toDouble / x.union(y).size
  }

  def ms(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }

  /** The cycles over a fresh pipeline root; checks every cycle's
    * outputs against what the generator knows. */
  def cycles(ctx: Ctx, fz: StreamPretrain.Frozen,
      all: IndexedSeq[IndexedSeq[(Gen.Doc, Gen.Kind)]], root: String,
      step: StepProbe = NoProbe): RunResult = {
    val spark = ctx.spark
    import spark.implicits._
    val r = Gen.rng(ctx.seed, "forget")
    var kept = Set.empty[Long]
    val forgotten = mutable.Set.empty[Long]
    var failed = 0L
    var offered = 0L; var keptNew = 0L; var nearTotal = 0L; var nearDropped = 0L
    var nearChecked = 0L
    val byId = all.flatten.map { case (d, _) => d.id -> d.text }.toMap
    val times = all.indices.map { i =>
      val b = all(i)
      val df = toDf(spark, b.map(_._1)).cache()
      df.count()
      val ingestMs = ms(step("ingest")(ctx.trace.span("streaming.ingest_batch")(
        StreamPretrain.ingestBatch(df, "doc_id", "text", "lang", "source", fz, root,
          2L * i, nearDup = Some(NearDup)))))
      df.unpersist()
      // forget a seeded ~1% of the ids kept so far
      val pool = kept.diff(forgotten).toVector.sorted
      val nForget = math.max(1, math.round(pool.size * ForgetShare).toInt)
      val forget = new scala.util.Random(r.nextLong()).shuffle(pool).take(nForget)
      val forgetMs = ms(step("forget")(ctx.trace.span("streaming.forget")(
        if (forget.nonEmpty) StreamPretrain.forgetDocs(forget.toDF("doc_id"), "doc_id", root, 2L * i + 1))))
      forgotten ++= forget
      var ids = Array.empty[Long]
      var packed = 0L
      val readMs = ms(step("read")(ctx.trace.span("streaming.kept_read") {
        ids = StreamPretrain.keptDocs(spark, root).select("id").as[Long].collect()
        packed = StreamPretrain.packedShards(spark, root, TokenBudget).count()
      }))
      val now = ids.toSet
      val batchIds = b.map(_._1.id).toSet
      val fresh = now.diff(kept)
      val exact = b.collect { case (d, Gen.ExactDup) => d.id }.toSet
      val near = b.collect { case (d, Gen.NearDupOf(_)) => d.id }.toSet
      val sureNear = b.collect { case (d, Gen.NearDupOf(src))
        if shingleJaccard(d.text, byId(src)) >= SureNearDup => d.id }.toSet
      nearChecked += sureNear.size
      // outcome checks against what the generator knows, no graft code
      val checks = Seq(
        "one row per kept id" -> (ids.length == now.size),
        "forgotten ids never served" -> now.intersect(forgotten).isEmpty,
        "new survivors come from this batch" -> fresh.subsetOf(batchIds),
        "no exact duplicate kept" -> fresh.intersect(exact).isEmpty,
        "no sure near duplicate kept" -> now.intersect(sureNear).isEmpty,
        "survivors are packed" -> (now.isEmpty || packed > 0))
      checks.filterNot(_._2).foreach { case (name, _) =>
        System.err.println(s"[perfbench] pretrain cycle $i check failed: $name") }
      if (checks.exists(!_._2)) failed += 1
      offered += b.size; keptNew += fresh.size
      nearTotal += near.size; nearDropped += near.diff(now).size
      kept = now
      CycleTimes(ingestMs, forgetMs, readMs)
    }
    val hash = java.util.Arrays.hashCode(kept.toArray.sorted)
    RunResult(times, failed, hash.toLong, keptNew.toDouble / offered,
      if (nearTotal == 0) 0.0 else nearDropped.toDouble / nearTotal,
      Map("kept_ids" -> kept.size.toString, "forgotten_ids" -> forgotten.size.toString,
        "sure_near_dups_checked" -> nearChecked.toString))
  }

  /** The kept-id hash must be identical across runs of one seed: an
    * earlier run's hash on the same build is kept under `stateDir`.
    * False when it differs; this run's hash is recorded otherwise. */
  def sameKeptHash(ctx: Ctx, hash: Long): Boolean = ctx.stateDir.forall { dir =>
    val f = dir.resolve(s"kept-hash-${ctx.seed}")
    if (java.nio.file.Files.exists(f))
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim == hash.toString
    else {
      java.nio.file.Files.createDirectories(dir)
      val tmp = dir.resolve(s"kept-hash-${ctx.seed}.${ProcessHandle.current().pid()}")
      java.nio.file.Files.write(tmp, hash.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, f, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      true
    }
  }

  def run(ctx: Ctx): Outcome = {
    val fz = ctx.repeatedSetup(fit(ctx))
    val all = batches(ctx.seed)

    // Two cycles support no tail percentile: lat_p50_s is the median
    // (the mean of the two) ingestBatch call, lat_tail_s the slower full
    // cycle (ingest, forget, read back), the wait from a batch's
    // arrival to its survivors being served.
    def e2e(rr: RunResult): Map[String, Double] = {
      val ing = rr.times.map(_.ingestMs)
      Map("lat_p50_s" -> Stats.mid(ing) / 1000,
        "lat_tail_s" -> rr.times.map(t => t.ingestMs + t.forgetMs + t.readMs).max / 1000,
        "rate_per_s" -> ing.size * BatchDocs / (ing.sum / 1000))
    }
    // a traced run measures once, with the probes registered first and
    // engine, FS and plan counters split by cycle step
    val probes = if (ctx.trace.enabled) Some(ctx.probes()) else None
    val root = ctx.dir("pretrain-a")
    val steps = probes.map(new CountingProbe(_, root))
    val e0 = probes.map(_.engine.snap())
    ctx.mark("cycles")
    val rr = cycles(ctx, fz, all, root, steps.getOrElse(NoProbe))
    ctx.mark("measured")
    val e1 = probes.map(_.engine.snap())
    ctx.checkpointHeap()
    val base = e2e(rr)
    val sameHash = sameKeptHash(ctx, rr.keptHash)
    if (!sameHash) System.err.println(
      s"[perfbench] kept-id hash ${rr.keptHash} differs from an earlier run of seed ${ctx.seed}")
    val failed = rr.failed + (if (sameHash) 0 else 1)
    val notes = rr.notes ++ Map(
      "ingest_batch_p50_s" -> f"${base("lat_p50_s")}%.4f",
      "cycle_max_s" -> f"${base("lat_tail_s")}%.4f",
      "ingest_docs_per_s" -> f"${base("rate_per_s")}%.2f",
      "forget_p50_s" -> f"${Stats.mid(rr.times.map(_.forgetMs)) / 1000}%.4f",
      "kept_read_p50_s" -> f"${Stats.mid(rr.times.map(_.readMs)) / 1000}%.4f",
      "cycle_ms" -> rr.times.map(t => f"${t.ingestMs}%.0f/${t.forgetMs}%.0f/${t.readMs}%.0f").mkString(","),
      "kept_id_hash" -> rr.keptHash.toString, "kept_id_hash_same" -> sameHash.toString,
      "keep_ratio" -> f"${rr.keepRatio}%.4f", "near_dup_drop_ratio" -> f"${rr.nearDropRatio}%.4f",
      "cycles" -> Cycles.toString, "batch_docs" -> BatchDocs.toString,
      "corpus_docs" -> CorpusDocs.toString,
      "exact_dup_share" -> Gen.DocShape.ExactDupShare.toString,
      "near_dup_share" -> Gen.DocShape.NearDupShare.toString)
    // each cycle is three operations (ingest, forget, read back); the
    // hash comparison is one more
    val attempted = Cycles * 3L + 1
    if (!ctx.trace.enabled) return Outcome(attempted, failed, base, Map.empty, notes)

    val stepCounts = steps.get.out
    val (_, stateBytes) = Io.tree(java.nio.file.Paths.get(root))
    val inputBytes = all.flatten.map(_._1.text.length.toLong).sum.toDouble
    val gates = ctx.trace.span("pretrain.gates")(gateSelfTimes(ctx, fz, all))
    val layers = Map(
      "streaming.ingest_jobs_per_batch" -> stepCounts("ingest_jobs") / Cycles,
      "streaming.ingest_fs_read_ops_per_batch" -> stepCounts("ingest_fs_read") / Cycles,
      "streaming.ingest_fs_write_ops_per_batch" -> stepCounts("ingest_fs_write") / Cycles,
      "streaming.ingest_files_written_per_batch" -> stepCounts("ingest_files") / Cycles,
      "streaming.ingest_bytes_written_per_input_byte" -> stateBytes / inputBytes,
      "streaming.state_bytes" -> stateBytes.toDouble,
      "streaming.keep_ratio" -> rr.keepRatio,
      "streaming.near_dup_drop_ratio" -> rr.nearDropRatio,
      "streaming.forget_fs_write_ops" -> stepCounts("forget_fs_write") / Cycles,
      "streaming.kept_read_jobs" -> stepCounts("read_jobs") / Cycles,
      "plans.kept_read_joins" -> stepCounts("read_joins") / Cycles,
      "trace.lat_p50_s" -> base("lat_p50_s"),
      "trace.rate_per_s" -> base("rate_per_s")) ++ Probes.engineDelta(e0.get, e1.get) ++ gates
    Outcome(attempted, failed, base, layers, notes)
  }

  /** Wraps each cycle step (ingest, forget, read). */
  trait StepProbe { def apply[T](name: String)(body: => T): T }
  object NoProbe extends StepProbe { def apply[T](name: String)(body: => T): T = body }

  /** Engine, FS and plan counter deltas per step, summed over cycles. */
  final class CountingProbe(probes: Probes, root: String) extends StepProbe {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def apply[T](name: String)(body: => T): T = {
      val dir = java.nio.file.Paths.get(root)
      val e0 = probes.engine.snap(); val p0 = probes.plans.snap()
      val r0 = CountingFs.reads.get; val w0 = CountingFs.writes.get
      val t0 = Io.tree(dir)
      val r = body
      val e1 = probes.engine.snap(); val p1 = probes.plans.snap()
      val t1 = Io.tree(dir)
      out(s"${name}_jobs") += e1.jobs - e0.jobs
      out(s"${name}_fs_read") += CountingFs.reads.get - r0
      out(s"${name}_fs_write") += CountingFs.writes.get - w0
      out(s"${name}_files") += t1._1 - t0._1
      out(s"${name}_joins") += p1.joins - p0.joins
      r
    }
  }

  /** Gate self time per 1000 documents: each gate's projection forced
    * through the `noop` sink over the same cached batch, minus the bare
    * scan; and the near-dup index upsert of the two ingest batches on a
    * scratch root. The gate batch holds GateDocs documents from the
    * same generator: over one 60-document ingest batch the differences
    * fall below timing noise. */
  private def gateSelfTimes(ctx: Ctx, fz: StreamPretrain.Frozen,
      all: IndexedSeq[IndexedSeq[(Gen.Doc, Gen.Kind)]]): Map[String, Double] = {
    val docs = Gen.corpus(ctx.seed + 1, GateDocs)
    val df = toDf(ctx.spark, docs).cache()
    df.count()
    try {
      val k = docs.size / 1000.0
      val t0 = Prefix.medianMs(Prefix.noop(df.select("doc_id", "text")))
      val tq = Prefix.medianMs(Prefix.noop(df.select(col("doc_id"),
        LinearQuality.scoreColumn(col("text"), fz.quality).as("q"))))
      val tk = Prefix.medianMs(Prefix.noop(df.select(col("doc_id"),
        LangModel.knDocCostStruct(col("text"), fz.knCosts).as("k"))))
      val tb = Prefix.medianMs(Prefix.noop(Bpe.encodeIdsWith(df, "doc_id", "text", fz.tokenizer)))
      val upsert = all.indices.take(2).map { i =>
        val b = toDf(ctx.spark, all(i).map(_._1)).cache(); b.count()
        val t = ms(StreamDedup.upsertBatch(b, "doc_id", "text", ctx.dir("pretrain-near"), NearDup, i.toLong))
        b.unpersist(); t
      }
      Map(
        "ml.quality_gate_self_s_per_kdoc" -> (tq - t0) / 1000 / k,
        "operators.kn_gate_self_s_per_kdoc" -> (tk - t0) / 1000 / k,
        "operators.bpe_encode_self_s_per_kdoc" -> (tb - t0) / 1000 / k,
        "streaming.neardup_upsert_s_per_batch" -> Stats.median(upsert) / 1000)
    } finally df.unpersist()
  }
}
