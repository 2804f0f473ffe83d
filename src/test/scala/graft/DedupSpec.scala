package graft

import graft.operators.Dedup
import graft.sources.Tables
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private lazy val docs = Tables.load(spark, sfDir, "documents")

  test("exact dedup partitions ids: every doc in exactly one fp group") {
    val d = Dedup.exact(docs, "doc_id", "text")
    assert(d.agg(sum("dup_cnt")).head().getLong(0) == docs.count())
    assert(d.select("fp").distinct().count() == d.count())
  }

  test("keep-first returns the min doc_id per fingerprint group") {
    val kept = Dedup.exactKeepFirst(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaAgg = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == viaAgg)
  }

  test("minhash LSH finds high-jaccard pairs found by brute force (recall)") {
    import spark.implicits._
    val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force ground truth over all pairs (500 docs → 125k pairs)
    val withSh = docs.select(col("doc_id"),
      array_distinct(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
    val truth = withSh.as("a").join(withSh.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        (size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
         size(array_union(col("a.sh"), col("b.sh")))).as("j"))
      .filter(col("j") >= 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    assert(truth.nonEmpty, "fixture should contain near-dup pairs")
    // banding theory: p(candidate) = 1-(1-j^r)^b ≥ 0.99 at j=0.5,r=4,b=16
    val recall = (lsh & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall, truth=${truth.size}, lsh=${lsh.size}")
    // no false positives below threshold (verification step is exact)
    assert((lsh -- truth).isEmpty)
  }

  test("dropNearDuplicates removes the larger id of every near-dup pair") {
    import spark.implicits._
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    // every dropped id is the b-side of some pair; every pair lost its b
    val dropped = docs.select("doc_id").as[Long].collect().toSet -- kept
    assert(dropped == pairs.map(_._2).toSet)
    assert(pairs.forall { case (_, b, _) => !kept.contains(b) })
  }

  test("simhash pairs have verified hamming distance and symmetry-free ids") {
    import spark.implicits._
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .as[(Long, Long, Int)].collect()
    assert(pairs.forall { case (a, b, h) => a < b && h <= 8 })
    // cross-check a few hamming distances against directly computed signatures
    val sigs = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    pairs.take(20).foreach { case (a, b, h) =>
      assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) == h)
    }
  }

  test("nearDupClusters: chains collapse to one component labeled by min id") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("nearDupClusters: empty pair set yields empty labels, long chains converge via doubling") {
    val s = spark
    import s.implicits._
    // empty pair set: no NPE, empty result (sum-over-nothing guard)
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.nearDupClusters(empty).count() == 0)
    // a 40-node chain has diameter 39 — linear propagation would need
    // 39 rounds; pointer doubling must converge within maxIter = 10
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(chain, maxIter = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(labels.length == 40)
    assert(labels.forall(_._2 == 1L), s"chain not collapsed: ${labels.toSeq.sortBy(_._1).take(8)}")
  }

  test("nearDupClusters labels mixed component shapes by min id") {
    val s = spark
    import s.implicits._
    // mixed shapes: chain, clique, star, singleton pair
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L)) ++ // chain
      Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++      // clique
      Seq((20L, 21L), (20L, 22L), (20L, 23L)) ++      // star
      Seq((30L, 31L))).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L,
      30L -> 30L, 31L -> 30L)
    assert(got == expected)
  }

  test("winnowFingerprints: the MOSS guarantee — shared k+w−1 runs share a fingerprint") {
    val s = spark
    import s.implicits._
    val k = 5; val w = 4
    // doc 2 embeds an exact 8-token (= k+w−1) run of doc 1
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, s"one two three $shared four five six"),
      (2L, s"red green blue $shared yellow purple"),
      (3L, "completely unrelated words about spark query planning today"))
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // guarantee: docs 1 and 2 share ≥ 1 fingerprint VALUE; doc 3 none
    val f1 = fps.filter(_._1 == 1L).map(_._3).toSet
    val f2 = fps.filter(_._1 == 2L).map(_._3).toSet
    val f3 = fps.filter(_._1 == 3L).map(_._3).toSet
    assert((f1 & f2).nonEmpty, s"no shared fingerprint: $f1 vs $f2")
    assert((f1 & f3).isEmpty && (f2 & f3).isEmpty)
    // density: winnowing keeps a small fraction, not every gram
    val doc1Grams = df.filter(col("doc_id") === 1).head().getString(1)
      .split("\\s+").length - k + 1
    assert(f1.size < doc1Grams, s"kept ${f1.size} of $doc1Grams grams")
    // pair detection surfaces exactly the planted pair
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", k, w,
        minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("winnowFingerprints: degenerate docs (under k tokens, under w grams) stay deterministic") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "a b"),                      // < k tokens → no grams → no rows
      (2L, "a b c d e f"),              // 2 grams < w → ONE fingerprint
      (3L, "a b c d e f"))              // identical → identical fingerprint
      .toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k = 5, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(!fps.exists(_._1 == 1L))
    val f2 = fps.filter(_._1 == 2L)
    val f3 = fps.filter(_._1 == 3L)
    assert(f2.length == 1 && f3.length == 1)
    assert(f2.head._2 == f3.head._2 && f2.head._3 == f3.head._3)
  }

  test("incrementalClusters: delta edges merge, extend, and create components exactly") {
    val s = spark
    import s.implicits._
    // history: {1,2,3} labeled 1, {10,11} labeled 10 (a fixpoint)
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    // delta: bridge the two components (3–10), extend one with a new
    // id (11–12), create a brand-new component (20–21), and add an
    // intra-component edge that must change nothing (1–3)
    val delta = Seq((3L, 10L), (11L, 12L), (20L, 21L), (1L, 3L))
      .toDF("id_a", "id_b")
    val got = Dedup.incrementalClusters(labels, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L, 11L -> 1L, 12L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("incrementalClusters: any split of an edge set replays the batch clustering") {
    val s = spark
    import s.implicits._
    // deterministic random-ish graph: 60 nodes, edges from a hash mix
    val edges = (0 until 120).map { i =>
      val a = (i * 2654435761L) % 60
      val b = (i * 40503L + 7) % 60
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val all = edges.toDF("id_a", "id_b")
    val want = Dedup.nearDupClusters(all)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // three sequential deltas must land on the same fixpoint
    val parts = edges.zipWithIndex.groupBy(_._2 % 3)
      .map { case (k, v) => k -> v.map(_._1).toDF("id_a", "id_b") }
    var labels = Dedup.nearDupClusters(parts(0))
    labels = Dedup.incrementalClusters(labels, parts(1))
    labels = Dedup.incrementalClusters(labels, parts(2))
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("incrementalClusters: empty delta and untouched components are label-stable") {
    val s = spark
    import s.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "cluster")
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got0 = Dedup.incrementalClusters(labels, none)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got0 == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L))
    // a delta touching only one component leaves the other untouched
    val delta = Seq((10L, 12L)).toDF("id_a", "id_b")
    val got1 = Dedup.incrementalClusters(labels, delta)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(1L -> 1L, 2L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("clustersDeltaScoped: union-find path and distributed fallback agree with nearDupClusters") {
    val s = spark
    import s.implicits._
    // same deterministic graph family as the split test: chains,
    // merges, singleton edges
    val edges = (0 until 120).map { i =>
      val a = (i * 2654435761L) % 60
      val b = (i * 40503L + 7) % 60
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }.distinct
    val pairs = edges.toDF("id_a", "id_b")
    val want = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // under the bound: the driver union-find answers
    val uf = Dedup.clustersDeltaScoped(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf == want)
    // past the bound: the distributed propagation answers, same labels
    val fb = Dedup.clustersDeltaScoped(pairs, maxPairs = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fb == want)
    // empty delta stays empty on both paths
    assert(Dedup.clustersDeltaScoped(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty)
  }

  test("jaccardJoinPrefix: the candidate-mass bound fails LOUDLY before the join, naming the twins") {
    // the exact PPJoin's run-after-dedup contract is ENFORCED: a
    // corpus whose prefix-item mass exceeds maxCandidatePairs must
    // produce a message naming the bounded twins, never an unbounded
    // quadratic verify stage. Tiny bound = cheap spec.
    val slice = docs.filter(col("doc_id") < 200)
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardJoinPrefix(slice, "doc_id", "text",
        maxCandidatePairs = 1L)
    }
    assert(e.getMessage.contains("minhashLsh"), e.getMessage)
    assert(e.getMessage.contains("quadratic"), e.getMessage)
    // at or under a sane bound the join runs untouched
    assert(Dedup.jaccardJoinPrefix(slice.limit(30), "doc_id", "text")
      .count() >= 0)
  }

  test("nearDupClusters never collects the pair relation to the driver") {
    val s = spark
    // The scale contract (round-9): clustering is joins/aggregates over
    // the edge set only — a driver-side union-find (the pre-r9 fast
    // path) bounds the operator by ONE node's heap at 100 TB. Gate:
    // the LARGEST single task result shipped to the driver must stay
    // data-free (aggregates + per-task SQL-metric chatter measure tens
    // of KB per task; a collect of the 2M-pair → 4M-directed-row edge
    // relation lands ≥ 64 MB spread over ≤ 32 tasks, so SOME task
    // returns ≥ 2 MB). A per-task bound is stable against machines
    // with more cores or Spark versions with fatter metrics, where a
    // total-bytes bound drifts with task count.
    val maxTaskResult = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          maxTaskResult.accumulateAndGet(t.taskMetrics.resultSize, Math.max)
    }
    s.sparkContext.addSparkListener(listener)
    try {
      // star forest (component = residue class mod 1000, diameter 2 —
      // converges in a couple of rounds)
      val pairs = s.range(0, 2000000)
        .select(col("id").as("id_a"), (col("id") % 1000).as("id_b"))
      val labels = Dedup.nearDupClusters(pairs)
      assert(labels.filter(col("cluster") === col("id") % 1000).count()
        == 2000000L)
      // listener delivery is async — poll until the counter stabilizes
      var prev = -1L
      var spins = 0
      while (maxTaskResult.get() != prev && spins < 30) {
        prev = maxTaskResult.get(); Thread.sleep(100); spins += 1
      }
    } finally s.sparkContext.removeSparkListener(listener)
    val mb = maxTaskResult.get() / 1048576.0
    assert(mb < 1.0,
      f"a single task shipped $mb%.2f MB to the driver — " +
        "something is collecting the edge relation")
  }

  test("nearDupClusters: 64-bit hash-scale ids don't overflow the convergence sum") {
    val s = spark
    import s.implicits._
    // ids near Long.MaxValue: a LONG Σcluster would overflow (throwing
    // under ANSI or wrapping to a false fixpoint); the DECIMAL(38,0)
    // aggregate must converge to the true labels (ADVICE r2)
    val m = Long.MaxValue
    val pairs = Seq((m, m - 1), (m - 1, m - 2), (m - 3, m - 4))
      .toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(m -> (m - 2), (m - 1) -> (m - 2), (m - 2) -> (m - 2),
      (m - 3) -> (m - 4), (m - 4) -> (m - 4)))
  }

  test("dropNearDuplicatesExact keeps exactly one representative per LSH component") {
    val slice = docs.filter(col("doc_id") < 800)
    val pairs = Dedup.minhashLsh(slice, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find ground truth on the collected pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val expectedDropped = inPairs.filter(x => {
      val root = find(x)
      inPairs.filter(y => find(y) == root).min != x
    })
    val kept = Dedup.dropNearDuplicatesExact(slice, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = slice.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == all -- expectedDropped)
  }

  test("simhash blocking has full recall at any maxHamming (pigeonhole chunks)") {
    val slice = docs.filter(col("doc_id") < 150)
    val sigs = Dedup.simhash(slice, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    for (k <- Seq(1, 3, 5, 7)) {
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= k
      } yield (ia, ib)).toSet
      val blocked = Dedup.simhashPairs(slice, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(blocked == brute,
        s"k=$k: blocked ${blocked.size} != brute ${brute.size}")
    }
  }

  test("embedding near-dup removal keeps the smaller id of every dropped pair") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val kept = Dedup.dropEmbeddingNearDuplicates(emb, "vec_id", "embedding",
        threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.size <= emb.count())
    // every dropped id appears as the larger side of some pair
    val dropped = emb.select("vec_id").collect().map(_.getLong(0)).toSet -- kept
    assert(dropped.forall(d => pairs.exists(_._2 == d)))
    // and no pair survives with both sides kept
    assert(pairs.forall { case (a, b) => !(kept(a) && kept(b)) })
  }

  test("jaccardPairs df-cap: a 100%-df token stops producing quadratic candidates; results stay exact") {
    import spark.implicits._
    // 40 docs all share the stop-token "common"; only (2k, 2k+1) pairs
    // share real content
    val docs40 = (0 until 40).map { i =>
      val content = (1 to 8).map(j => s"w${i / 2}x$j").mkString(" ")
      (i.toLong, s"common $content")
    }.toDF("doc_id", "text")
    // uncapped index: every one of the C(40,2)=780 doc pairs collides on
    // "common"; capped at df≤20 only the 20 true pairs remain candidates
    val sets = docs40.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.tokenSet(col("text")).as("_ts"))
    val candCount = Dedup.jaccardCandidates(sets, maxTokenDf = 20).count()
    assert(candCount == 20,
      s"df-cap failed to bound candidates: got $candCount, want 20")
    // and the capped path emits the same exact-jaccard result set as
    // the explicitly-uncapped (maxTokenDf = 0) exhaustive path
    val u = Dedup.jaccardPairs(docs40, "doc_id", "text", 0.8, maxTokenDf = 0)
      .as[(Long, Long, Double)].collect().toSet
    val c = Dedup.jaccardPairs(docs40, "doc_id", "text", 0.8, maxTokenDf = 20)
      .as[(Long, Long, Double)].collect().toSet
    assert(u.nonEmpty && c == u)
  }

  test("default jaccardPairs path is df-capped: an above-cap token never enters the candidate index") {
    import spark.implicits._
    // 1100 docs share one corpus-stopword (df 1100 > default cap 1000);
    // each doc's other token is unique, so EVERY candidate would come
    // from the hot token alone. The default path must prune it: zero
    // candidates instead of C(1100,2) ≈ 600k — the quadratic-skew trap
    // a caller must not fall into by accident.
    val docs1100 = (0 until 1100).map(i => (i.toLong, s"common u$i"))
      .toDF("doc_id", "text")
    val sets = docs1100.select(col("doc_id").as("id"),
      graft.functions.TextFunctions.tokenSet(col("text")).as("_ts"))
    assert(Dedup.jaccardCandidates(sets, maxTokenDf = 1000).count() == 0)
    // and the public default resolves to the capped path (completes
    // without the quadratic self-join and emits no pairs here)
    assert(Dedup.jaccardPairs(docs1100, "doc_id", "text", 0.8).count() == 0)
  }

  test("capped jaccard keeps boilerplate-copy clusters: all-hot docs fall back to their min-df token") {
    import spark.implicits._
    // 150 token-identical copies of one short text (every token's df =
    // 150 > cap 100) plus normal docs with unique content. Before the
    // orphan fallback the copies had ZERO index entries, so the
    // cluster's pairs — a real web-dedup scenario — silently vanished
    // under the capped default.
    val docs = ((0 until 150).map(i => (i.toLong, "lorem ipsum dolor sit")) ++
      (150 until 160).map(i => (i.toLong, s"unique content u$i v$i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.99, maxTokenDf = 100L)
      .as[(Long, Long, Double)].collect()
    assert(pairs.length == 150 * 149 / 2,
      s"boilerplate cluster pairs lost: got ${pairs.length}")
    assert(pairs.forall { case (a, b, j) => a < 150 && b < 150 && j == 1.0 })
  }

  test("similarTo finds the planted near-dup and matches brute-force Jaccard") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta DIFFERENT"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val got = Dedup.similarTo(corpus, "doc_id", "text",
        "alpha beta gamma delta epsilon zeta eta theta",
        shingleSize = 3, threshold = 0.3)
      .as[(Long, Double)].collect()
    // doc 1 is the query itself (jaccard 1.0); doc 2 shares 5 of 7
    // shingles (5/(6+6-5) = 5/7); doc 3 shares none
    assert(got.map(_._1).toSeq == Seq(1L, 2L))
    assert(got.head._2 == 1.0)
    assert(math.abs(got(1)._2 - 5.0 / 7.0) < 1e-6)
  }

  test("dedupSpans removes repeated spans except the corpus-first occurrence") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog again" // 10 tokens
    val docs = Seq(
      (1L, s"intro one two $boiler tail1 tailx"),
      (2L, s"different opening words $boiler closing remark"),
      (3L, "totally unique text with no repeated span at all"),
      (4L, s"intro one two $boiler tail1 tailx")) // full copy of doc 1
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "doc_id", "text", minSpan = 8)
      .as[(Long, String)].collect().toMap
    // the corpus-first occurrence (doc 1) keeps everything
    assert(out(1L) == s"intro one two $boiler tail1 tailx")
    // doc 2 loses exactly the embedded boilerplate run
    assert(out(2L) == "different opening words closing remark")
    // a unique doc is untouched
    assert(out(3L) == "totally unique text with no repeated span at all")
    // a full copy dissolves to the empty string (all spans duplicated)
    assert(out(4L) == "")
  }

  test("semantic dedup drops exactly the larger ids of within-cluster pairs at/above threshold") {
    import spark.implicits._
    val emb = Tables.load(spark, sfDir, "embeddings")
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
        k = 8, iterations = 2, threshold = 0.3)
      .select("vec_id").as[Long].collect().toSet
    // driver-side reference: same deterministic cluster assignment,
    // brute-force pairwise cosine inside each cluster
    val assigned = graft.operators.Similarity
      .kmeansQuantized(emb, "vec_id", "embedding", k = 8, iterations = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect()
    val vecs = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na * nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val drops = assigned.groupBy(_._2).values.flatMap { ms =>
      val ids = ms.map(_._1).sorted.toIndexedSeq
      for {
        (a, i) <- ids.zipWithIndex
        b <- ids.drop(i + 1)
        if cos(vecs(a), vecs(b)) >= 0.3
      } yield b
    }.toSet
    assert(drops.nonEmpty, "fixture should produce semantic drops at 0.3")
    assert(kept == vecs.keySet -- drops)
  }

  test("NULL text hashes like empty text: signature 0, pairs with whitespace-only docs") {
    import spark.implicits._
    // the SQL oracles' convention (documents LEFT JOIN sig, coalesce 0)
    // now holds by construction in the engine expressions too — a
    // NULL-text doc must block and pair exactly like an empty one
    val docs = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "),
      (4L, "real content here")).toDF("doc_id", "text")
    val sigs = Dedup.simhashMd5(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == 0L && sigs(2L) == 0L && sigs(3L) == 0L)
    val pairs = Dedup.simhashMd5Pairs(docs, "doc_id", "text", maxHamming = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(Set((1L, 2L), (1L, 3L), (2L, 3L)).subsetOf(pairs), s"got $pairs")
    val sig64 = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sig64(1L) == 0L && sig64(2L) == 0L)
  }

  test("md5 simhash matches a driver-side reference and is permutation-sensitive only to the multiset") {
    import spark.implicits._
    val sample = docs.filter(col("doc_id") < 20)
    val got = Dedup.simhashMd5(sample, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val texts = sample.select("doc_id", "text").as[(Long, String)].collect()
    texts.foreach { case (id, text) =>
      val counts = new Array[Int](60)
      text.split("\\s+").filter(_.nonEmpty).foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.take(15), 16)
        (0 until 60).foreach(j =>
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
      }
      val expect = (0 until 60).foldLeft(0L)((s, j) =>
        if (counts(j) > 0) s | (1L << j) else s)
      assert(got(id) == expect, s"doc $id")
    }
    // multiset property: token order does not change the signature
    val shuffled = texts.map { case (id, t) =>
      (id, t.split("\\s+").filter(_.nonEmpty).reverse.mkString(" "))
    }.toSeq.toDF("doc_id", "text")
    val got2 = Dedup.simhashMd5(shuffled, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(got2 == got)
  }

  test("md5 simhash pair blocking has full recall vs brute force (pigeonhole)") {
    import spark.implicits._
    val slice = docs.filter(col("doc_id") < 150)
    val sigs = Dedup.simhashMd5(slice, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      i <- ids.indices; j <- (i + 1) until ids.size
      h = java.lang.Long.bitCount(sigs(ids(i)) ^ sigs(ids(j)))
      if h <= 3
    } yield (ids(i), ids(j), h)).toSet
    val got = Dedup.simhashMd5Pairs(slice, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute.map { case (a, b, h) => (a, b, h) },
      s"blocked pair set != brute force (got ${got.size}, brute ${brute.size})")
  }

  test("keepBestPerCluster keeps the highest-score member, ties to lowest id") {
    import spark.implicits._
    // clusters from explicit pairs: {1,2,3} (chain), {10,11}; 20 singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.nearDupClusters(pairs)
    val rows = Seq(
      (1L, 5L), (2L, 9L), (3L, 9L), // tie on 9 -> keep id 2
      (10L, 4L), (11L, 7L),         // keep 11
      (20L, 1L)                     // singleton, always kept
    ).toDF("doc_id", "score")
    val kept = Dedup.keepBestPerCluster(rows, "doc_id", "score", labels)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 11L, 20L))
  }

  test("jaccardPairs values match direct set computation") {
    import spark.implicits._
    val small = docs.filter(col("doc_id") < 100)
    val got = Dedup.jaccardPairs(small, "doc_id", "text", 0.7)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val texts = small.select("doc_id", "text").as[(Long, String)].collect().toMap
    got.take(50).foreach { case (a, b, j) =>
      val sa = texts(a).split("\\s+").filter(_.nonEmpty).toSet
      val sb = texts(b).split("\\s+").filter(_.nonEmpty).toSet
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 1e-5, s"pair ($a,$b): $j vs $expect")
    }
  }

  test("jaccardJoinPrefix: full recall — equals brute force on the fixture, values included") {
    import org.apache.spark.sql.functions._
    def shingleSet(t: String): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty)
      if (tk.length <= 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
    val brute = (for {
      (a, sa) <- texts.toSeq; (b, sb) <- texts.toSeq if a < b
      inter = sa.intersect(sb).size; uni = sa.size + sb.size - inter
      if uni > 0 && 2 * inter >= uni
    } yield (a, b) -> (inter.toLong, uni.toLong)).toMap
    val got = Dedup.jaccardJoinPrefix(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == brute)
    assert(got.nonEmpty) // the fixture plants near-dups; vacuous pass guard
  }

  test("jaccardJoinPrefix: prefix candidates stay far below all-pairs") {
    import org.apache.spark.sql.functions._
    val sets = docs.select(col("doc_id").as("id"),
      array_distinct(graft.functions.TextFunctions.shingles(col("text"), 3))
        .as("_ss")).filter(size(col("_ss")) > 0)
    val n = sets.count()
    // prefixCandidates hands the caller a checkpointed frame — release
    // it (the scaladoc contract) so spec runs don't accumulate blocks
    val candDf = Dedup.prefixCandidates(sets, 1, 2)
    val cands =
      try candDf.count()
      finally graft.GraftSession.releaseCheckpoint(candDf)
    assert(cands < n * (n - 1) / 2 / 4,
      s"$cands candidates for $n docs — prefix filter not pruning")
  }

  test("keepBestPerCluster: the window and bounded-shuffle engines pick identical winners") {
    import org.apache.spark.sql.functions._
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", 3, 64, 16, 0.5)
    val labels = Dedup.nearDupClusters(pairs)
    val scored = docs.withColumn("q",
      graft.functions.TextFunctions.qualityScoreScaled(col("text")))
    val a = Dedup.keepBestPerCluster(scored, "doc_id", "q", labels)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Dedup.keepBestPerCluster(scored, "doc_id", "q", labels,
        boundedShuffle = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("jaccardJoinPrefix: full recall on seeded random corpora (incl. short and empty docs)") {
    import spark.implicits._
    def shingleSet(t: String): Set[String] = {
      val tk = t.split("\\s+").filter(_.nonEmpty)
      if (tk.isEmpty) Set.empty
      else if (tk.length <= 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    Seq(11L, 42L, 1234L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
      val corpus = (1L to 30L).map { id =>
        val len = rnd.nextInt(7) // 0..6 tokens: empties and shorts included
        (id, (0 until len).map(_ => vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
      }
      val texts = corpus.map { case (id, t) => id -> shingleSet(t) }.toMap
      val brute = (for {
        (a, sa) <- texts.toSeq; (b, sb) <- texts.toSeq if a < b
        inter = sa.intersect(sb).size; uni = sa.size + sb.size - inter
        if uni > 0 && 2 * inter >= uni
      } yield (a, b) -> (inter.toLong, uni.toLong)).toMap
      val got = Dedup.jaccardJoinPrefix(corpus.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(got == brute, s"seed $seed")
    }
  }

  test("jaccardJoinPrefix: token-empty documents never pair (no [\"\"]-set artifact)") {
    import spark.implicits._
    // shingles {abc,bcd,cde} vs {abc,bcd,cdf}: inter 2, uni 4, J = 1/2
    val df = Seq((1L, ""), (2L, "   "), (3L, "a b c d e"), (4L, "a b c d f"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardJoinPrefix(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == Set((3L, 4L))) // the two empty docs must NOT appear
  }

  test("jaccardJoinPrefix: boilerplate-heavy corpus keeps exact pairs (the df-cap's blind spot)") {
    import spark.implicits._
    // every doc shares the hot boilerplate run; each pair differs in a
    // unique token. A df-cap that drops hot tokens loses these pairs
    // unless the fallback fires; the prefix join must keep them all.
    val boiler = (1 to 10).map(i => s"w$i").mkString(" ")
    val df = (1L to 6L).map(i => (i, s"$boiler u$i")).toDF("doc_id", "text")
    val got = Dedup.jaccardJoinPrefix(df, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // shingle sets: 8 boilerplate shingles shared + 2 unique tail
    // shingles -> inter=8, uni=12, J=2/3 >= 1/2 for every pair
    assert(got == (for { a <- 1L to 6L; b <- 1L to 6L if a < b }
      yield (a, b)).toSet)
  }

  test("label-rewriting upsert works with partition-type inference off") {
    import graft.streaming.StreamDedup
    import spark.implicits._
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val root = java.nio.file.Files.createTempDirectory("dedup_pl").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi"
    val cfg = StreamDedup.Config(threshold = 0.5)
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val idx = new StreamDedup.Index(spark, root, "doc_id", "text", cfg,
        labels = true)
      idx.upsert(Seq((1L, base), (2L, base + " rho")).toDF("doc_id", "text"), -1L)
      // a fresh near-dup of the labeled cluster: the fold rewrites the
      // touched label directories, whose `pl` now reads as a string
      idx.upsert(Seq((3L, base + " rho sigma")).toDF("doc_id", "text"), -1L)
      assert(StreamDedup.indexLabels(spark, root).as[(Long, Long)]
        .collect().toSet == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
