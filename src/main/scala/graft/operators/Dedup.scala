package graft.operators

import graft.functions.{TextFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Document deduplication operators for large-scale corpus pipelines
  * (builder brief): exact, MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design notes (the 100 TB contract):
  *  - exact dedup is one hash-shuffle on the fingerprint — the minimum
  *    possible; no sort, no window over the full data (we aggregate
  *    min(id) instead of row_number to keep it partial-aggregatable).
  *  - near-dup NEVER does the O(n²) self-join: MinHash banding shuffles
  *    on (band, signature-slice) so only probable-duplicate pairs meet,
  *    and candidate verification runs on that reduced set.
  *  - all hashing is deterministic (murmur-mix / splitmix64 / md5) —
  *    plans replay identically, no RNG state.
  */
object Dedup {

  /** Exact dedup: one representative row (min of `idCol`) per content
    * fingerprint. Returns (fingerprint, kept id, duplicate count).
    * Partial-aggregatable: map-side combine collapses duplicates before
    * the shuffle.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_cnt"))

  /** Rows that survive exact dedup (keep-first-by-id semantics),
    * expressed as a window only over groups that actually collide.
    */
  def exactKeepFirst(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(TextFunctions.fingerprint(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** MinHash signature from a precomputed `array<long>` of shingle
    * hashes — compiled [[graft.functions.MinHashSignature64]] (one
    * O(numHashes × shingles) loop per row; the declarative
    * transform/array_min form evaluated interpreted and was ~50×
    * slower).
    */
  def minhashSignature(shingleHashes: Column, numHashes: Int): Column = {
    import org.apache.spark.sql.GraftExprBridge
    GraftExprBridge.column(graft.functions.MinHashSignature64(
      GraftExprBridge.expression(shingleHashes), numHashes))
  }

  /** Distinct shingle hashes of a text column in one compiled pass
    * ([[graft.functions.WordShingleHashes]]).
    */
  def shingleHashes(textCol: Column, shingleSize: Int): Column = {
    import org.apache.spark.sql.GraftExprBridge
    GraftExprBridge.column(graft.functions.WordShingleHashes(
      GraftExprBridge.expression(textCol), shingleSize))
  }

  /** Per-doc signature relation (id, hs, sig): distinct shingle hashes
    * plus the minhash signature, the unit every LSH-family operator
    * (batch [[minhashLsh]], streaming
    * [[graft.streaming.StreamDedup]]) computes per document. Shared so
    * batch and incremental paths agree by construction.
    */
  private[graft] def signatureRelation(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, numHashes: Int): DataFrame = {
    // Repartition before the per-row signature compute: a small input
    // (one parquet file) would otherwise pin the whole O(rows×shingles)
    // stage to a single task; at real scale the scan already has many
    // partitions and this is a cheap round-robin.
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(parallelism)
      .withColumn("hs", shingleHashes(col("text"), shingleSize))
      .filter(size(col("hs")) > 0)
      .withColumn("sig", minhashSignature(col("hs"), numHashes))
      .drop("text")
  }

  /** Band rows (id, band, bucket) of a signature relation: `bands`
    * bands of `numHashes/bands` signature positions, bucket = hash of
    * the slice. Two docs are LSH candidates iff they share a (band,
    * bucket) row.
    */
  private[graft] def bandBuckets(sig: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    sig.select(
      col("id"),
      explode(transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          slice(col("sig"), b * rows + 1, lit(rows)).as("slice")))).as("bb"))
      .select(col("id"), col("bb.band").as("band"),
        hash(col("bb.slice")).as("bucket"))
  }

  /** Exact verification of candidate pairs against per-id `sides`
    * (the (id, hs, sig) signature relation) in two tiers:
    *  1. signature-estimate prefilter: matching minhash rows /
    *     numHashes approximates Jaccard within ~1/sqrt(numHashes);
    *     cheap 64-long zip per pair kills the bulk of low-similarity
    *     candidates.
    *  2. exact Jaccard on the distinct shingle-hash sets (never the
    *     raw text — no re-tokenizing per pair) for survivors.
    * Output: (id_a, id_b, jaccard) for pairs ≥ `threshold`.
    */
  /** Candidate pairs (id_a < id_b) of a banded relation: the ids that
    * share a (band, bucket). May repeat a pair that shares several. */
  private[graft] def bandPairs(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))

  private[graft] def verifyCandidates(cand: DataFrame, sides: DataFrame,
      numHashes: Int, threshold: Double): DataFrame = {
    val slack = 2.5 / math.sqrt(numHashes.toDouble)
    cand
      .join(sides.select(col("id").as("id_a"), col("hs").as("hs_a"),
        col("sig").as("sig_a")), "id_a")
      .join(sides.select(col("id").as("id_b"), col("hs").as("hs_b"),
        col("sig").as("sig_b")), "id_b")
      .withColumn("est", {
        import org.apache.spark.sql.GraftExprBridge
        GraftExprBridge.column(graft.functions.SigEqCount(
          GraftExprBridge.expression(col("sig_a")),
          GraftExprBridge.expression(col("sig_b"))))
          .cast("double") / numHashes
      })
      .filter(col("est") >= threshold - slack)
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .withColumn("j",
        col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
  }

  /** MinHash+LSH candidate pairs: band the signature (`bands` bands of
    * `numHashes/bands` rows), shuffle once on (band, banded slice),
    * emit intra-bucket pairs, then verify with exact Jaccard over the
    * shingle-hash sets and keep pairs ≥ `threshold`.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    // The signature relation feeds FOUR plan branches (both banding
    // sides + both verification sides); persist it or Spark recomputes
    // the signature scan per branch. (id, hs, sig) is a small fraction
    // of the corpus size, so MEMORY_AND_DISK is safe at scale.
    val withSig = signatureRelation(df, idCol, textCol, shingleSize, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandPairs(bandBuckets(withSig, numHashes, bands)).distinct()
    // Materialize eagerly (localCheckpoint RDDs are context-cleaned
    // when unreferenced) so the persisted signature relation can be
    // released here instead of leaking across invocations. Note this
    // makes the call eager — the LSH job runs now, not at first action.
    // Lifecycle: the checkpoint's blocks stay pinned while the caller
    // holds the returned frame; long-lived sessions should drop the
    // reference or sweep via GraftSession.releaseCachedBlocks.
    try verifyCandidates(cand, withSig, numHashes, threshold)
      .localCheckpoint(true)
    finally withSig.unpersist(false)
  }

  /** Drop near-duplicates keep-first: remove every row that has a
    * near-dup partner with a smaller id (from [[minhashLsh]]'s (id_a <
    * id_b) pairs, dropping all id_b leaves exactly the smallest id of
    * every near-dup cluster that is a clique; for chain-shaped
    * clusters a kept row may still have a dropped partner, which is
    * the standard greedy approximation — exact clustering needs
    * connected components).
    * One anti-join against the (small) pair set.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val dupIds = minhashLsh(df, idCol, textCol, shingleSize, numHashes,
        bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-dup pair set: every id is
    * labeled with the smallest id reachable through pair edges, so a
    * chain a–b, b–c, c–d collapses to one cluster even though (a, d)
    * was never emitted as a pair. Each round: min-label propagation
    * over the EDGE set (never the corpus) followed by pointer doubling
    * (adopt my label's label), so a diameter-d chain converges in
    * O(log d) rounds, not d. Requires integral ids. Throws if
    * `maxIter` rounds don't reach the fixpoint rather than silently
    * returning a partial clustering.
    *
    * Output: (id, cluster) for every id that appears in `pairs`;
    * cluster = min id of its component.
    */
  def nearDupClusters(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The pair relation NEVER reaches the driver: earlier rounds kept a
    // collect-and-union-find fast path for small edge sets, but that
    // made the operator's memory bound O(duplicate pairs) on one node —
    // a duplicate-heavy crawl (30% dup rate at 100 TB) breaks exactly
    // the machine that can't be sized for it. The propagation rounds
    // below touch edges only through joins/aggregates, so the bound is
    // executor memory per partition, and the per-round job overhead is
    // a fixed handful of stages — noise at fixture scale, irrelevant at
    // cluster scale. (The reference's always-on match registry makes
    // the same call: no centralized state, storm/.../MatchBolt.java.)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id").cast("long"))
      .localCheckpoint(true)
    try {
      // Labels only ever decrease, so Σcluster is strictly monotone
      // until fixpoint — one aggregate per round detects convergence
      // without a self-join against the previous labels. The sum runs
      // as DECIMAL(38,0): with 64-bit hash-derived ids a LONG sum can
      // overflow (throwing under ANSI, or wrapping to a false
      // fixpoint). coalesce covers the empty-pair-set case.
      def labelSum(): java.math.BigDecimal = labels
        .agg(coalesce(sum(col("cluster").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head().getDecimal(0)
      var prevSum = labelSum()
      var converged = labels.isEmpty
      var i = 0
      while (!converged && i < maxIter) {
        // candidate label per id: min over neighbors' current labels
        val viaNeighbors = edges
          .join(labels.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(min(col("cluster")).as("nb_cluster"))
        val propagated = labels.join(viaNeighbors, Seq("id"), "left")
          .select(col("id"),
            least(col("cluster"), coalesce(col("nb_cluster"), col("cluster")))
              .as("cluster"))
        // pointer doubling: cluster ← label(cluster); every cluster
        // value is itself a labeled id, so the lookup always resolves
        val prev = labels
        labels = propagated.as("l")
          .join(propagated.select(col("id").as("_cid"),
            col("cluster").as("_cc")).as("r"),
            col("l.cluster") === col("_cid"), "left")
          .select(col("id"),
            coalesce(col("_cc"), col("cluster")).as("cluster"))
          .localCheckpoint(true)
        // the new round is materialized — the previous round's blocks
        // are dead NOW, not at the next driver GC (a deep component
        // chain would otherwise pin O(log d) label snapshots)
        graft.GraftSession.releaseCheckpoint(prev)
        val newSum = labelSum()
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
        i += 1
      }
      if (!converged) throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter rounds — raise maxIter")
      // scenario-artifact breadcrumb (no-op outside a bench scenario):
      // a slow label fold must be attributable to its round count, not
      // guessed at (r13 verdict item 1)
      graft.streaming.BatchTimer.note("dedup.cluster_rounds", i)
      labels
    } finally edges.unpersist(false)
  }

  /** Ceiling on the pair set [[clustersDeltaScoped]] will collect for
    * its driver union-find: 2²⁰ pairs ≈ 16 MB of ids — far past any
    * real micro-batch's delta, and cheap to union-find in one pass.
    * Past it the fold falls back to the distributed propagation
    * (never a failure: the bound picks the ENGINE, not the answer). */
  val defaultMaxDeltaPairs: Long = 1L << 20

  /** Min-id connected components for the PER-BATCH label folds: one
    * bounded driver union-find when the pair set fits
    * `maxPairs` (LIMIT-probed — the collect is bounded BEFORE it
    * happens), the distributed [[nearDupClusters]] propagation when
    * it doesn't. Identical output either way (cluster = min id of
    * the component — DedupSpec pins parity).
    *
    * Why this exists when [[nearDupClusters]] deliberately dropped
    * its driver fast path: the BATCH operator's input is the whole
    * corpus's pair set, whose size nothing bounds — there a driver
    * collect is a scale bug. A micro-batch FOLD's input is one
    * batch's delta edges (contracted against the existing labeling),
    * bounded by the batch itself — and the distributed propagation's
    * fixed per-round job overhead (2 joins + an aggregate + a
    * localCheckpoint, × O(log d) rounds) was the dominant per-batch
    * label cost in the r13 scenario artifact (dedup.labels p95 29 s
    * driver-side). Bounded-with-fallback keeps the at-ingest hot
    * path at one bounded collect + one LocalRelation (broadcast-able
    * into the relabel join) while pathological batches degrade to
    * the exact distributed path instead of OOMing the driver.
    */
  private[graft] def clustersDeltaScoped(pairs: DataFrame,
      maxPairs: Long = defaultMaxDeltaPairs,
      maxIter: Int = 10): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val probe = math.min(maxPairs, Int.MaxValue - 1L).toInt
    val edges = pairs.select(col("id_a").cast("long"),
        col("id_b").cast("long"))
      .limit(probe + 1).as[(Long, Long)].collect()
    if (edges.length > probe) {
      // past the bound: the delta is propagation-sized after all
      graft.streaming.BatchTimer.note("dedup.labels.fallback_distributed", 1.0)
      return nearDupClusters(pairs, maxIter)
    }
    graft.streaming.BatchTimer.note("dedup.labels.uf_pairs", edges.length)
    val uf = new MinUnionFind(edges.length * 2)
    edges.foreach { case (a, b) => uf.union(a, b) }
    val ids = new java.util.TreeSet[java.lang.Long]()
    edges.foreach { case (a, b) => ids.add(a); ids.add(b) }
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](ids.size)
    ids.forEach(id => out += ((id, uf.find(id))))
    spark.createDataset(out.toSeq).toDF("id", "cluster")
  }

  /** Union-find with the MIN element kept as each component's root, so
    * [[find]] returns the min id of the component directly (the label
    * convention every cluster operator shares); path halving keeps
    * chains shallow. Driver-side, for BOUNDED delta folds only. */
  private[graft] final class MinUnionFind(sizeHint: Int) {
    private val parent = new java.util.HashMap[Long, Long](sizeHint)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp)
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
  }

  /** EXACT incremental maintenance of near-dup cluster labels: given a
    * fixpoint labeling of an already-ingested edge set (`labels`:
    * (id, cluster), cluster = min id of the component, i.e.
    * [[nearDupClusters]] output) and the NEW pair edges of one ingest
    * batch (`deltaPairs`: (id_a, id_b)), produce the labeling
    * [[nearDupClusters]] would emit over the UNION of all edges —
    * without ever touching the historical edges again.
    *
    * Why this is exact: contracting each existing component to its
    * label is a quotient of the old graph, so components of
    * (old ∪ delta) are exactly components of the contracted delta
    * graph with each contracted node standing for its old component.
    * Because every old label IS the min id of its component, the min
    * id of a merged component equals the min over its contracted-node
    * ids — so running the same min-label propagation on the contracted
    * delta edges yields the global min-id label directly.
    *
    * Cost (the at-ingest contract): propagation runs on the DELTA
    * edges only — O(batch pairs), never O(corpus edges) — and the
    * relabel is one join of the label table against the (delta-sized,
    * broadcast-able) contracted mapping. Historical edges are never
    * stored or re-read; the label table is the only persistent state.
    */
  def incrementalClusters(labels: DataFrame, deltaPairs: DataFrame,
      maxIter: Int = 10): DataFrame = {
    val lab = labels.select(col("id"), col("cluster"))
    // contract delta endpoints through the existing labeling (identity
    // for ids the history has never seen); drop edges that land inside
    // one existing component — they cannot change any label
    val cPairs = deltaPairs
      .join(lab.withColumnRenamed("id", "id_a")
        .withColumnRenamed("cluster", "_ca"), Seq("id_a"), "left")
      .join(lab.withColumnRenamed("id", "id_b")
        .withColumnRenamed("cluster", "_cb"), Seq("id_b"), "left")
      .select(coalesce(col("_ca"), col("id_a")).as("_u"),
        coalesce(col("_cb"), col("id_b")).as("_v"))
      .filter(col("_u") =!= col("_v"))
      .select(least(col("_u"), col("_v")).as("id_a"),
        greatest(col("_u"), col("_v")).as("id_b"))
      .distinct()
    // cluster the contracted delta graph only (its node ids are old
    // component labels and never-seen delta ids) — batch-bounded, so
    // the bounded driver union-find normally handles it in one pass
    val cc = clustersDeltaScoped(cPairs, maxIter = maxIter)
    val m = cc.withColumnRenamed("cluster", "_nc")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // old ids follow their component: new label = contracted label of
      // their old cluster (unchanged when the component wasn't touched)
      val relabeled = lab
        .join(m.withColumnRenamed("id", "cluster"), Seq("cluster"), "left")
        .select(col("id"), coalesce(col("_nc"), col("cluster")).as("cluster"))
      // delta-only ids (contracted nodes that are not existing ids)
      // carry their contracted label straight through
      val fresh = m.join(lab.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("_nc").as("cluster"))
      relabeled.unionByName(fresh).localCheckpoint(true)
    } finally {
      m.unpersist(false)
      // the persist wrapper above does not cover the checkpoint blocks
      // behind nearDupClusters' returned frame — release them here or
      // every per-batch label fold pins one label snapshot until GC
      graft.GraftSession.releaseCheckpoint(cc)
    }
  }

  /** Quality-aware canonical selection: keep ONE representative per
    * near-dup cluster — the member with the highest `scoreCol` (ties
    * to the smallest id) — instead of [[dropNearDuplicatesExact]]'s
    * min-id rule. This is the curation step after clustering: of N
    * near-identical crawls, ship the best-written one.
    *
    * `labels` is [[nearDupClusters]] output (`id`, `cluster`); rows
    * absent from it are singletons and always kept. Cost: one join
    * against the label set (O(duplicates), broadcast-able) and a
    * per-cluster top-1 selection. Two selection engines, same winner
    * (the (score desc, id) order is total — DedupSpec asserts
    * parity):
    *
    *  - default `boundedShuffle = false`: a codegen'd sort window —
    *    fastest when clusters are small relative to partitions
    *    (measured: the heap path costs ~1.35× on the benign x10
    *    fixture);
    *  - `boundedShuffle = true`: the custom partial/final top-1
    *    operator ([[graft.operators.Scale.topKPerKey]]) — per-
    *    partition heaps keep ONE candidate per cluster before the
    *    exchange, so a boilerplate-giant cluster ships one row per
    *    input partition instead of its whole membership. The switch
    *    for web-scale corpora where near-dup clusters span
    *    partitions.
    */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
      labels: DataFrame, boundedShuffle: Boolean = false): DataFrame = {
    val lab = labels.select(col("id").as(idCol), col("cluster"))
    val joined = df.join(lab, Seq(idCol), "left")
      .withColumn("_cl", coalesce(col("cluster"), col(idCol)))
    if (boundedShuffle)
      Scale.topKPerKey(joined, Seq("_cl"), scoreCol, k = 1, desc = true,
          tieCols = Seq(idCol))
        .drop("_cl", "cluster")
    else {
      val w = Window.partitionBy("_cl")
        .orderBy(col(scoreCol).desc, col(idCol))
      joined.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") === 1)
        .drop("_cl", "_rk", "cluster")
    }
  }

  /** Drop near-duplicates with EXACT cluster semantics: LSH pairs →
    * connected components → keep only each component's min id. Unlike
    * the greedy [[dropNearDuplicates]], chain-shaped clusters keep
    * exactly one representative.
    */
  def dropNearDuplicatesExact(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxIter: Int = 10): DataFrame = {
    val pairs = minhashLsh(df, idCol, textCol, shingleSize, numHashes,
      bands, threshold)
    val dropIds = nearDupClusters(pairs, maxIter)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs (the brief's fifth dedup
    * modality): hyperplane-LSH blocked candidates, exact-cosine
    * verified — delegates to [[Similarity.lshPairs]] with a
    * high-similarity default. Bits per table default to the
    * corpus-sized [[Similarity.planesForCorpus]] rule (`≤ 0` = auto) —
    * a deployment calling this with defaults on a growing corpus must
    * not inherit the fixed-bits candidate blow-up the x10 probe
    * measured. Output: (id_a, id_b, cos), id_a < id_b.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nTables: Int = 6,
      planesPerTable: Int = 0): DataFrame =
    Similarity.lshPairs(df, idCol, vecCol, nTables, planesPerTable, threshold)

  /** Drop embedding-cosine near-duplicates keep-first (same greedy
    * id_b-removal semantics as [[dropNearDuplicates]]).
    */
  def dropEmbeddingNearDuplicates(df: DataFrame, idCol: String,
      vecCol: String, threshold: Double = 0.95): DataFrame = {
    val dupIds = embeddingNearDups(df, idCol, vecCol, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embeddings, compute exact pairwise
    * cosine WITHIN each cluster only, and drop keep-first (every id
    * that is the larger side of a pair at/above `threshold`, the
    * [[dropNearDuplicates]] rule). Unlike [[dropEmbeddingNearDuplicates]]
    * (hyperplane-LSH blocking — high-similarity near-dups), the
    * cluster scope catches SEMANTIC redundancy at lower thresholds
    * without an all-pairs pass.
    *
    * The clustering is [[Similarity.kmeansQuantized]] — integer-exact,
    * so an external engine replays the assignment bit-for-bit and the
    * whole operator is oracle-checkable. Cost shape is the published
    * SemDeDup one: candidates never cross clusters, so the pair join
    * shuffles on the cluster id and costs Σ cluster² ≈ n²/k — pick k
    * proportional to n (constant expected cluster size) and the pass
    * is linear in n at fixed redundancy.
    *
    * CACHING: the returned frame is LAZY and holds a MEMORY_AND_DISK
    * cache of the (id, cluster, vector, norm) relation that both
    * self-join sides read. A long-lived session that calls this
    * repeatedly must sweep between invocations —
    * [[graft.GraftSession.releaseCachedBlocks]] — or the caches
    * accumulate; one-shot jobs can ignore this (session teardown
    * releases them).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int = 2, threshold: Double = 0.9): DataFrame = {
    val assigned = Similarity.kmeansQuantized(df, idCol, vecCol, k, iterations)
      .select(col(idCol).as("id"), col("cluster"))
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
    // both self-join sides read this once (persist, like
    // mixtureBalance's input): without it each side re-scans the
    // corpus and recomputes the norms. The cache is released by
    // GraftSession.releaseCachedBlocks between queries (the plan stays
    // LAZY so callers — and the plan gates — see the full tree).
    val withVec = assigned.join(vecs, "id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val drops = withVec.as("a").join(withVec.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .withColumn("cos", when(col("a.nrm") * col("b.nrm") === 0.0, lit(0.0))
        .otherwise(VectorFunctions.dot(col("a.v"), col("b.v")) /
          (col("a.nrm") * col("b.nrm"))))
      .filter(col("cos") >= threshold)
      .select(col("b.id").as(idCol))
      .distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Near-duplicate SEARCH — the lookup face of the dedup family: all
    * corpus documents whose distinct-shingle Jaccard against ONE query
    * text reaches `threshold` ("is this new document already in the
    * corpus?"). The query's shingle hashes evaluate once driver-side
    * (the same compiled expression the corpus rows use) and ship as a
    * plan literal, so the search is a single scan-side projection +
    * filter — no join, no shuffle, no index; one pass at scan speed at
    * any corpus size. For BATCHES of queries use [[minhashLsh]] on the
    * union instead. Output: (idCol, jaccard) ≥ threshold, descending.
    */
  def similarTo(df: DataFrame, idCol: String, textCol: String,
      queryText: String, shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val qh = graft.functions.WordShingleHashes(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(queryText),
          org.apache.spark.sql.types.StringType), shingleSize)
      .eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray()
    require(qh.nonEmpty, "query text yields no shingles")
    df.select(col(idCol), shingleHashes(col(textCol), shingleSize).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("_i",
        // ONE array literal, not one Column per shingle: a large query
        // document would otherwise inflate the plan with thousands of
        // Literal children and break codegen method limits
        size(array_intersect(col("hs"), typedlit(qh.toSeq)))
          .cast("double"))
      .withColumn("_j",
        col("_i") / (size(col("hs")) + lit(qh.length) - col("_i")))
      .filter(col("_j") >= threshold)
      .select(col(idCol), round(col("_j"), 6).as("jaccard"))
      .orderBy(col("jaccard").desc, col(idCol))
  }

  /** Exact duplicated-SPAN removal (the Lee et al. 2022,
    * arXiv:2107.06499 "Deduplicating Training Data" shape, n-gram
    * anchored): every token covered by a `minSpan`-token span that
    * occurs more than once corpus-wide is removed, EXCEPT the span's
    * corpus-wide first occurrence (minimal (id, pos)). Unlike
    * document-level dedup, this removes boilerplate embedded INSIDE
    * otherwise-unique documents — headers, license blocks, templated
    * fragments.
    *
    * Mechanics: positional `minSpan`-gram keys (md5 of the joined
    * tokens — portable to any engine) → one corpus-wide aggregate for
    * (first occurrence, count) per gram → duplicate span STARTS flag
    * back onto token positions → a per-document window marks every
    * position within `minSpan` rows of a flagged start → surviving
    * tokens rejoin in order. Determinism: the first occurrence is
    * picked by the lexicographic (id, pos) total order (a struct min —
    * no width assumptions on ids or positions), so any engine
    * reproduces the output.
    *
    * Scale: the gram stream is the token stream (one row per
    * position); the aggregate is map-side-combinable on the gram key;
    * the coverage window partitions by document (bounded by document
    * length); no all-pairs anywhere. Output: (idCol, text_deduped) for
    * EVERY input document — fully-removed text becomes the empty
    * string.
    *
    * CACHING: lazy result over a MEMORY_AND_DISK cache of the
    * tokenized corpus (read by the gram and rejoin branches); sweep
    * with [[graft.GraftSession.releaseCachedBlocks]] between
    * invocations in long-lived sessions.
    */
  def dedupSpans(df: DataFrame, idCol: String, textCol: String,
      minSpan: Int = 8): DataFrame = {
    require(minSpan > 1, s"minSpan must be > 1: $minSpan")
    require(minSpan <= 1024, s"minSpan unreasonably large: $minSpan")
    val L = minSpan
    val base = df
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val toks = base.select(col("id"), posexplode(col("tk")))
      .withColumnRenamed("col", "tok")
    val grams = base.select(col("id"), posexplode(
        when(size(col("tk")) >= L,
          transform(sequence(lit(0), size(col("tk")) - L),
            i => md5(array_join(slice(col("tk"), i + lit(1), lit(L)), " "))))
          .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "g")
      .withColumn("_key", struct(col("id"), col("pos")))
    val firsts = grams.groupBy("g")
      .agg(min(col("_key")).as("_fkey"), count(lit(1)).as("_c"))
    val dupStarts = grams.join(firsts, "g")
      .filter(col("_c") > 1 && col("_key") =!= col("_fkey"))
      .select(col("id"), col("pos"), lit(1).as("_dup"))
    val w = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(-(L - 1), Window.currentRow)
    val kept = toks.join(dupStarts, Seq("id", "pos"), "left")
      .withColumn("_cov", max(coalesce(col("_dup"), lit(0))).over(w))
      .filter(col("_cov") === 0)
    val rebuilt = kept.groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("text_deduped"))
    base.select(col("id")).join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 — the MOSS scheme): hash every `k`-token gram, slide a
    * window of `w` consecutive gram hashes over each document, and
    * keep each window's MINIMUM hash (ties to the RIGHTMOST position,
    * the paper's rule). Guarantees: any shared run of `k + w − 1`
    * tokens between two documents yields at least one shared
    * fingerprint, while only ~2/(w+1) of positions are kept — the
    * local-sampling compromise between full positional grams
    * ([[dedupSpans]]' index) and one hash per document
    * ([[exact]]'s fingerprint).
    *
    * Determinism / portability: the winnow ORDER is the top 40 bits
    * of the gram's md5 packed with the negated position into one
    * BIGINT (`hash40 · 2²⁰ + (2²⁰ − 1 − pos)` — smaller packed value
    * = smaller hash, then larger pos), so a single windowed `min`
    * implements hash-asc/pos-desc argmin in any engine. Bound:
    * documents up to 2²⁰ tokens (≈ 4 MB of text; enforced), hash
    * collisions within a window only merge the argmin choice and do
    * so identically everywhere.
    *
    * Scale: one projection to positional gram hashes (the token
    * stream), one per-document window (frame of `w` rows) — no
    * corpus-wide aggregate at all; output is ~2·tokens/(w+1) rows.
    * Fingerprint equality is then a plain equi-join key for overlap
    * detection, like any inverted index.
    *
    * Output: (idCol, pos, fp) — gram start position and the 40-bit
    * fingerprint, one row per SELECTED (distinct per doc) position.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be ≥ 1: k=$k w=$w")
    val grams = df
      .select(col(idCol).as("id"), TextFunctions.tokens(col(textCol)).as("tk"))
      .select(col("id"), size(col("tk")).as("_nt"), posexplode(
        when(size(col("tk")) >= k,
          transform(sequence(lit(0), size(col("tk")) - k),
            i => md5(array_join(slice(col("tk"), i + lit(1), lit(k)), " "))))
          .otherwise(array().cast("array<string>"))))
      .withColumnRenamed("col", "g")
    val packed = grams
      .withColumn("_h40", conv(substring(col("g"), 1, 10), 16, 10)
        .cast(LongType))
      // the 2²⁰-token document bound is ENFORCED, not assumed: a gram
      // position past it would bleed into the hash field and corrupt
      // fingerprints silently — fail the job instead
      .withColumn("_pk", when(col("pos") < lit(1L << 20),
          col("_h40") * lit(1L << 20) + (lit((1L << 20) - 1) - col("pos")))
        .otherwise(raise_error(concat(
          lit("winnowFingerprints: document "), col("id").cast("string"),
          lit(" exceeds 2^20 tokens — the hash/position packing bound")))))
    // every valid window start takes its frame's min packed key; the
    // final start is n_grams − w (or 0 when the doc has fewer grams
    // than a window — the frame then truncates at the partition end,
    // degenerating to one fingerprint over all grams)
    val frame = Window.partitionBy("id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    packed
      .withColumn("_win", min(col("_pk")).over(frame))
      .filter(col("pos") <= greatest(col("_nt") - lit(k) - lit(w - 1), lit(0)))
      .select(col("id"),
        (lit((1L << 20) - 1) - pmod(col("_win"), lit(1L << 20))).as("pos"),
        // integer DIV — packed exceeds double's 2⁵³ exact range, a
        // float division would corrupt high fingerprints
        expr(s"_win DIV ${1L << 20}").as("fp"))
      .distinct()
      .withColumnRenamed("id", idCol)
  }

  /** Documents sharing at least `minShared` winnowing fingerprints —
    * content-reuse pair detection over the winnowed index: the
    * guarantee above means any pair sharing a `k + w − 1`-token run
    * meets here, at ~2/(w+1) of the positional-gram index cost. The
    * fingerprint self-join is the standard inverted-index shape
    * (fan-out bounded per fingerprint bucket, map-side-combinable
    * count).
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 2): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")).distinct()
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** All-pairs n-gram token Jaccard via token-inverted-index join —
    * the exact (non-approximate) near-dup reference path. Output:
    * (id_a, id_b, jaccard) for pairs ≥ threshold.
    *
    * Skew control: a corpus-frequent token (a stop-token with document
    * frequency f) alone contributes O(f²) rows to the index self-join —
    * the quadratic hot-key shape that kills this plan at scale.
    * `maxTokenDf > 0` drops such tokens from the CANDIDATE index only;
    * surviving pairs are verified on the full token sets, so every
    * emitted Jaccard is exact.
    *
    * The df-capped path is the DEFAULT (`maxTokenDf = 1000`; before
    * round 6 the default was the exact uncapped path): at scale the
    * uncapped index self-join is a quadratic hot-key trap that no
    * caller should fall into by accident. Pass `maxTokenDf = 0` to
    * opt in to the fully-exhaustive uncapped path (small corpora,
    * recall audits).
    *
    * RECALL CONTRACT of the capped default — read before relying on
    * it: a pair is considered if the two docs share a sub-cap token,
    * OR both docs consist entirely of hot tokens AND share the same
    * least-frequent hot token (token-set-IDENTICAL boilerplate always
    * does, so a corpus with thousands of identical copies still gets
    * its — inherently quadratic — pair set). Out of reach: all-hot
    * pairs whose token sets differ enough to pick different fallback
    * tokens, and pairs sharing only hot tokens where one side carries
    * its own sub-cap token (a unique typo on top of boilerplate).
    * Remove exact duplicates first ([[Dedup.exact]]) and that residue
    * is near-empty in practice; demand full recall anyway and the
    * uncapped path (`maxTokenDf = 0`) is the tool.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxTokenDf: Long = 1000L): DataFrame = {
    if (maxTokenDf <= 0L) {
      // the token stream feeds the self-join (both sides) and the size
      // relation — persist it so the corpus is scanned + tokenized once,
      // not four times (same lifecycle as minhashLsh's base)
      val toks = df.select(col(idCol).as("id"),
          explode(TextFunctions.tokenSet(col(textCol))).as("tok"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sizes = toks.groupBy("id").agg(count(lit(1)).as("n"))
        val inter = toks.as("a").join(toks.as("b"),
            col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
          .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
          .withColumn("j",
            col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
          .filter(col("j") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
          .localCheckpoint(true)
      } finally toks.unpersist(false)
    } else {
      val sets = df.select(col(idCol).as("id"),
          TextFunctions.tokenSet(col(textCol)).as("_ts"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val cand = jaccardCandidates(sets, maxTokenDf)
        cand
          .join(sets.select(col("id").as("id_a"), col("_ts").as("_ta")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("_ts").as("_tb")), "id_b")
          .withColumn("inter",
            size(array_intersect(col("_ta"), col("_tb"))).cast("double"))
          .withColumn("j", col("inter") /
            (size(col("_ta")) + size(col("_tb")) - col("inter")))
          .filter(col("j") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
          .localCheckpoint(true)
      } finally sets.unpersist(false)
    }
  }

  /** Exact similarity join with FULL recall by prefix filtering
    * (Chaudhuri et al. 2006 / Bayardo et al. 2007, the PPJoin family)
    * — the third point in the Jaccard design space: [[minhashLsh]] is
    * probabilistic, [[jaccardPairs]]' df-cap bounds recall on hot
    * tokens, this one is EXACT AND COMPLETE with still-bounded
    * candidates.
    *
    * Items are distinct `shingleSize`-token shingles; the global
    * canonical order is (document frequency asc, shingle asc) —
    * rare-first, so prefixes hold the most selective items. A
    * document with n items keeps the first n − ⌈t·n⌉ + 1 as its
    * prefix: any pair with J ≥ t shares ≥ ⌈t·max(na,nb)⌉ items, more
    * than fit outside either prefix, so every qualifying pair meets
    * on some prefix item under the shared order. The threshold is a
    * RATIONAL tNum/tDen and every filter is integer cross-multiplied
    * — no float touches recall.
    *
    * Output: (id_a, id_b, inter, uni) exact BIGINTs, id_a < id_b.
    *
    * Scale shape: one (df asc) rank window per document, candidates
    * from the prefix-item equi-join (hot boilerplate shingles rank
    * LAST and fall outside prefixes — the skew the df-cap fights is
    * here neutralized by ordering, not dropped), one verify join on
    * the candidate set. All joins key on items or ids, never
    * all-pairs.
    */
  def jaccardJoinPrefix(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, tNum: Int = 1, tDen: Int = 2,
      maxCandidatePairs: Long = defaultMaxCandidatePairs): DataFrame = {
    require(tNum >= 1 && tDen >= tNum,
      s"threshold must be a rational in (0, 1]: $tNum/$tDen")
    // token-empty documents are excluded BEFORE shingling: the short-
    // doc fallback would otherwise give every empty doc the [""]
    // singleton set, silently pairing all empty docs at J = 1
    val sets = df
      .filter(graft.functions.TextFunctions.tokenCount(col(textCol)) > 0)
      .select(col(idCol).as("id"),
        array_distinct(graft.functions.TextFunctions
          .shingles(col(textCol), shingleSize)).as("_ss"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = prefixCandidates(sets, tNum, tDen, maxCandidatePairs)
      try {
        cand
          .join(sets.select(col("id").as("id_a"), col("_ss").as("_sa")), "id_a")
          .join(sets.select(col("id").as("id_b"), col("_ss").as("_sb")), "id_b")
          .withColumn("inter",
            size(array_intersect(col("_sa"), col("_sb"))).cast("long"))
          .withColumn("uni",
            size(col("_sa")) + size(col("_sb")) - col("inter"))
          .filter(col("inter") * tDen >= col("uni") * tNum)
          .select(col("id_a"), col("id_b"), col("inter"),
            col("uni").cast("long").as("uni"))
          .localCheckpoint(true)
      } finally graft.GraftSession.releaseCheckpoint(cand)
    } finally sets.unpersist(false)
  }

  /** Prefix-filtered candidate pairs for [[jaccardJoinPrefix]]:
    * documents sharing an item inside BOTH prefixes under the global
    * (df asc, item) order, surviving PPJoin's two extra exact prunes —
    *
    *  - LENGTH filter: J ≥ t forces t·na ≤ nb (sizes within a t-band),
    *    as `tNum·na ≤ tDen·nb` on the ordered pair;
    *  - POSITIONAL filter: meeting at ranks (ra, rb), the overlap can
    *    reach at most 1 + min(na−ra, nb−rb); J ≥ t needs overlap
    *    ≥ t/(1+t)·(na+nb), cross-multiplied to integers.
    *
    * Neither prune can drop a qualifying pair (both bound the overlap
    * from above/below exactly); DedupSpec's brute-force equality gate
    * proves it on the fixture. Measured at sf0.1: 409k → 126k
    * candidates for 256 true pairs, 11.9 s → 4.4 s end to end.
    * Exposed for DedupSpec's completeness and candidate-bound gates.
    */
  /** Ceiling on [[jaccardJoinPrefix]]'s candidate-pair mass: an exact
    * similarity join over a near-duplicate-heavy corpus is quadratic
    * BY NATURE (every qualifying pair must be verified), so the
    * operator's documented contract — run it AFTER near-dedup — is
    * enforced, not advisory. 2²⁶ pairs ≈ minutes of verify work; a
    * healthy post-dedup corpus sits orders of magnitude below it. */
  val defaultMaxCandidatePairs: Long = 1L << 26

  /** Returns an EAGERLY `localCheckpoint(true)`'d frame — the caller
    * owns its executor blocks and must release them via
    * [[graft.GraftSession.releaseCheckpoint]] once the last consumer
    * is done (same contract as [[graft.streaming.StreamDedup]]'s
    * `upsertBatch` deltas; [[jaccardJoinPrefix]] shows the
    * try/finally shape). A caller that skips the release accumulates
    * un-collectable storage blocks per call. */
  private[graft] def prefixCandidates(sets: DataFrame, tNum: Int,
      tDen: Int,
      maxCandidatePairs: Long = defaultMaxCandidatePairs): DataFrame = {
    // _n rides along from the set size — no second window over the
    // item stream
    val items = sets.select(col("id"), size(col("_ss")).as("_n"),
      explode(col("_ss")).as("s"))
    val dfreq = items.groupBy("s").agg(count(lit(1)).as("_df"))
    val wDoc = Window.partitionBy("id").orderBy(col("_df"), col("s"))
    // prefix length n − ⌈t·n⌉ + 1 with ⌈t·n⌉ = (tNum·n + tDen − 1) div tDen
    val prefix = items.join(dfreq, "s")
      .withColumn("_rk", row_number().over(wDoc))
      .filter(col("_rk") <=
        col("_n") - expr(s"($tNum * _n + $tDen - 1) div $tDen") + 1)
      .select(col("id"), col("s"), col("_rk"), col("_n"))
      // three consumers (the mass guard and both self-join sides) —
      // persist so the dfreq aggregate + rank window run once
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // enforced candidate-mass bound (the requireBounded standard
      // applied to the quadratic hazard): Σ_s C(df_prefix(s), 2)
      // bounds the equi-join's pair count from ABOVE, computed by one
      // cheap aggregate over the prefix relation BEFORE the join
      // runs — a duplicate-heavy corpus fails as a message naming the
      // bounded twins, never as an hours-long verify stage.
      // per-group term in DOUBLE: `_c * (_c - 1)` in long arithmetic
      // wraps silently for a prefix token with df ≳ 3.04e9 — a negative
      // product would deflate the mass and let exactly the pathological
      // corpus the guard defends against PASS the bound (r14 ADVICE).
      // Double loses ulps at that magnitude but can only blur the
      // estimate, never flip its sign.
      val mass = prefix.groupBy("s").agg(count(lit(1)).as("_c"))
        .agg(coalesce(sum(col("_c").cast("double") * (col("_c") - 1) / 2),
          lit(0.0)))
        .head().getDouble(0)
      require(mass <= maxCandidatePairs.toDouble,
        f"jaccardJoinPrefix's prefix-item candidate mass is $mass%.0f pairs " +
          s"(bound: $maxCandidatePairs) — an exact similarity join over " +
          "a near-duplicate-heavy corpus is quadratic by nature. Run it " +
          "AFTER near-dedup (dropNearDuplicates / minhashLsh), use the " +
          "bounded twins (minhashLsh probabilistic, jaccardPairs " +
          "df-capped), or raise maxCandidatePairs deliberately.")
      val a = prefix.as("a"); val b = prefix.as("b")
      a.join(b,
          col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          // length filter on both orderings of the pair
          col("a._n") * tNum <= col("b._n") * tDen &&
          col("b._n") * tNum <= col("a._n") * tDen &&
          // positional filter: max reachable overlap from this meeting
          // point must still satisfy J >= tNum/tDen
          (lit(1) + least(col("a._n") - col("a._rk"),
              col("b._n") - col("b._rk"))) * (tNum + tDen)
            >= (col("a._n") + col("b._n")) * tNum)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
        // materialize before unpersist — callers may consume lazily
        .localCheckpoint(true)
    } finally prefix.unpersist(false)
  }

  /** Candidate pairs from the df-capped token inverted index: ids
    * sharing at least one token with document frequency ≤ `maxTokenDf`.
    * Exposed for DedupSpec's skew assertion (a 100%-df token must not
    * produce quadratic candidates).
    */
  private[graft] def jaccardCandidates(sets: DataFrame,
      maxTokenDf: Long): DataFrame = {
    val toks = sets.select(col("id"), explode(col("_ts")).as("tok"))
    // hot-token relation is tiny (tokens ABOVE the cap); broadcast the
    // anti-join so the prune costs no shuffle of the token stream
    val hot = toks.groupBy("tok").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxTokenDf)
    val idx = toks.join(broadcast(hot.select("tok")), Seq("tok"), "left_anti")
    // Orphan fallback: a document whose EVERY token is hot has no index
    // entry above, so a cluster of >cap boilerplate copies would lose
    // ALL its pairs. Re-index each such orphan by its least-frequent
    // hot token ((df, tok)-min — deterministic), which groups
    // token-identical boilerplate back together. The fallback group is
    // quadratic only in the orphan-cluster size — proportional to the
    // TRUE pair output, which is inherently quadratic for such
    // clusters. One map-side-combinable aggregate over the token
    // stream; docs with any sub-cap token contribute nothing here.
    val orphanIdx = toks
      .join(broadcast(hot), Seq("tok"), "left")
      .groupBy("id")
      .agg(max(when(col("_df").isNull, 1).otherwise(0)).as("_hasCold"),
        min(when(col("_df").isNotNull, struct(col("_df"), col("tok"))))
          .as("_minHot"))
      .filter(col("_hasCold") === 0 && col("_minHot").isNotNull)
      .select(col("id"), col("_minHot.tok").as("tok"))
    val full = idx.select("id", "tok").unionByName(orphanIdx)
    full.as("a").join(full.as("b"),
        col("a.tok") === col("b.tok") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** 64-bit SimHash over the token multiset — one compiled pass per
    * row ([[graft.functions.SimHash64]]): no explode, no shuffle, runs
    * at scan speed. (The declarative explode + 64-aggregate groupBy
    * formulation shuffled the full token stream and Janino-compiled a
    * 64-aggregate codegen unit per query.)
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(idCol), col(textCol))
      .repartition(parallelism)
      .select(col(idCol),
        GraftExprBridge.column(graft.functions.SimHash64(
          GraftExprBridge.expression(col(textCol)))).as("simhash"))
  }

  /** 60-bit MD5-based SimHash ([[graft.functions.SimHashMd5]]): same
    * one-pass shape as [[simhash]], but the token hash is the first 15
    * hex chars of md5 — an operation every SQL engine shares — so the
    * fingerprint value itself is oracle-checkable (the xxhash-free
    * variant trades a slower hash for end-to-end verifiability; use
    * [[simhash]] when only Spark needs to agree with itself).
    */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    df.select(col(idCol),
      GraftExprBridge.column(graft.functions.SimHashMd5(
        GraftExprBridge.expression(col(textCol)))).as("simhash60"))
  }

  /** SimHash near-dup pairs within `maxHamming` bits, blocked by
    * signature chunks: the 64-bit signature is split into
    * `maxHamming + 1` chunks, so a pair within `maxHamming` bits must
    * share at least one chunk unchanged (pigeonhole) — full recall, no
    * cross join. Chunk widths are 64/(k+1) rounded, so larger
    * `maxHamming` trades more candidate collisions for recall.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), idCol, "simhash", maxHamming)

  /** [[simhashPairs]] over the md5-token-hash fingerprint
    * ([[simhashMd5]]): same pigeonhole blocking and hamming verify, but
    * the signature is reconstructible in plain integer SQL, so the PAIR
    * SET — not just the fingerprint value — is oracle-checkable by an
    * external engine (q_dedup_simhash's hash-match gate). The pigeonhole
    * argument runs over the 64-bit representation; bits 60..63 are zero
    * for every 60-bit signature, so recall is unaffected.
    */
  def simhashMd5Pairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashMd5(df, idCol, textCol), idCol, "simhash60", maxHamming)

  /** Pigeonhole-blocked hamming pairs over any 64-bit-or-narrower
    * signature relation: one shuffle on (chunk, chunk-value), candidates
    * verified with an exact popcount — never the O(n²) cross join.
    * Output: (id_a, id_b, hamming) with id_a < id_b, hamming ≤ max.
    */
  private[graft] def hammingPairs(sigs: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64), got $maxHamming")
    val nChunks = maxHamming + 1
    val widths = Array.tabulate(nChunks)(i =>
      64 / nChunks + (if (i < 64 % nChunks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    val chunks = sigs.select(col(idCol).as("id"), col(sigCol).as("_sig"),
      explode(array((0 until nChunks).map { c =>
        val mask = if (widths(c) >= 64) -1L else (1L << widths(c)) - 1
        struct(lit(c).as("chunk"),
          shiftright(col(sigCol), offsets(c)).bitwiseAND(mask).as("v"))
      }: _*))
        .as("ck"))
    val cand = chunks.as("a").join(chunks.as("b"),
        col("a.ck.chunk") === col("b.ck.chunk") &&
        col("a.ck.v") === col("b.ck.v") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a._sig").as("sa"), col("b._sig").as("sb"))
      .distinct()
    cand.withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }
}
