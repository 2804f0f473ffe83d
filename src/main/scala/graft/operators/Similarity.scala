package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over an embedding
  * column (builder brief). Two tiers:
  *
  *  - [[topKByQuery]]: exact brute-force cosine top-k — one scan, no
  *    shuffle (TakeOrderedAndProject keeps a k-heap per partition).
  *    The correctness baseline at any scale where one pass is fine.
  *  - [[IvfIndex]]: inverted-file (IVF) coarse quantization — vectors
  *    are assigned to their nearest centroid once (one scan), queries
  *    probe only the `nprobe` nearest centroid cells. At 100 TB the
  *    assignment is the only full pass; probes touch ~nprobe/k of the
  *    data, and the partition-by-cell layout turns a probe into a
  *    partition-pruned scan.
  */
object Similarity {

  /** Hard ceiling on the corpus the compiled exact paths
    * ([[knnJoinCompiled]], [[hardNegatives]]) will collect to the
    * driver. 2²¹ rows ≈ 1.1 GB of driver heap at dim 64 doubles —
    * comfortable on any real driver, and far past the point where
    * the LSH twins win anyway. Checked BEFORE the collect so the
    * failure is a message, not an OOM. */
  val defaultMaxCorpusRows: Long = 1L << 21

  /** The bound check itself must be O(bound), not O(corpus): a
    * LIMIT(max+1) count stops scanning after max+1 rows, so the loud
    * failure on a 10B-row table costs 2²¹+1 rows, and the success
    * path's extra job is bounded too. `limit()` takes an Int, so a
    * bound at or past Int.MaxValue could not be probed and would be
    * silently unenforceable — rejected up front instead (r13 ADVICE).
    */
  private[graft] def requireCorpusBounded(
      df: org.apache.spark.sql.Dataset[_],
      maxRows: Long, op: String, scalePath: String): Unit =
    requireBounded(df, maxRows,
      s"$op collects the corpus to the driver and",
      s"For corpora past the bound use the bucketed twin ($scalePath)" +
        " — same output contract, no driver materialization — or " +
        "raise maxCorpusRows with driver memory to match.")

  /** The generic bounded-input enforcement behind
    * [[requireCorpusBounded]] (and [[graft.operators.Retrieval
    * .rrfFuse]]'s list guard): `what` names the operation and why it
    * must be bounded, `remedy` names the scale path. */
  private[graft] def requireBounded(df: org.apache.spark.sql.Dataset[_],
      maxRows: Long, what: String, remedy: String): Unit = {
    require(maxRows > 0 && maxRows < Int.MaxValue,
      s"$what: maxRows must be in (0, Int.MaxValue) — the bound is " +
        s"enforced by a LIMIT(maxRows+1) probe and limit() takes an " +
        s"Int, so $maxRows could never fail the check")
    val probe = maxRows.toInt
    require(df.limit(probe + 1).count() <= maxRows,
      s"$what is bounded at $maxRows rows (the input has more). " +
        remedy)
  }

  /** Cosine of every row's `vecCol` against a literal query vector. */
  def cosineToQuery(vecCol: Column, query: Seq[Double]): Column =
    VectorFunctions.cosine(vecCol, array(query.map(lit): _*))

  /** Exact top-k by cosine similarity to `query`.
    * Output: (idCol, cos) ordered desc with id tiebreak.
    */
  def topKByQuery(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int): DataFrame =
    df.withColumn("cos", cosineToQuery(col(vecCol), query))
      .orderBy(col("cos").desc, col(idCol))
      .select(col(idCol), round(col("cos"), 6).as("cos"))
      .limit(k)

  /** IVF index: centroids + cell-assigned vectors. */
  final case class IvfIndex(centroids: Array[(Int, Array[Double])],
      assigned: DataFrame)

  /** Build an IVF index with `nCells` centroids obtained by
    * `iterations` k-means (Lloyd) refinements over a deterministic
    * hash-based seeding (no RNG — replayable). Each iteration is one
    * scan (assign + per-cell average); coarse quantization converges
    * in a handful.
    */
  def buildIvf(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, iterations: Int = 1): IvfIndex = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    // The build makes (2 + iterations) passes over the input (seeding,
    // one per Lloyd step, final assignment) — persist it once instead
    // of re-reading the source each pass. The assignment materializes
    // eagerly so the persist can be released here; durable indexes go
    // through writeIvf (cell-partitioned parquet) instead. The
    // checkpointed `assigned` frame pins blocks until dropped —
    // GraftSession.releaseCachedBlocks sweeps them in long sessions.
    val input = df.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Deterministic seed vectors: the nCells rows with smallest
      // xxhash64(id) — spread uniformly, reproducible.
      val seeds = input
        .withColumn("_h", xxhash64(col(idCol)))
        .orderBy("_h").limit(nCells)
        .select(col(idCol), col(vecCol)).collect()
        .zipWithIndex.map { case (r, i) =>
          // element type may be float or double — match assign/VecDot
          i -> r.getSeq[Number](1).map(_.doubleValue).toArray
        }
      // iterations = 0 is honored: pure hash-seeded centroids
      val refined = (0 until iterations)
        .foldLeft(seeds)((cents, _) => lloydStep(input, vecCol, cents))
      val assigned = assign(input, vecCol, refined)
        .select(col(idCol), col(vecCol), col("cell"))
        .localCheckpoint(true)
      IvfIndex(refined, assigned)
    } finally input.unpersist(false)
  }

  /** One Lloyd iteration: assign to nearest seed, average per cell.
    * Cells that attract no points keep their previous centroid (a
    * vanished cell would silently shrink the index).
    */
  private def lloydStep(df: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Double])]): Array[(Int, Array[Double])] = {
    val dim = cents.head._2.length
    val withCell = assign(df, vecCol, cents)
    val sums = withCell
      .select(col("cell"),
        VectorFunctions.toDouble(col(vecCol)).as("v"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n"),
        array((0 until dim).map(i => sum(element_at(col("v"), i + 1))): _*)
          .as("sums"))
      .collect()
    val updated = sums.map { r =>
      val n = r.getLong(1).toDouble
      r.getInt(0) -> r.getSeq[Double](2).map(_ / n).toArray
    }.toMap
    cents.map { case (id, c) => id -> updated.getOrElse(id, c) }.sortBy(_._1)
  }

  /** Add a `cell` column: id of the nearest centroid (max cosine).
    * Centroids ship L2-normalized inside one compiled
    * [[graft.functions.NearestCellDot]] expression — argmax of dot
    * against normalized centroids equals argmax of cosine (the row's
    * own norm is a constant positive factor), so the assign runs one
    * primitive nCells × dim loop per row with no per-centroid sqrt.
    * (The previous unrolled struct-array_max Column tree also cost
    * seconds of Janino compilation on every build pass.)
    */
  def assign(df: DataFrame, vecCol: String,
      cents: Array[(Int, Array[Double])]): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    val ordered = cents.sortBy(_._1)
    val normed: Seq[Seq[Double]] = ordered.toIndexedSeq.map { case (_, c) =>
      val n = math.sqrt(c.map(x => x * x).sum)
      (if (n == 0.0) c else c.map(_ / n)).toIndexedSeq
    }
    val idx = GraftExprBridge.column(graft.functions.NearestCellDot(
      GraftExprBridge.expression(col(vecCol)), normed))
    // map argmax ordinal -> centroid id (ids are 0..n-1 in practice,
    // but the lookup keeps assign correct for any integral ids)
    val ids = array(ordered.map(c => lit(c._1)): _*)
    df.withColumn("cell", element_at(ids, idx + 1))
  }

  /** Query the IVF index: probe the `nprobe` cells whose centroids are
    * nearest the query, exact-rank inside them. Returns (id, cos).
    */
  def queryIvf(index: IvfIndex, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val probeCells = nearestCells(index.centroids, query, nprobe)
    index.assigned
      .filter(col("cell").isInCollection(probeCells))
      .withColumn("cos", cosineToQuery(col(vecCol), query))
      .orderBy(col("cos").desc, col(idCol))
      .select(col(idCol), round(col("cos"), 6).as("cos"))
      .limit(k)
  }

  /** Persist an IVF index as a cell-partitioned parquet table — the
    * 100 TB layout: a probe becomes a partition-pruned scan that never
    * touches the other cells' files.
    */
  def writeIvf(index: IvfIndex, path: String): Unit =
    index.assigned.write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Query a written IVF table: only the `nprobe` nearest cells'
    * partitions are read (verified by SimilaritySpec via the scan's
    * PartitionFilters).
    */
  def queryIvfTable(spark: SparkSession, path: String,
      centroids: Array[(Int, Array[Double])], idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nprobe: Int): DataFrame = {
    val probeCells = nearestCells(centroids, query, nprobe)
    spark.read.parquet(path)
      .filter(col("cell").isInCollection(probeCells))
      .withColumn("cos", cosineToQuery(col(vecCol), query))
      .orderBy(col("cos").desc, col(idCol))
      .select(col(idCol), round(col("cos"), 6).as("cos"))
      .limit(k)
  }

  /** The `nprobe` cell ids whose centroids are nearest the query. */
  def nearestCells(centroids: Array[(Int, Array[Double])],
      query: Seq[Double], nprobe: Int): Seq[Int] = {
    val qArr = query.toArray
    def cos(c: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < c.length) {
        dot += c(i) * qArr(i); na += c(i) * c(i); nb += qArr(i) * qArr(i)
        i += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    centroids.sortBy { case (_, c) => -cos(c) }.take(nprobe).map(_._1).toSeq
  }

  /** Deterministic quantized k-means over an embedding column — the
    * clustering face of corpus curation (topic balancing, SemDeDup-style
    * semantic grouping). Unlike float Lloyd iterations (whose centroid
    * sums depend on partition/accumulation order), every step here is
    * integer-exact and therefore bit-reproducible on any engine and any
    * cluster size:
    *
    *  - vectors quantize to `floor(x * scale)` BIGINTs (float→double
    *    is exact, one IEEE multiply + floor — same result everywhere);
    *  - seeds are the `k` rows with the smallest id (no RNG);
    *  - assignment is argmin of integer squared-L2, ties to the lowest
    *    cluster id;
    *  - centroid update is per-dimension exact floor-division
    *    (`Math.floorDiv`) of Long sums; a cluster that loses all points
    *    keeps its previous centroid.
    *
    * Scale: each iteration is one scan + one map-side-combinable
    * aggregate whose shuffle carries k×dim partial sums per partition;
    * centroids (k×dim Longs) ship back as plan literals. With 64-dim
    * vectors quantized at 2^20 the per-element square is < 2^42 and a
    * 10^12-row cluster's dimension sum stays < 2^63 — Long-safe at
    * 100 TB.
    *
    * Output: (idCol, cluster: int, dist2: bigint) — final assignment
    * and exact squared distance.
    */
  def kmeansQuantized(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, scale: Double = 1048576.0): DataFrame =
    kmeansQuantizedFit(df, idCol, vecCol, k, iterations, scale)._2

  /** [[kmeansQuantized]] exposing the fitted centroids too — the form
    * [[ivfQuantizedQuery]] needs to pick probe cells.
    */
  def kmeansQuantizedFit(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, scale: Double = 1048576.0)
      : (Array[(Int, Array[Long])], DataFrame) = {
    require(k > 0, s"k must be positive: $k")
    require(iterations >= 0, s"iterations must be >= 0: $iterations")
    val qvec = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("long"))
    val q = df.select(col(idCol), qvec.as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = lloydCentroids(q, idCol, "qv", k, iterations)
      // eager checkpoint so the persisted input can be released now
      val assigned = assignQuantized(q, "qv", cents)
        .select(col(idCol), col("cluster"), col("dist2"))
        .localCheckpoint(true)
      (cents, assigned)
    } finally q.unpersist(false)
  }

  /** The integer-exact Lloyd loop over an already-quantized column:
    * smallest-id seeds, per-cluster BIGINT component sums, floorDiv
    * centroid update. Shared by [[kmeansQuantizedFit]] and
    * [[pqTrain]] (which runs it once per subspace over ONE persisted
    * frame instead of re-persisting per fit).
    */
  private def lloydCentroids(q: DataFrame, idCol: String, qvCol: String,
      k: Int, iterations: Int): Array[(Int, Array[Long])] = {
    val seeds = q.select(col(idCol), col(qvCol))
      .orderBy(col(idCol)).limit(k).collect()
    require(seeds.nonEmpty, "kmeansQuantized: empty input")
    var cents: Array[(Int, Array[Long])] = seeds.zipWithIndex.map {
      case (r, i) => i -> r.getSeq[Long](1).toArray
    }
    val dim = cents.head._2.length
    for (_ <- 0 until iterations) {
      val sums = assignQuantized(q, qvCol, cents)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(i =>
            sum(element_at(col(qvCol), i + 1))): _*).as("sums"))
        .collect()
      val updated = sums.map { r =>
        val n = r.getLong(1)
        r.getInt(0) -> r.getSeq[Long](2).map(s => Math.floorDiv(s, n)).toArray
      }.toMap
      cents = cents.map { case (cid, c) => cid -> updated.getOrElse(cid, c) }
    }
    cents
  }

  /** IVF probe whose ENTIRE path — coarse-quantizer fit, cell
    * assignment, probe-cell choice, and candidate ranking — is
    * deterministic and SQL-replayable: the coarse quantizer is
    * [[kmeansQuantizedFit]] (integer-exact), probe cells are the
    * `nprobe` centroids nearest the quantized query by integer squared
    * L2 (ties to the lowest cell id), and ranking is exact cosine
    * rounded to 6 decimals (the established oracle-safe comparison).
    * Unlike [[buildIvf]]/[[queryIvf]] (float Lloyd — faster per pass,
    * self-consistent only), this variant's recall set can be
    * hash-checked end to end by an external engine.
    *
    * Scale: the fit is the k-means cost above; the probe reads
    * ~nprobe/k of the data once assignments are materialized
    * (cell-partitioned on disk in a persisted deployment, as writeIvf).
    */
  def ivfQuantizedQuery(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], k: Int, nCells: Int, iterations: Int,
      nprobe: Int, scale: Double = 1048576.0): DataFrame = {
    val (cents, assigned) = kmeansQuantizedFit(df, idCol, vecCol,
      nCells, iterations, scale)
    val qq = query.map(x => math.floor(x * scale).toLong).toArray
    def d2(c: Array[Long]): Long = {
      var s = 0L; var i = 0
      while (i < c.length) { val d = qq(i) - c(i); s += d * d; i += 1 }
      s
    }
    val probes = cents.map { case (cid, c) => (d2(c), cid) }
      .sortBy(identity).take(nprobe).map(_._2).toSeq
    df.join(assigned.filter(col("cluster").isInCollection(probes))
        .select(col(idCol)), Seq(idCol))
      .withColumn("cos", cosineToQuery(col(vecCol), query))
      .orderBy(col("cos").desc, col(idCol))
      .select(col(idCol), round(col("cos"), 6).as("cos"))
      .limit(k)
  }

  /** The (d2, cl) struct of `v`'s nearest literal quantized centroid:
    * one struct-array min — (dist2, cluster) lexicographic order makes
    * ties resolve to the lowest cluster id, matching `ORDER BY d2, cl`
    * in the SQL oracles. THE single source of the assignment rule:
    * [[assignQuantized]] (k-means / IVF) and [[argminCluster]]
    * ([[pqTrain]]) both read from here, so a tie-rule or overflow fix
    * can never diverge between them. `v` should reference a
    * materialized column.
    */
  private def argminStruct(v: Column,
      cents: Array[(Int, Array[Long])]): Column = {
    val structs = cents.sortBy(_._1).map { case (cid, c) =>
      struct(
        aggregate(zip_with(v, array(c.map(lit): _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, d) => acc + d)
          .as("d2"),
        lit(cid).as("cl"))
    }
    array_min(array(structs.toIndexedSeq: _*))
  }

  /** The argmin cluster id alone — [[argminStruct]]'s `cl` field. */
  private def argminCluster(v: Column,
      cents: Array[(Int, Array[Long])]): Column =
    argminStruct(v, cents).getField("cl")

  /** Argmin assignment as (cluster, dist2) columns on `df` — the
    * DataFrame face of [[argminStruct]]. */
  private def assignQuantized(df: DataFrame, qvCol: String,
      cents: Array[(Int, Array[Long])]): DataFrame =
    df.withColumn("_mn", argminStruct(col(qvCol), cents))
      .withColumn("cluster", col("_mn.cl"))
      .withColumn("dist2", col("_mn.d2"))
      .drop("_mn")

  /** Coarse-cell assignment of raw vectors under FIXED centroids —
    * the ingest-time face of the assignment step inside
    * [[kmeansQuantizedFit]] (same quantization, same integer argmin,
    * same lowest-cell tie-break), exposed so an incremental index
    * writer can place new vectors without refitting. One projection;
    * centroids ride along as plan literals. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      cents: Array[(Int, Array[Long])],
      scale: Double = 1048576.0): DataFrame = {
    val qvec = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("long"))
    assignQuantized(df.withColumn("_qv", qvec), "_qv", cents)
      .select(col(idCol), col("cluster"))
  }

  /** [[assignCells]]' assignment rule as a bare Column over an
    * ALREADY-QUANTIZED vector column (same quantization expression,
    * same integer argmin, same lowest-cell tie-break) — for callers
    * that want the cell id as one projected column beside others
    * instead of a separate (id, cluster) relation they must join
    * back. `qv` should reference a materialized column: it is
    * referenced once per centroid inside the argmin. */
  private[graft] def cellOfQuantized(qv: Column,
      cents: Array[(Int, Array[Long])]): Column =
    argminCluster(qv, cents)

  /** Bits per LSH table that hold the RANDOM-collision candidate rate
    * flat as the corpus grows: a table's buckets hold ~n/2^bits rows,
    * so each row draws ~n/2^bits chance candidates per table — bits
    * must track log₂(n) to keep that constant (the fourth-decade scale
    * probe measured the alternative: a fixed 6-bit table grew 8.6× on
    * a 10× corpus as chance collisions took over). Default allowance
    * ≈ 32 chance candidates per row per table (`log₂(n) − 5`). True
    * near-dup pairs collide via geometry, not chance, so raising bits
    * with n costs recall only on the far-from-duplicate fringe.
    */
  def planesForCorpus(n: Long, minPlanes: Int = 6,
      candidatesPerRow: Int = 32): Int = {
    require(n > 0, s"corpus size must be positive: $n")
    require(candidatesPerRow > 0,
      s"candidatesPerRow must be positive: $candidatesPerRow")
    val bits = math.ceil(
      (math.log(n.toDouble) - math.log(candidatesPerRow.toDouble)) /
        math.log(2.0)).toInt
    math.min(62, math.max(minPlanes, bits))
  }

  /** The bits-per-table [[lshPairs]] actually uses: a positive pinned
    * value wins (oracle replays need stable signatures); otherwise the
    * corpus-sized [[planesForCorpus]] default. `n` is by-name so the
    * pinned path never pays the count.
    */
  def effectivePlanes(pinned: Int, n: => Long): Int =
    if (pinned > 0) pinned else planesForCorpus(n)

  /** All-pairs near-neighbors via random-hyperplane LSH: `nTables`
    * independent hash tables of `planesPerTable` sign bits each
    * (deterministic hyperplanes — no RNG). Candidates = pairs agreeing
    * on ALL bits of at least one table (union via explode + one
    * shuffle on (table, signature)); verified with exact cosine.
    * Recall/cost tune like MinHash banding: more tables = higher
    * recall, more bits per table = fewer false candidates.
    *
    * `planesPerTable ≤ 0` (the DEFAULT) sizes bits from a corpus count
    * via [[planesForCorpus]] — fixed bits are the measured scale-killer
    * (the x10 probe saw 8.6× candidate growth on a 10× corpus at a
    * pinned 6 bits). The count reads the persisted projection every
    * downstream branch needs anyway, so auto-sizing costs no extra
    * scan. Pass a positive value to pin (deterministic replays).
    * Output: (id_a, id_b, cos) with cos ≥ threshold.
    */
  def lshPairs(df: DataFrame, idCol: String, vecCol: String,
      nTables: Int = 4, planesPerTable: Int = 0,
      threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    // One persisted scan feeds the banding branch and both verification
    // sides (same recompute hazard minhashLsh documents). The vector is
    // stored ONCE per id (not per table row), with its norm precomputed
    // so pair verification is dot(va, vb) / (na * nb) — no normalized
    // copy of the vector, no per-pair sqrt.
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val planes = effectivePlanes(planesPerTable, base.count())
    // All table signatures in one compiled expression (HyperplaneSigs),
    // evaluated once per row inside the banding projection.
    val sigsPerTable = GraftExprBridge.column(
      graft.functions.HyperplaneSigs(
        GraftExprBridge.expression(col("v")), nTables, planes))
    // Banding self-join carries only (id, table, sig) — at 100 TB this
    // shuffle is ~dim× smaller than joining the vectors directly.
    val banded = base.select(col("id"), posexplode(sigsPerTable))
      .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig")
    val cand = banded.as("a").join(banded.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val verified = cand
      .join(base.select(col("id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("cos", when(col("na") * col("nb") === 0.0, lit(0.0))
        .otherwise(VectorFunctions.dot(col("va"), col("vb")) /
          (col("na") * col("nb"))))
      .filter(col("cos") >= threshold)
    // eager materialization so the persist can be released (see
    // Dedup.minhashLsh — same lifecycle, same eagerness tradeoff;
    // blocks pinned until the caller drops the frame or sweeps via
    // GraftSession.releaseCachedBlocks)
    try verified
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .localCheckpoint(true)
    finally base.unpersist(false)
  }

  /** Exact k-nearest-neighbor join: every vector's `k` nearest
    * neighbors by cosine — the k-NN graph that semantic-dedup
    * clustering and hard-negative mining consume. Ranking happens on
    * the 6-decimal-rounded cosine with an id tiebreak, so the
    * neighbor SET is engine-stable (any SQL engine replaying the
    * arithmetic ranks identically).
    *
    * This is the VERIFICATION TWIN: inherently O(n²) pairs (one
    * broadcast-nested-loop of ids×vectors against itself), the
    * correctness baseline to hold [[knnJoinLsh]] against — run it on
    * a corpus sample, never 100 TB. The scale path is
    * [[knnJoinLsh]], whose candidate generation is the banding
    * shuffle, not all pairs.
    */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
    val a = v.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val pairs = a.join(broadcast(b), col("id_a") =!= col("id_b"))
    rankNeighbors(scoreCosine(pairs), idCol, k)
  }

  /** The compiled fast path of [[knnJoin]] for numeric ids: collect
    * the (id, vector, norm) corpus once, broadcast it, and give every
    * row one tight scan over it keeping a k-bounded selection — the
    * n² pair rows (each hauling two embedding arrays through a
    * nested-loop join) never materialize, and nothing shuffles.
    * Arithmetic is [[knnJoin]]'s bit-for-bit: the same left-to-right
    * double summation as [[graft.functions.VecDot]], HALF_UP rounding
    * to the 6-decimal grid (what `functions.round` does to a double),
    * (cos desc, id asc) ranking — SimilaritySpec asserts set equality
    * against [[knnJoin]] on the fixtures. Same sample-scale contract
    * as knnJoin's broadcast side (the corpus must fit an executor);
    * the 100 TB path remains [[knnJoinLsh]]. The contract is
    * ENFORCED, not advisory: the corpus row count is checked BEFORE
    * the driver collect (one LIMIT-bounded count job), so a caller
    * pointing this at a big table gets a loud error naming the LSH
    * twin instead of a driver OOM — the reference's own
    * bounded-memory ethos (`supervisor/filter_manager.go:323-346`
    * caps every in-memory buffer). Raise `maxCorpusRows` only with
    * driver memory to match (~(8·dim+24) bytes per row collected).
    */
  def knnJoinCompiled(df: DataFrame, idCol: String, vecCol: String,
      k: Int, maxCorpusRows: Long = defaultMaxCorpusRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    requireCorpusBounded(vecs, maxCorpusRows,
      "knnJoinCompiled", "knnJoinLsh / knnJoinMultiProbe")
    val corpus = vecs.collect()
    val norms = corpus.map { case (_, v) => math.sqrt(dotArr(v, v)) }
    val bc = spark.sparkContext.broadcast((corpus, norms))
    // the source is typically a handful of parquet files — spread the
    // O(n·m·dim) scan across every core (the rows are tiny; the work
    // is per-row)
    val spread = vecs.repartition(graft.GraftSession.defaultCores)
    spread.mapPartitions { it =>
      val (cor, nrm) = bc.value
      val m = cor.length
      val kk = math.min(k, math.max(m - 1, 0))
      val raw = new Array[Double](m) // reused per row
      it.flatMap { case (id, v) =>
        val na = math.sqrt(dotArr(v, v))
        // pass 1: raw cosines + the k-th largest raw value. Rounding
        // to the 6-decimal grid moves a value by ≤ 5e-7, so only
        // candidates with raw ≥ kthRaw − 1e-6 can place in the
        // rounded-grid top k — everything below is strictly under the
        // k-th candidate's rounded value. BigDecimal rounding then
        // touches ~k values per row, not all m.
        var j = 0
        while (j < m) {
          raw(j) =
            if (cor(j)._1 == id) -2.0 // self: below any real cosine
            else {
              val denom = na * nrm(j)
              if (denom == 0.0) 0.0 else dotArr(v, cor(j)._2) / denom
            }
          j += 1
        }
        val kth = {
          val sel = new Array[Double](kk)
          var filled = 0
          var i = 0
          while (i < m) {
            val c = raw(i)
            if (cor(i)._1 != id) {
              var pos = filled
              while (pos > 0 && sel(pos - 1) < c) pos -= 1
              if (pos < kk) {
                var q = math.min(filled, kk - 1)
                while (q > pos) { sel(q) = sel(q - 1); q -= 1 }
                sel(pos) = c
                if (filled < kk) filled += 1
              }
            }
            i += 1
          }
          if (kk == 0 || filled < kk) Double.NegativeInfinity
          else sel(filled - 1)
        }
        // pass 2: round the survivors, rank on (rounded desc, id asc)
        val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
        j = 0
        while (j < m) {
          if (cor(j)._1 != id && raw(j) >= kth - 1e-6)
            cand += ((round6(raw(j)), cor(j)._1))
          j += 1
        }
        cand.sortBy { case (c, cid) => (-c, cid) }
          .take(kk).iterator.zipWithIndex
          .map { case ((c, cid), r) => (id, cid, c, r + 1) }
      }
    }.toDF(idCol, "neighbor_id", "cos_s", "rank")
  }

  /** Left-to-right double dot — [[graft.functions.VecDot]]'s exact
    * summation order, driver/executor-side.
    */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** What `functions.round(c, 6)` does to a non-null double. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Approximate k-NN join: candidates from [[lshPairs]]-style
    * hyperplane banding (pairs sharing ANY table signature), exact
    * cosine on candidates only, top-k per source id. Recall < 1 by
    * construction (a true neighbor landing in no shared bucket is
    * missed — more tables buy recall); the exact twin [[knnJoin]]
    * measures it on samples. Cost: one banding shuffle of
    * (id, table, sig) rows — ~dim× smaller than shuffling vectors —
    * plus the candidate join; bits auto-size via [[planesForCorpus]]
    * to hold per-row candidates flat as the corpus grows.
    */
  def knnJoinLsh(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nTables: Int = 8, planesPerTable: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = effectivePlanes(planesPerTable, base.count())
      val sigsPerTable = GraftExprBridge.column(
        graft.functions.HyperplaneSigs(
          GraftExprBridge.expression(col("v")), nTables, planes))
      val banded = base.select(col("id"), posexplode(sigsPerTable))
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig")
      // directed candidates: knn is per-source, so keep both (a,b)
      // and (b,a) — unlike lshPairs' undirected id_a < id_b
      val cand = banded.as("a").join(banded.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") =!= col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val pairs = cand
        .join(base.select(col("id").as("id_a"), col("v").as("va"),
          col("nrm").as("na")), "id_a")
        .join(base.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")), "id_b")
      rankNeighbors(scoreCosine(pairs), idCol, k).localCheckpoint(true)
    } finally base.unpersist(false)
  }

  /** Multi-probe hyperplane-LSH kNN (Lv et al. 2007, "Multi-Probe
    * LSH"): each anchor probes its own bucket AND every bucket at
    * Hamming distance 1 from its signature, in every table — for
    * sign-bit LSH the most-likely miss is exactly one flipped
    * near-boundary bit, so per-table recall rises steeply and a
    * deployment reaches a target recall with FEWER tables. At 100 TB
    * that is the shuffle lever: the banding exchange carries
    * (id, table, sig) rows, so halving tables halves it, while the
    * probe expansion happens on the anchor side only (a projection,
    * planes+1 probe rows per (anchor, table) — no extra corpus
    * shuffle).
    *
    * Same verification and ranking as [[knnJoinLsh]] (its candidates
    * are a strict SUPERSET at equal configuration — spec-gated), and
    * with pinned planes the whole path replays in SQL
    * (q_knn_multiprobe).
    */
  def knnJoinLshMultiProbe(df: DataFrame, idCol: String, vecCol: String,
      k: Int, nTables: Int = 4, planesPerTable: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = effectivePlanes(planesPerTable, base.count())
      require(planes <= 62, // the auto path caps at 62; guard pinned
        s"planesPerTable must fit a signed-long signature: $planes")
      val sigsPerTable = GraftExprBridge.column(
        graft.functions.HyperplaneSigs(
          GraftExprBridge.expression(col("v")), nTables, planes))
      val banded = base.select(col("id"), posexplode(sigsPerTable))
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig")
      val flips = (0 until planes).map(b =>
        col("sig").bitwiseXOR(lit(1L << b)))
      val probes = banded.select(col("id"), col("t"),
        explode(array(col("sig") +: flips: _*)).as("sig"))
      val cand = probes.as("a").join(banded.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") =!= col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val pairs = cand
        .join(base.select(col("id").as("id_a"), col("v").as("va"),
          col("nrm").as("na")), "id_a")
        .join(base.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")), "id_b")
      rankNeighbors(scoreCosine(pairs), idCol, k).localCheckpoint(true)
    } finally base.unpersist(false)
  }

  /** Max-abs int8 quantization of an embedding column — the storage /
    * IO lever for 100 TB candidate generation: a quantized copy of the
    * corpus is 4× smaller than float32, so LSH banding, cluster
    * assignment, and first-pass ranking read a quarter of the bytes;
    * exact re-ranking then touches full precision only for the
    * candidates. Deterministic and engine-replayable: per-vector
    * `maxabs` (exact float→double), each component
    * `floor(x·127/maxabs)` (IEEE double ops in a fixed order), all-zero
    * vectors quantize to zeros.
    *
    * Output: (idCol, maxabs double, qvec array&lt;int&gt; in [-127, 127]).
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val vd = VectorFunctions.toDouble(col(vecCol))
    val maxabs = array_max(transform(vd, x => abs(x)))
    df.select(col(idCol), maxabs.as("maxabs"), vd.as("_vd"))
      .withColumn("qvec", when(col("maxabs") === 0.0,
          transform(col("_vd"), _ => lit(0)))
        .otherwise(transform(col("_vd"),
          x => floor(x * lit(127.0) / col("maxabs")).cast("int"))))
      .drop("_vd")
  }

  /** Top-k by cosine over the int8-quantized corpus: integer dot
    * products (exact — |q|≤127, dim·127² ≪ 2⁶³) ranked on the same
    * 6-decimal grid with id tiebreak. The first-pass ranking of the
    * quantize-then-rerank pipeline; recall vs the float path is gated
    * in SimilaritySpec.
    */
  def topKByQueryInt8(quantized: DataFrame, idCol: String,
      query: Seq[Double], k: Int): DataFrame = {
    val qmax = query.map(math.abs).max
    val qq =
      if (qmax == 0.0) query.map(_ => 0L)
      else query.map(x => math.floor(x * 127.0 / qmax).toLong)
    val qlit = array(qq.map(lit): _*)
    val dot = VectorFunctions.dot(col("qvec"), qlit)
    val na = sqrt(VectorFunctions.dot(col("qvec"), col("qvec")))
    val nb = math.sqrt(qq.map(x => (x * x).toDouble).sum)
    quantized
      .withColumn("cos_q", when(na * lit(nb) === 0.0, lit(0.0))
        .otherwise(dot / (na * lit(nb))))
      .orderBy(col("cos_q").desc, col(idCol))
      .select(col(idCol), round(col("cos_q"), 6).as("cos_q"))
      .limit(k)
  }

  /** Product-quantization codebooks (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): split each vector
    * into `m` equal subspaces and learn a `k`-codeword codebook per
    * subspace with the integer-exact quantized Lloyd
    * ([[kmeansQuantizedFit]] over the sliced vectors — same floor
    * grid, floorDiv centroid update, smallest-id seeds, lowest-id tie
    * rule), so the fitted codebooks are deterministic and every
    * downstream step replays in an external engine.
    *
    * PQ is the memory-compression leg of ANN at 100 TB: a 64-float
    * vector becomes m=8 code ids (one byte each at k ≤ 256) — 32×
    * smaller — and queries never read full vectors
    * ([[pqSearchAdc]]). Training cost is m small Lloyd fits over one
    * shared scan; a cluster deployment fits on a bounded sample and
    * broadcasts the ~m·k·(dim/m) long codebook everywhere.
    *
    * Returns codebooks(sub)(code) = quantized centroid (length dim/m).
    */
  def pqTrain(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iterations: Int = 2,
      scale: Double = 1048576.0): Array[Array[Array[Long]]] = {
    val dim = df.select(size(col(vecCol))).head().getInt(0)
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    // ALL m fits share one persisted sliced frame and one Spark job
    // per Lloyd round: each row explodes to m (subspace, cluster,
    // sub-vector) entries and a single (sub, cluster) aggregate
    // yields every codebook's component sums at once. m sequential
    // fits cost m·iterations driver round-trips; this costs
    // 1 + iterations — at m=8 the difference measured ~2× wall time.
    // Arithmetic is unchanged (same seeds, argmin, floorDiv), so the
    // codebooks are bit-identical to the sequential form.
    val qvec = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("long"))
    val q = df.select(col(idCol) +: (0 until m).map(s =>
        slice(qvec, s * sub + 1, sub).as(s"v$s")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seedRows = q.orderBy(col(idCol)).limit(k).collect()
      require(seedRows.nonEmpty, "pqTrain: empty input")
      var cents: Array[Array[(Int, Array[Long])]] = (0 until m).toArray
        .map { s =>
          seedRows.zipWithIndex.map { case (r, i) =>
            i -> r.getSeq[Long](s + 1).toArray }
        }
      for (_ <- 0 until iterations) {
        val subStructs = (0 until m).map { s =>
          struct(lit(s).as("sub"),
            argminCluster(col(s"v$s"), cents(s)).as("cluster"),
            col(s"v$s").as("v"))
        }
        val sums = q.select(explode(array(subStructs: _*)).as("e"))
          .select(col("e.sub").as("sub"), col("e.cluster").as("cluster"),
            col("e.v").as("v"))
          .groupBy("sub", "cluster")
          .agg(count(lit(1)).as("n"),
            array((0 until sub).map(i =>
              sum(element_at(col("v"), i + 1))): _*).as("sums"))
          .collect()
        val updated = sums.map { r =>
          (r.getInt(0), r.getInt(1)) -> ((r.getLong(2), r.getSeq[Long](3)))
        }.toMap
        cents = cents.zipWithIndex.map { case (cs, s) =>
          cs.map { case (cid, c) =>
            cid -> updated.get((s, cid)).map { case (n, ss) =>
              ss.map(x => Math.floorDiv(x, n)).toArray }.getOrElse(c)
          }
        }
      }
      cents.map(_.sortBy(_._1).map(_._2))
    } finally q.unpersist(false)
  }

  /** Encode every vector as its per-subspace nearest codeword ids:
    * one codegen'd projection against the literal codebooks (integer
    * squared-L2 argmin, ties to the lowest code — `array_min` over
    * (d2, code) structs, the [[assignQuantized]] rule). Output
    * (idCol, codes array&lt;int&gt; length m) — the compressed corpus
    * representation an ADC scan reads instead of the vectors.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Long]]],
      scale: Double = 1048576.0): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val qvec = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("long"))
    val codeCols = (0 until m).map { s =>
      val sv = slice(col("_qv"), s * sub + 1, sub)
      val structs = codebooks(s).zipWithIndex.map { case (c, code) =>
        struct(
          aggregate(zip_with(sv, array(c.map(lit): _*),
            (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)
            .as("d2"),
          lit(code).as("code"))
      }
      array_min(array(structs.toIndexedSeq: _*)).getField("code")
    }
    df.withColumn("_qv", qvec)
      .select(col(idCol), array(codeCols: _*).as("codes"))
  }

  /** The ADC distance tables: tables(sub)(code) = integer squared L2
    * between the quantized query sub-vector and that codeword. Shared
    * by [[pqSearchAdc]] and the oracle builder so both inline the
    * identical integers.
    */
  def pqDistanceTables(codebooks: Array[Array[Array[Long]]],
      query: Seq[Double], scale: Double = 1048576.0): Array[Array[Long]] = {
    val sub = codebooks(0)(0).length
    val qq = query.map(x => math.floor(x * scale).toLong).toArray
    codebooks.zipWithIndex.map { case (cb, s) =>
      cb.map { c =>
        var d = 0L; var i = 0
        while (i < sub) {
          val dd = qq(s * sub + i) - c(i); d += dd * dd; i += 1
        }
        d
      }
    }
  }

  /** Asymmetric distance computation over a PQ-encoded corpus: the
    * query's per-subspace distance table to every codeword is computed
    * ONCE on the driver (m·k integer squared-L2 values) and ships as
    * plan literals; each row's score is m table lookups summed — an
    * exact integer, so ranking (ascending, id tiebreak) replays
    * bit-for-bit in SQL. The scan reads only (id, codes): at k ≤ 256
    * that is m bytes of payload per vector, the whole point of PQ.
    */
  def pqSearchAdc(encoded: DataFrame, idCol: String,
      codebooks: Array[Array[Array[Long]]], query: Seq[Double],
      kTop: Int, scale: Double = 1048576.0): DataFrame = {
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    require(query.length == m * sub,
      s"query dim ${query.length} != m*sub ${m * sub}")
    val tables = pqDistanceTables(codebooks, query, scale)
    val score = (0 until m).map { s =>
      element_at(array(tables(s).map(lit).toIndexedSeq: _*),
        col("codes")(s) + 1)
    }.reduce(_ + _)
    encoded.select(col(idCol), score.as("adc_d2"))
      .orderBy(col("adc_d2").asc, col(idCol))
      .limit(kTop)
  }

  /** k-NN majority-vote labeling — retrieval-augmented label
    * propagation from a labeled embedding table (the weak-supervision
    * step a curation pipeline uses to extend a small labeled seed set
    * over a large corpus): each vector takes the majority label of
    * its `k` exact nearest neighbors, ties to the smallest label.
    * Composes [[knnJoinCompiled]] (self excluded) with a broadcast
    * label join + one vote aggregate; the neighbor sets and the vote
    * rule are both deterministic, so the whole operator replays in
    * SQL. Output (idCol, predicted_label, votes).
    */
  def knnLabel(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame =
    voteLabels(knnJoinCompiled(df, idCol, vecCol, k), df, idCol, labelCol)

  /** The 100 TB path of [[knnLabel]]: identical majority-vote and tie
    * rule, but neighbors come from [[knnJoinLsh]] — candidate
    * generation is the (id, table, sig) banding shuffle, NOT a corpus
    * collect+broadcast, so nothing driver-side grows with the corpus.
    * Recall < 1 by construction (a neighbor sharing no bucket is
    * missed — more tables buy recall); prediction agreement vs the
    * exact twin is gated on the fixtures in SimilaritySpec, alongside
    * a listener gate that no task ships the corpus to the driver.
    * Vectors whose LSH candidate set is empty emit no row (they have
    * no neighbors to vote). Output (idCol, predicted_label, votes).
    */
  def knnLabelLsh(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, nTables: Int = 8,
      planesPerTable: Int = 0): DataFrame =
    voteLabels(knnJoinLsh(df, idCol, vecCol, k, nTables, planesPerTable),
      df, idCol, labelCol)

  /** The shared vote: neighbor rows (idCol, neighbor_id, …) ×
    * broadcast (id → label) → per-(id, label) counts → majority with
    * ties to the smallest label. */
  private def voteLabels(nn: DataFrame, df: DataFrame, idCol: String,
      labelCol: String): DataFrame = {
    val labels = df.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("_nl"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy(col("votes").desc, col("_nl"))
    nn.join(broadcast(labels), "neighbor_id")
      .groupBy(col(idCol), col("_nl"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col(idCol), col("_nl").as("predicted_label"), col("votes"))
  }

  /** Contrastive hard-negative mining: for every anchor vector, the
    * `k` MOST similar vectors carrying a DIFFERENT label — the pairs a
    * contrastive / metric-learning objective wants as negatives
    * (similar enough to be confused, labeled apart). Ranking is per
    * anchor over the label-crossing pair set — a negative can rank
    * even when `k` same-label vectors are globally closer — so this is
    * NOT a post-filter of [[knnJoin]].
    *
    * Exact verification twin (O(n²) label-crossing pairs via one
    * broadcast nested loop — sample-scale by design, like
    * [[knnJoin]]); the corpus path is [[hardNegativesLsh]]. Rounded
    * 6-decimal cosine with an id tiebreak, so the mined set replays
    * exactly in SQL. NULL-labeled rows mine nothing and serve as no
    * one's negative (label inequality is three-valued, as in SQL).
    * Output (idCol, neighbor_id, cos_s, rank).
    *
    * This is the DataFrame REFERENCE twin (broadcast nested loop —
    * the n² pair rows materialize); [[hardNegatives]] is the compiled
    * default that must match it row-for-row (spec-asserted), and
    * [[hardNegativesLsh]] the corpus path.
    */
  def hardNegativesJoin(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"),
      col(labelCol).as("lbl"))
    val a = v.select(col("id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("lbl").as("la"))
    val b = v.select(col("id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("lbl").as("lb"))
    val pairs = a.join(broadcast(b),
        col("id_a") =!= col("id_b") && col("la") =!= col("lb"))
      .drop("la", "lb")
    rankNeighbors(scoreCosine(pairs), idCol, k)
  }

  /** The compiled fast path of [[hardNegativesJoin]] — same shape as
    * [[knnJoinCompiled]]: collect the (id, vector, norm, label)
    * corpus once, broadcast it, give every anchor one tight scan
    * keeping a k-bounded different-label selection; no n² pair rows,
    * no shuffle. Arithmetic is the join twin's bit-for-bit (VecDot
    * summation order, HALF_UP 6-decimal rounding, (cos desc, id asc)
    * ranking), labels compared by their string rendering (null = mine
    * nothing / serve no one). Sample-scale contract as knnJoinCompiled
    * (the corpus must fit an executor) and equally ENFORCED: the row
    * count is checked before the collect, so an oversized corpus
    * fails loudly naming [[hardNegativesLsh]] as the 100 TB path
    * instead of OOMing the driver.
    */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int,
      maxCorpusRows: Long = defaultMaxCorpusRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vecs = df.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"),
        col(labelCol).cast("string"))
      .as[(Long, Array[Double], String)]
    requireCorpusBounded(vecs, maxCorpusRows,
      "hardNegatives", "hardNegativesLsh")
    val corpus = vecs.collect()
    val norms = corpus.map { case (_, v, _) => math.sqrt(dotArr(v, v)) }
    val bc = spark.sparkContext.broadcast((corpus, norms))
    val spread = vecs.repartition(graft.GraftSession.defaultCores)
    spread.mapPartitions { it =>
      val (cor, nrm) = bc.value
      val m = cor.length
      val raw = new Array[Double](m) // reused per anchor
      it.flatMap { case (id, v, lbl) =>
        // k ≤ 0 and null anchors return empty like the join twin
        // (rankNeighbors' rank ≤ k filter keeps nothing)
        val kk = math.max(k, 0)
        if (lbl == null || kk == 0) Iterator.empty
        else {
          val na = math.sqrt(dotArr(v, v))
          @inline def eligible(j: Int): Boolean =
            cor(j)._1 != id && cor(j)._3 != null && cor(j)._3 != lbl
          var j = 0
          while (j < m) {
            raw(j) =
              if (!eligible(j)) -2.0 // below any real cosine
              else {
                val denom = na * nrm(j)
                if (denom == 0.0) 0.0 else dotArr(v, cor(j)._2) / denom
              }
            j += 1
          }
          // k-th largest raw among eligible (see knnJoinCompiled: the
          // 6-decimal grid moves values ≤ 5e-7, so only raw ≥ kth−1e-6
          // can place after rounding)
          val kth = {
            val sel = new Array[Double](kk)
            var filled = 0
            var i = 0
            while (i < m) {
              if (eligible(i)) {
                val c = raw(i)
                var pos = filled
                while (pos > 0 && sel(pos - 1) < c) pos -= 1
                if (pos < kk) {
                  var q = math.min(filled, kk - 1)
                  while (q > pos) { sel(q) = sel(q - 1); q -= 1 }
                  sel(pos) = c
                  if (filled < kk) filled += 1
                }
              }
              i += 1
            }
            if (filled < kk) Double.NegativeInfinity else sel(filled - 1)
          }
          val cand = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          j = 0
          while (j < m) {
            if (eligible(j) && raw(j) >= kth - 1e-6)
              cand += ((round6(raw(j)), cor(j)._1))
            j += 1
          }
          cand.sortBy { case (c, cid) => (-c, cid) }
            .take(kk).iterator.zipWithIndex
            .map { case ((c, cid), r) => (id, cid, c, r + 1) }
        }
      }
    }.toDF(idCol, "neighbor_id", "cos_s", "rank")
  }

  /** The 100 TB path of [[hardNegatives]]: candidates come from the
    * hyperplane-LSH banding shuffle (like [[knnJoinLsh]] — (id, table,
    * sig) rows, no corpus collect), label inequality filters INSIDE
    * the candidate join so same-label bucket mates never materialize
    * as pair rows, then exact cosine ranks the survivors per anchor.
    * Recall < 1 by construction (a hard negative sharing no bucket is
    * missed — more tables buy recall); agreement vs the exact twin is
    * gated on the fixtures in SimilaritySpec. Output as
    * [[hardNegatives]].
    */
  def hardNegativesLsh(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, nTables: Int = 8,
      planesPerTable: Int = 0): DataFrame = {
    import org.apache.spark.sql.GraftExprBridge
    val base = df
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        sqrt(VectorFunctions.dot(col(vecCol), col(vecCol))).as("nrm"),
        col(labelCol).as("lbl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = effectivePlanes(planesPerTable, base.count())
      val sigsPerTable = GraftExprBridge.column(
        graft.functions.HyperplaneSigs(
          GraftExprBridge.expression(col("v")), nTables, planes))
      val banded = base.select(col("id"), col("lbl"),
          posexplode(sigsPerTable))
        .withColumnRenamed("pos", "t").withColumnRenamed("col", "sig")
      val cand = banded.as("a").join(banded.as("b"),
          col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") =!= col("b.id") && col("a.lbl") =!= col("b.lbl"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .dropDuplicates("id_a", "id_b")
      val pairs = cand
        .join(base.select(col("id").as("id_a"), col("v").as("va"),
          col("nrm").as("na")), "id_a")
        .join(base.select(col("id").as("id_b"), col("v").as("vb"),
          col("nrm").as("nb")), "id_b")
      rankNeighbors(scoreCosine(pairs), idCol, k).localCheckpoint(true)
    } finally base.unpersist(false)
  }

  /** IVF-PQ search — the two ANN scale levers COMPOSED: the coarse
    * quantizer ([[kmeansQuantizedFit]], integer-exact) prunes WHICH
    * rows are read (only `nprobe` of `nCells` cell partitions), and
    * product quantization compresses WHAT each read costs (ADC over
    * m code bytes, exact integer re-rank only for the shortlist).
    * Probe cells are the `nprobe` centroids nearest the quantized
    * query by integer L2 (ties to the lowest cell id), codebooks are
    * corpus-trained — the standard IVF-PQ layout (Jégou et al. 2011
    * §V). Every stage is integer-exact, so the whole path replays in
    * SQL with centroids, codebooks and distance tables as literals.
    */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], kTop: Int, nCells: Int = 8, nprobe: Int = 2,
      iterations: Int = 2, m: Int = 8, k: Int = 16, shortlist: Int = 200,
      scale: Double = 1048576.0): DataFrame = {
    val (cents, assigned, cb) = fitCoarseAndPq(df, idCol, vecCol,
      nCells, iterations, m, k, scale)
    val probes = probeCells(cents, query, nprobe, scale)
    val probed = df.join(
      assigned.filter(col("cluster").isInCollection(probes))
        .select(col(idCol)), Seq(idCol))
    val enc = pqEncode(probed, idCol, vecCol, cb, scale)
    pqSearchRerank(enc, probed, idCol, vecCol, cb, query, kTop,
      shortlist, scale)
  }

  /** The coarse k-means fit and the PQ codebook fit, dispatched on
    * concurrent driver threads (r17, guide §2.6): the two are
    * independent driver-blocking loops over the same input — each
    * persists its OWN projection and collects its own model — so the
    * wall pays max(coarse, PQ) instead of the sum. Both fits are
    * deterministic and neither reads the other's state, so the fitted
    * models are bit-identical to the serial form; every call still
    * fits from scratch (the self-contained-fit contract of
    * q_embed_ivfpq / buildIvfPq). */
  private def fitCoarseAndPq(df: DataFrame, idCol: String,
      vecCol: String, nCells: Int, iterations: Int, m: Int, k: Int,
      scale: Double): (Array[(Int, Array[Long])], DataFrame,
        Array[Array[Array[Long]]]) = {
    val fitRef = new java.util.concurrent.atomic.AtomicReference[
      (Array[(Int, Array[Long])], DataFrame)]
    val cbRef = new java.util.concurrent.atomic.AtomicReference[
      Array[Array[Array[Long]]]]
    graft.streaming.StreamState.inParallel(
      () => fitRef.set(kmeansQuantizedFit(df, idCol, vecCol, nCells,
        iterations, scale)),
      () => cbRef.set(pqTrain(df, idCol, vecCol, m, k, iterations,
        scale)))
    val (cents, assigned) = fitRef.get
    (cents, assigned, cbRef.get)
  }

  /** The `nprobe` coarse cells nearest the quantized query (integer
    * L2, ties to the lowest cell id) — driver-side, like the distance
    * tables, so the oracle can inline the choice. */
  def probeCells(cents: Array[(Int, Array[Long])], query: Seq[Double],
      nprobe: Int, scale: Double = 1048576.0): Seq[Int] = {
    val qq = query.map(x => math.floor(x * scale).toLong).toArray
    cents.map { case (cid, c) =>
      var d = 0L; var i = 0
      while (i < c.length) { val dd = qq(i) - c(i); d += dd * dd; i += 1 }
      (d, cid)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq
  }

  /** A persisted IVF-PQ index: the cell-partitioned codes table at
    * `path` plus the small driver-side model (coarse centroids,
    * per-subspace codebooks, the quantization scale) that the table's
    * sidecar also records — everything a query needs WITHOUT refitting.
    */
  final case class IvfPqIndex(path: String,
      centroids: Array[(Int, Array[Long])],
      codebooks: Array[Array[Array[Long]]], scale: Double)

  /** Build-once half of the IVF-PQ build/query split: fit the coarse
    * quantizer ([[kmeansQuantizedFit]], integer-exact) and the PQ
    * codebooks ([[pqTrain]]) over the corpus, then write ONE parquet
    * table at `path` — (id, codes) partitioned by `cluster` — plus a
    * `_meta` sidecar (underscore-prefixed, so table reads ignore it)
    * carrying centroids/codebooks/scale. This retires the per-call
    * refit of [[ivfPqSearch]]: at 100 TB the fits and the encode scan
    * run once; every subsequent query is a partition-pruned read of
    * m code bytes per vector in the probed cells only
    * ([[queryIvfPqTable]]). Both fits are deterministic, so the table
    * content replays in SQL — the q_embed_ivfpq_table oracle re-derives
    * it from the raw vectors.
    */
  def buildIvfPq(df: DataFrame, idCol: String, vecCol: String,
      path: String, nCells: Int = 8, iterations: Int = 2, m: Int = 8,
      k: Int = 16, scale: Double = 1048576.0): IvfPqIndex = {
    val spark = df.sparkSession
    val (cents, assigned, cb) = fitCoarseAndPq(df, idCol, vecCol,
      nCells, iterations, m, k, scale)
    pqEncode(df, idCol, vecCol, cb, scale)
      .join(assigned.select(col(idCol), col("cluster")), Seq(idCol))
      .select(col(idCol), col("codes"), lit(-1L).as("batch_id"),
        col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(path)
    val idx = IvfPqIndex(path, cents.sortBy(_._1), cb, scale)
    writeIvfPqMeta(spark, idx)
    idx
  }

  /** (Re)write the `_meta` sidecar for an index model. */
  def writeIvfPqMeta(spark: SparkSession, idx: IvfPqIndex): Unit = {
    import spark.implicits._
    val centsSeq = idx.centroids.sortBy(_._1).toSeq
      .map { case (cid, c) => (cid, c.toSeq) }
    val cbSeq = idx.codebooks.toSeq.map(_.toSeq.map(_.toSeq))
    Seq((idx.scale, centsSeq, cbSeq)).toDF("scale", "cents", "codebooks")
      .coalesce(1).write.mode("overwrite").parquet(s"${idx.path}/_meta")
  }

  /** Load the `_meta` sidecar a [[buildIvfPq]] wrote — the handful of
    * longs a query process needs to pick probe cells and build ADC
    * tables without touching the corpus. */
  def readIvfPqMeta(spark: SparkSession, path: String): IvfPqIndex = {
    val r = graft.streaming.StreamState.readTable(spark, s"$path/_meta").head()
    val cents = r.getSeq[org.apache.spark.sql.Row](1)
      .map(x => x.getInt(0) -> x.getSeq[Long](1).toArray).toArray
    // nested list elements come back as mutable ArraySeq — type them
    // as collection.Seq, not immutable.Seq, or the map() call CCEs
    val cb = r.getSeq[scala.collection.Seq[scala.collection.Seq[Long]]](2)
      .map(_.map(_.toArray).toArray).toArray
    IvfPqIndex(path, cents, cb, r.getDouble(0))
  }

  /** Serve-many half of the split: probe the written table. The model
    * comes from the sidecar (no fit), probe cells are chosen
    * driver-side from the centroids, and the codes scan carries a
    * `cluster` partition filter — only the `nprobe` probed cells'
    * files are read (plan-gated in SimilaritySpec). ADC shortlists
    * over the codes; the exact integer re-rank then reads full vectors
    * from `corpus` for the shortlist rows only (broadcast semi-join —
    * the index table never stores vectors). Identical arithmetic to
    * [[ivfPqSearch]], so the two agree row-for-row on the same
    * parameters.
    */
  def queryIvfPqTable(spark: SparkSession, path: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Double], kTop: Int, nprobe: Int = 2,
      shortlist: Int = 200, excludeIds: DataFrame = null): DataFrame = {
    val idx = readIvfPqMeta(spark, path)
    val probes = probeCells(idx.centroids, query, nprobe, idx.scale)
    // an incrementally-grown table ([[graft.streaming.StreamIvfPq]])
    // may hold a retried batch's duplicate rows, or an older and a
    // newer encoding of a re-ingested id: keep the LATEST batch's row
    // per id (deterministic, unlike a bare dropDuplicates). The dedup
    // exchange carries only the probed cells' (id, m-byte codes) rows.
    // Cross-cell staleness caveat: a re-ingested vector that moved
    // cells serves from its old cell until [[graft.streaming
    // .StreamIvfPq]] compaction folds the table (which is latest-wins
    // across ALL cells).
    // `excludeIds` (one id column; StreamIvfPq's tombstone dead set)
    // is anti-joined BEFORE the shortlist so the top-k is always k
    // live results, never a post-filtered stump.
    val byId = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("batch_id").desc)
    val probed = graft.streaming.StreamState.readTable(spark, path)
      .filter(col("cluster").isInCollection(probes))
    val live =
      if (excludeIds == null) probed
      else probed.join(broadcast(excludeIds.toDF(idCol)), Seq(idCol),
        "left_anti")
    val enc = live
      .withColumn("_rk", row_number().over(byId))
      .filter(col("_rk") === 1)
      .select(col(idCol), col("codes"))
    pqSearchRerank(enc, corpus, idCol, vecCol, idx.codebooks, query,
      kTop, shortlist, idx.scale)
  }

  /** ADC shortlist → exact re-rank, the canonical PQ deployment: the
    * compressed scan ([[pqSearchAdc]]) nominates `shortlist`
    * candidates; only THOSE rows' full vectors are read and re-scored
    * by exact squared L2 on the quantized grid — an integer, so the
    * final ranking replays bit-for-bit in SQL. At 100 TB this is the
    * IO contract that matters: the corpus-wide pass touches m bytes
    * per vector, full precision only for the shortlist. Recall is the
    * shortlist's to lose (gated on clustered data in SimilaritySpec;
    * PQ distortion on unstructured vectors is the known worst case).
    */
  def pqSearchRerank(encoded: DataFrame, df: DataFrame, idCol: String,
      vecCol: String, codebooks: Array[Array[Array[Long]]],
      query: Seq[Double], kTop: Int, shortlist: Int,
      scale: Double = 1048576.0): DataFrame = {
    val short = pqSearchAdc(encoded, idCol, codebooks, query, shortlist,
        scale)
      .select(col(idCol))
    val qq = query.map(x => math.floor(x * scale).toLong)
    val qvec = transform(col(vecCol),
      x => floor(x.cast("double") * lit(scale)).cast("long"))
    df.join(broadcast(short), Seq(idCol))
      .withColumn("_qv", qvec)
      .withColumn("d2",
        aggregate(zip_with(col("_qv"), array(qq.map(lit): _*),
          (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v))
      .orderBy(col("d2").asc, col(idCol))
      .select(col(idCol), col("d2"))
      .limit(kTop)
  }

  /** Cluster-balanced subsample: fit the integer-exact quantized
    * k-means, then keep at most `perCluster` vectors per cluster by
    * the deterministic md5-order rule ([[Scale.stratifiedSample]] over
    * the LEARNED cluster label instead of a stored column) — the
    * diversity-preserving prune a curation pipeline runs so one dense
    * region of embedding space cannot dominate the kept corpus (the
    * cluster-balanced selection step of SemDeDup-style pipelines).
    * Every stage replays in SQL: the fit is [[kmeansQuantized]]'s
    * integer chain, the cap the same hash-rank rule as every sampler
    * here.
    *
    * Scale: the k-means cost plus ONE shuffle on the cluster label
    * with a rank-limit per partition — no global sort, no pairwise
    * work.
    */
  def clusterSample(df: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, perCluster: Int): DataFrame = {
    val assigned = kmeansQuantized(df, idCol, vecCol, k, iterations)
    Scale.stratifiedSample(assigned.select(col(idCol), col("cluster")),
      Seq("cluster"), idCol, perCluster)
  }

  /** cos = dot/(norm·norm) over (va, na, vb, nb) pair columns, rounded
    * to the 6-decimal grid every similarity oracle uses.
    */
  private def scoreCosine(pairs: DataFrame): DataFrame =
    pairs.withColumn("cos_s",
      round(when(col("na") * col("nb") === 0.0, lit(0.0))
        .otherwise(VectorFunctions.dot(col("va"), col("vb")) /
          (col("na") * col("nb"))), 6))

  /** Deterministic ±1 sign for random-projection cell (j, i): the top
    * bit of md5("j:i") — a hash-derived projection matrix that is
    * never stored or shipped, only re-derived (both by this plan and
    * by the oracle literals), so a 1000-executor job needs no
    * fit/broadcast step at all.
    */
  def rpSign(j: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$j:$i".getBytes("UTF-8"))
    if ((h(0) & 0x80) == 0) 1L else -1L
  }

  /** The full outDim × dim sign matrix (driver-side, tiny). */
  def rpSigns(outDim: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(outDim, dim)(rpSign)

  /** Johnson–Lindenstrauss random projection with a ±1 (Achlioptas
    * 2003) hash-derived matrix: each output coordinate is an exact
    * BIGINT dot product of the 2^20-grid quantized vector with a ±1
    * row, so the embedding compresses dim floats → outDim longs with
    * NO training, NO shuffle, and bit-exact replay in any engine.
    * Distances are preserved in expectation (E[‖Px‖²] = outDim·‖x‖²
    * before the 1/√outDim normalization, which is left to the caller
    * to keep the output integer); SimilaritySpec gates the observed
    * pairwise distortion on fixtures.
    *
    * Scale shape: one projection at scan speed — the matrix lives as
    * outDim×dim literals inside the codegen'd expression; output rows
    * are (id, j, v) longs, outDim·16 bytes a vector.
    */
  def randomProject(df: DataFrame, idCol: String, vecCol: String,
      outDim: Int, scale: Double = 1048576.0): DataFrame = {
    require(outDim >= 1 && outDim <= 256, s"outDim out of range: $outDim")
    val first = df.select(size(VectorFunctions.toDouble(col(vecCol))))
      .limit(1).collect()
    require(first.nonEmpty, "randomProject: input has no rows (the " +
      "sign matrix is sized from the data's dimension)")
    val dim = first(0).getInt(0)
    val signs = rpSigns(outDim, dim)
    val qv = transform(VectorFunctions.toDouble(col(vecCol)),
      x => floor(x * scale).cast("long"))
    val cells = array((0 until outDim).map { j =>
      val srow = array(signs(j).map(lit): _*)
      struct(lit(j).as("j"),
        aggregate(zip_with(srow, col("_qv"), (s, x) => s * x),
          lit(0L), (acc, e) => acc + e).as("v"))
    }: _*)
    df.select(col(idCol), qv.as("_qv"))
      .select(col(idCol), explode(cells).as("_c"))
      .select(col(idCol), col("_c.j").as("j"), col("_c.v").as("v"))
  }

  /** Top principal component by INTEGER-EXACT power iteration — PCA's
    * data-aware answer to [[randomProject]]'s data-oblivious one.
    * Everything replays bit-for-bit in an external engine:
    *
    *  - vectors quantize to a 2^10 grid (coarser than the ANN 2^20
    *    grid so covariance magnitudes stay exact in 128-bit oracle
    *    arithmetic);
    *  - the scatter relation S_ij = Σ qv_i·qv_j and the sums s_i are
    *    ONE combinable aggregate (each row explodes to dim² (idx,
    *    product) cells; map-side combine caps the shuffle at dim²
    *    partials per partition — vocabulary-style boundedness);
    *  - the driver builds the centered scatter C = n·S − s·sᵀ in
    *    BigInt and runs `iterations` power steps from the all-ones
    *    vector, renormalizing each step onto a 2^9 integer grid by
    *    TRUNCATING division (v'_i = sign·(|w_i|·512 div max|w|)) —
    *    deterministic, transcendental-free, and small enough state
    *    (dim² BigInts) that the "fit" is a driver formality.
    *
    * At 100 TB the fit runs on a bounded deterministic sample (the
    * PQ/k-means contract — Scale.deterministicSample) and the
    * component broadcasts as literals; the projection pass below is
    * scan-speed. Returns the component on the 2^9 grid.
    */
  def pcaPowerFit(df: DataFrame, idCol: String, vecCol: String,
      iterations: Int = 4, scale: Double = 1024.0): Array[Long] = {
    require(iterations >= 1 && iterations <= 16,
      s"iterations out of range: $iterations")
    val vd = VectorFunctions.toDouble(col(vecCol))
    val first = df.select(size(vd)).limit(1).collect()
    require(first.nonEmpty, "pcaPowerFit: input has no rows")
    val dim = first(0).getInt(0)
    val qv = transform(vd, x => floor(x * scale).cast("long"))
    // ONE pass, one combinable aggregate: the upper-triangle scatter
    // (symmetry halves the explode), the per-dim sums, and the row
    // count all ride the same (idx, value) cell relation —
    // dim(dim+1)/2 + dim + 1 cells per row
    val tri = dim * (dim + 1) / 2
    val scatterCells = flatten(transform(sequence(lit(0), lit(dim - 1)), i =>
      transform(sequence(lit(0), i), j =>
        struct(((i * (i + 1)).divide(lit(2)).cast("int") + j).as("idx"),
          (element_at(col("_qv"), i + 1) * element_at(col("_qv"), j + 1))
            .as("p")))))
    val sumCells = transform(sequence(lit(0), lit(dim - 1)), i =>
      struct((i + tri).cast("int").as("idx"),
        element_at(col("_qv"), i + 1).as("p")))
    val countCell = array(struct(lit(tri + dim).as("idx"), lit(1L).as("p")))
    val agg = df.select(qv.as("_qv"))
      .select(explode(concat(scatterCells, sumCells, countCell)).as("_c"))
      .groupBy(col("_c.idx").as("idx"))
      .agg(sum(col("_c.p")).as("s"))
      .collect().map(r => r.getInt(0) -> BigInt(r.getLong(1))).toMap
    val n = agg(tri + dim)
    val si = Array.tabulate(dim)(i => agg(tri + i))
    def sij(i: Int, j: Int): BigInt = {
      val (a, b) = if (i >= j) (i, j) else (j, i)
      agg(a * (a + 1) / 2 + b)
    }
    val c = Array.tabulate(dim, dim)((i, j) => n * sij(i, j) - si(i) * si(j))
    var v = Array.fill(dim)(BigInt(1))
    (1 to iterations).foreach { _ =>
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => c(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      require(m > 0, "pcaPowerFit: degenerate (constant) input")
      v = w.map(x => x.sign * ((x.abs * 512) / m))
    }
    v.map(_.toLong)
  }

  /** Project every vector onto a fitted component: one exact BIGINT
    * dot per row (2^10-grid vector · 2^9-grid component), scan-speed,
    * zero shuffle — the dimensionality-reduction pass a 100 TB corpus
    * actually pays for after the sample-scale fit.
    */
  def pcaProject(df: DataFrame, idCol: String, vecCol: String,
      component: Array[Long], scale: Double = 1024.0): DataFrame = {
    val qv = transform(VectorFunctions.toDouble(col(vecCol)),
      x => floor(x * scale).cast("long"))
    val comp = array(component.map(lit): _*)
    df.select(col(idCol), qv.as("_qv"))
      .select(col(idCol),
        aggregate(zip_with(comp, col("_qv"), (a, b) => a * b),
          lit(0L), (acc, e) => acc + e).as("proj"))
  }

  /** row_number over (rounded cos desc, neighbor id) per source,
    * keep rank ≤ k — a codegen'd sort window, the faster engine when
    * candidate sets per anchor are partition-local (measured on the
    * benign x10 fixture; an anchor whose LSH buckets overfill across
    * partitions would instead want
    * [[graft.operators.Scale.topKPerKey]]'s pre-exchange heaps — the
    * banding auto-sizing keeps buckets bounded precisely so this
    * window stays the right default).
    */
  private def rankNeighbors(scored: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a").orderBy(col("cos_s").desc, col("id_b"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id_a").as(idCol), col("id_b").as("neighbor_id"),
        col("cos_s"), col("rank"))
  }
}
