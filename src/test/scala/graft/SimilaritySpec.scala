package graft

import graft.operators.Similarity
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  private def ivfIdx(root: String) =
    new graft.streaming.StreamIvfPq.Index(spark, root, "vec_id", "embedding")

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")
  private lazy val query: Seq[Double] =
    emb.filter(col("vec_id") === 0).head().getSeq[Float](1).map(_.toDouble)

  test("brute-force top-k is ordered desc and matches a locally computed ranking") {
    import spark.implicits._
    val got = Similarity.topKByQuery(emb.filter(col("vec_id") > 0),
      "vec_id", "embedding", query, 10).as[(Long, Double)].collect()
    assert(got.length == 10)
    assert(got.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
    // local ground truth
    val all = emb.filter(col("vec_id") > 0)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def cos(v: Seq[Float]): Double = {
      val d = v.map(_.toDouble)
      val dot = d.zip(query).map { case (a, b) => a * b }.sum
      dot / (math.sqrt(d.map(x => x * x).sum) * math.sqrt(query.map(x => x * x).sum))
    }
    val truth = all.map { case (id, v) => (id, cos(v)) }
      .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    assert(got.map(_._1).toSeq == truth)
  }

  test("IVF probe achieves reasonable recall vs brute force") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") > 0)
    val idx = Similarity.buildIvf(base, "vec_id", "embedding", nCells = 8)
    // every vector lands in exactly one cell
    assert(idx.assigned.count() == base.count())
    val ivf = Similarity.queryIvf(idx, "vec_id", "embedding", query, k = 20, nprobe = 4)
      .as[(Long, Double)].collect().map(_._1).toSet
    val brute = Similarity.topKByQuery(base, "vec_id", "embedding", query, 20)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recall = (ivf & brute).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall@20 = $recall (random fixture vectors scatter across cells)")
    assert(ivf.size == 20)
  }

  test("written IVF table probes read only the probed cell partitions") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") > 0)
    val idx = Similarity.buildIvf(base, "vec_id", "embedding", nCells = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString + "/index"
    Similarity.writeIvf(idx, dir)
    // physically partitioned by cell
    val cells = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName)
    assert(cells.length == idx.centroids.length)
    val probed = Similarity.queryIvfTable(spark, dir, idx.centroids,
      "vec_id", "embedding", query, k = 20, nprobe = 3)
    // partition pruning reaches the scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.split("PartitionFilters")(1).take(120).contains("cell"),
      s"no partition pruning:\n$plan")
    // and results agree with the in-memory probe of the same index
    val fromTable = probed.as[(Long, Double)].collect().map(_._1).toSeq
    val inMemory = Similarity.queryIvf(idx, "vec_id", "embedding", query,
      k = 20, nprobe = 3).as[(Long, Double)].collect().map(_._1).toSeq
    assert(fromTable == inMemory)
  }

  test("LSH pairs are exact-verified: every returned pair has cos >= threshold") {
    import spark.implicits._
    val pairs = Similarity.lshPairs(emb, "vec_id", "embedding",
      nTables = 4, planesPerTable = 6, threshold = 0.25)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b, c) => a < b && c >= 0.25 })
  }

  /** Driver-side reference of the quantized k-means contract: same
    * quantization, seeding, argmin tie rule, and floorDiv update.
    */
  private def kmeansReference(vecs: Array[(Long, Array[Float])], k: Int,
      iterations: Int): Map[Long, (Int, Long)] = {
    val q = vecs.sortBy(_._1).map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1048576.0).toLong)
    }
    var cents: Array[(Int, Array[Long])] =
      q.take(k).zipWithIndex.map { case ((_, v), i) => i -> v }
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(): Map[Long, (Int, Long)] = q.map { case (id, v) =>
      val (cid, dd) = cents.map { case (c, cv) => c -> d2(v, cv) }
        .minBy { case (c, dd) => (dd, c) }
      id -> (cid, dd)
    }.toMap
    for (_ <- 0 until iterations) {
      val byCl = assign().toSeq.groupBy(_._2._1)
      val qm = q.toMap
      val members = byCl.map { case (c, xs) => c -> xs.map(x => qm(x._1)) }
      cents = cents.map { case (c, prev) =>
        members.get(c) match {
          case Some(vs) =>
            val dim = prev.length
            c -> Array.tabulate(dim)(i =>
              Math.floorDiv(vs.map(_(i)).sum, vs.size.toLong))
          case None => c -> prev
        }
      }
    }
    assign()
  }

  test("knnJoin: exact graph matches a locally computed ranking; LSH twin recalls most of it") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 100)
    val got = Similarity.knnJoin(base, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect()
    val n = base.count()
    assert(got.length == n * 3)
    // per-source ranks are 1..3 with cos descending on the rounded grid
    got.groupBy(_._1).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_._4)
      assert(byRank.map(_._4).toSeq == Seq(1, 2, 3))
      assert(byRank.map(_._3).sliding(2).forall(w => w(0) >= w(1)))
    }
    // local ground truth for one source vector
    val all = base.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val (ad, bd) = (a.map(_.toDouble), b.map(_.toDouble))
      val dot = ad.zip(bd).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val src = all.head
    val truth = all.filter(_._1 != src._1)
      .map { case (id, v) =>
        (id, BigDecimal(cos(src._2, v)).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, c) => (-c, id) }.take(3).map(_._1).toSeq
    assert(got.filter(_._1 == src._1).sortBy(_._4).map(_._2).toSeq == truth)

    // Approximate twin. This fixture is LSH's ADVERSARIAL case: its
    // vectors are near-random, so the true 5-NN sit at cos ≈ 0.32
    // (nearly orthogonal) where sign-bit collision odds per table are
    // low — measured recall here is 0.33/0.56/0.80 at 8/16/32 tables,
    // exactly the (1−θ/π)^bits curve. A real embedding corpus puts
    // near-dups at cos ≥ 0.9 where a handful of tables suffices; the
    // spec gates the hard case at 32 tables.
    val exact = Similarity.knnJoin(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val approx = Similarity.knnJoinLsh(emb, "vec_id", "embedding", k = 5,
        nTables = 32)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._2)).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.75, s"LSH knn recall $recall")
  }

  test("knnJoinCompiled: broadcast-scan fast path equals knnJoin row-for-row") {
    import spark.implicits._
    val reference = Similarity.knnJoin(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val compiled = Similarity.knnJoinCompiled(emb, "vec_id", "embedding",
        k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(compiled == reference)

    // degenerate corpora: a single vector has no neighbors (kk = 0
    // must not index sel(-1)), and k = 0 is an empty graph
    val one = emb.limit(1)
    assert(Similarity.knnJoinCompiled(one, "vec_id", "embedding", 5)
      .isEmpty)
    assert(Similarity.knnJoinCompiled(emb.limit(10), "vec_id",
      "embedding", 0).isEmpty)
  }

  test("compiled exact paths: the driver-collect bound fails LOUDLY, naming the LSH twin") {
    // the sample-scale contract is enforced BEFORE the collect: a
    // corpus past maxCorpusRows must produce a message pointing at
    // the bucketed 100 TB path, never a driver OOM. Exercised with a
    // tiny bound so the spec itself stays cheap.
    val eKnn = intercept[IllegalArgumentException] {
      Similarity.knnJoinCompiled(emb, "vec_id", "embedding", k = 5,
        maxCorpusRows = 3L)
    }
    assert(eKnn.getMessage.contains("knnJoinLsh"), eKnn.getMessage)
    assert(eKnn.getMessage.contains("knnJoinCompiled"), eKnn.getMessage)
    val eHn = intercept[IllegalArgumentException] {
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        k = 5, maxCorpusRows = 3L)
    }
    assert(eHn.getMessage.contains("hardNegativesLsh"), eHn.getMessage)
    // at or under the bound the paths run untouched
    assert(Similarity.knnJoinCompiled(emb.limit(3), "vec_id",
      "embedding", k = 2, maxCorpusRows = 3L).count() > 0)
  }

  test("int8 quantization: components bounded, zero vectors safe, top-k recall holds") {
    import spark.implicits._
    val qz = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val comps = qz.select(explode(col("qvec"))).as[Int].collect()
    // pure floor arithmetic: the ideal range is [-127, 127], with a
    // one-ulp slack on the negative max-magnitude component
    // (floor((-maxabs*127)/maxabs) can land on -128)
    assert(comps.forall(c => c >= -128 && c <= 127))
    // every vector keeps a near-full-magnitude component
    val maxPer = qz.select(array_max(transform(col("qvec"),
      c => abs(c))).as("m")).as[Int].collect()
    assert(maxPer.forall(m => m >= 126 && m <= 128))

    val zero = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val zq = Similarity.quantizeInt8(zero, "vec_id", "embedding")
      .select(explode(col("qvec"))).as[Int].collect()
    assert(zq.toSeq == Seq(0, 0, 0))

    // quantized first-pass ranking recalls most of the float top-20
    val q = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    val base = emb.filter(col("vec_id") > 0)
    val floatTop = Similarity.topKByQuery(base, "vec_id", "embedding", q, 20)
      .select("vec_id").as[Long].collect().toSet
    val int8Top = Similarity.topKByQueryInt8(
        Similarity.quantizeInt8(base, "vec_id", "embedding"),
        "vec_id", q, 20)
      .select("vec_id").as[Long].collect().toSet
    assert((floatTop & int8Top).size >= 14,
      s"int8 recall ${(floatTop & int8Top).size}/20")
  }

  test("clusterSample: per-cluster cap holds and equals kmeans+stratified composition") {
    import spark.implicits._
    val out = Similarity.clusterSample(emb, "vec_id", "embedding",
      k = 4, iterations = 2, perCluster = 10)
    val sizes = out.groupBy("cluster").count()
      .as[(Int, Long)].collect().toMap
    assert(sizes.values.forall(_ <= 10))
    // caps bind: the fixture has >10 vectors in at least one cluster
    assert(sizes.values.exists(_ == 10L))
    // deterministic on a re-run
    val again = Similarity.clusterSample(emb, "vec_id", "embedding",
      k = 4, iterations = 2, perCluster = 10)
      .select("vec_id").as[Long].collect().toSet
    assert(again == out.select("vec_id").as[Long].collect().toSet)
  }

  test("quantized k-means matches the driver-side reference bit-for-bit") {
    import spark.implicits._
    val got = Similarity.kmeansQuantized(emb, "vec_id", "embedding",
        k = 4, iterations = 2)
      .as[(Long, Int, Long)].collect()
      .map { case (id, c, d) => id -> (c, d) }.toMap
    val vecs = emb.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().map { case (id, v) => id -> v.toArray }
    val expect = kmeansReference(vecs, k = 4, iterations = 2)
    assert(got.size == expect.size)
    assert(got == expect)
    // all k clusters materialize on the fixture
    assert(got.values.map(_._1).toSet == Set(0, 1, 2, 3))
  }

  test("quantized IVF probe: ordered desc, deterministic, reasonable recall vs brute force") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") > 0)
    val got = Similarity.ivfQuantizedQuery(corpus, "vec_id", "embedding",
        query, k = 20, nCells = 8, iterations = 2, nprobe = 3)
      .as[(Long, Double)].collect()
    assert(got.length == 20)
    assert(got.map(_._2).sliding(2).forall(w => w(0) >= w(1)))
    val exact = Similarity.topKByQuery(corpus, "vec_id", "embedding",
        query, 20).as[(Long, Double)].collect().map(_._1).toSet
    val recall = got.map(_._1).count(exact) / 20.0
    assert(recall >= 0.5, s"recall $recall too low for 3/8 probed cells")
    // deterministic across partitioning
    val again = Similarity.ivfQuantizedQuery(corpus.repartition(9),
        "vec_id", "embedding", query, k = 20, nCells = 8, iterations = 2,
        nprobe = 3)
      .as[(Long, Double)].collect()
    assert(again.toSeq == got.toSeq)
  }

  test("quantized k-means is stable across input partitioning") {
    import spark.implicits._
    val a = Similarity.kmeansQuantized(emb, "vec_id", "embedding", 4, 2)
      .as[(Long, Int, Long)].collect().toSet
    val b = Similarity.kmeansQuantized(emb.repartition(11), "vec_id",
        "embedding", 4, 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(a == b)
  }

  test("planesForCorpus holds the chance-candidate rate flat across corpus decades") {
    // bits track log2(n): each 10x decade adds ~3-4 bits, so the
    // per-row chance-collision count n/2^bits stays ~candidatesPerRow
    val decades = Seq(1000L, 10000L, 100000L, 1000000L, 1000000000L)
    val bits = decades.map(n => Similarity.planesForCorpus(n))
    assert(bits == bits.sorted, s"bits must be monotone in n: $bits")
    decades.zip(bits).foreach { case (n, b) =>
      val perRow = n.toDouble / math.pow(2.0, b)
      assert(b >= 6 && perRow <= 32.0,
        s"n=$n bits=$b leaves $perRow chance candidates/row")
    }
    // floor and ceiling respected
    assert(Similarity.planesForCorpus(10) == 6)
    assert(Similarity.planesForCorpus(Long.MaxValue / 2,
      candidatesPerRow = 1) == 62)
  }

  test("lshPairs auto-sizes bits from the corpus unless pinned") {
    // the sizing decision at two corpus sizes: the 6-bit floor holds
    // small corpora, and a 5000-row corpus gets log2(5000/32) → 8 bits
    assert(Similarity.effectivePlanes(0, 500L) == 6)
    assert(Similarity.effectivePlanes(0, 5000L) == 8)
    // a pinned positive value wins, and never pays the count
    assert(Similarity.effectivePlanes(6, sys.error("count must not run")) == 6)
    // the default (no planesPerTable) IS the auto path: identical
    // output to pinning the rule's answer for this corpus
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val auto = collect(
      Similarity.lshPairs(emb, "vec_id", "embedding", threshold = 0.25))
    val pinned = collect(Similarity.lshPairs(emb, "vec_id", "embedding",
      nTables = 4, planesPerTable = Similarity.planesForCorpus(emb.count()),
      threshold = 0.25))
    assert(auto == pinned && auto.nonEmpty)
  }

  test("knnLabel: majority vote with deterministic ties on the label") {
    import spark.implicits._
    // axis vectors: vec 3 = (1,1,0,0) is equidistant from vec 1 and
    // vec 2 (cos 0.707107 each), so its k=2 vote is a 1-1 tie between
    // labels 5 and 3 — the tie must go to the SMALLER label.
    val df = Seq(
      (1L, Seq(1f, 0f, 0f, 0f), 5),
      (2L, Seq(0f, 1f, 0f, 0f), 3),
      (3L, Seq(1f, 1f, 0f, 0f), 9))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabel(df, "vec_id", "embedding", "label", k = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(got(3L) == ((3, 1L)), got.toString)
    // self is excluded: vec 1 votes over {2, 3} = labels {3, 9} → 3
    assert(got(1L) == ((3, 1L)), got.toString)
    assert(got(2L) == ((5, 1L)), got.toString)
  }

  test("PQ: ADC shortlist recalls clustered structure; rerank recovers exact order") {
    import spark.implicits._
    // 10 tight clusters in 64-dim — the structured regime PQ is built
    // for (the fixture's near-random embeddings are its known worst
    // case, which is why the oracle checks exactness and THIS test
    // checks approximation quality).
    val dim = 64
    def centerV(k: Int): Array[Double] =
      Array.tabulate(dim)(d => math.abs(math.sin(k * 37.0 + d)))
    val rows = for (k <- 0 until 10; j <- 0 until 50) yield {
      val v = centerV(k).zipWithIndex.map { case (a, d) =>
        (a + 0.02 * math.sin(j * 101.0 + d * 13.0 + k)).toFloat }
      ((k * 50 + j + 1).toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = centerV(3).map(_ + 0.01).toSeq
    val cb = Similarity.pqTrain(df, "vec_id", "embedding")
    val enc = Similarity.pqEncode(df, "vec_id", "embedding", cb)

    // exact squared-L2 ranking on the same quantized grid, locally
    val scale = 1048576.0
    val qq = q.map(x => math.floor(x * scale).toLong).toArray
    val exact = rows.map { case (id, v) =>
      val d2 = v.zipWithIndex.map { case (x, d) =>
        val dd = math.floor(x.toDouble * scale).toLong - qq(d); dd * dd
      }.sum
      (d2, id)
    }.sorted.take(10).map(_._2)

    // PQ's contract is coarse NOMINATION, not fine ordering: within a
    // tight cluster all members share codes and ADC ties them (order
    // falls to id). So the gate is on the shortlist — one cluster's
    // worth of ADC candidates must contain every exact top-10 — and
    // on the re-rank recovering the exact order from that shortlist.
    val short = Similarity.pqSearchAdc(enc, "vec_id", cb, q, 50)
      .collect().map(_.getLong(0)).toSet
    assert(exact.forall(short),
      s"ADC-50 shortlist missed exact top-10: $short vs $exact")

    val rerank = Similarity.pqSearchRerank(enc, df, "vec_id", "embedding",
      cb, q, kTop = 10, shortlist = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(rerank == exact, s"rerank $rerank != exact $exact")
  }

  test("persisted IVF-PQ: build/query split equals the per-call-fit search and prunes to probed partitions") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") > 0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString + "/index"
    val built = Similarity.buildIvfPq(corpus, "vec_id", "embedding", dir)
    // physically partitioned by cluster; _meta sidecar invisible to reads
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cluster=")).map(_.getName).toSeq
    assert(parts.nonEmpty && parts.size <= built.centroids.length)
    assert(new java.io.File(s"$dir/_meta").isDirectory)
    // the sidecar round-trips the model exactly
    val meta = Similarity.readIvfPqMeta(spark, dir)
    assert(meta.scale == built.scale)
    assert(meta.centroids.map(_._1).toSeq == built.centroids.map(_._1).toSeq)
    assert(meta.centroids.map(_._2.toSeq).toSeq ==
      built.centroids.map(_._2.toSeq).toSeq)
    assert(meta.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      built.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    // query the table: partition pruning reaches the codes scan
    val probed = Similarity.queryIvfPqTable(spark, dir, corpus,
      "vec_id", "embedding", query, kTop = 20)
    // the plan has TWO scans (codes table + corpus re-rank side); the
    // codes scan must carry the cluster IN (...) partition filter
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"no cluster partition pruning on the codes scan:\n$plan")
    // and the served answer equals the one-shot fit+search, row for row
    val fromTable = probed.as[(Long, Long)].collect().toSeq
    val oneShot = Similarity.ivfPqSearch(corpus, "vec_id", "embedding",
      query, kTop = 20).as[(Long, Long)].collect().toSeq
    assert(fromTable == oneShot,
      s"table-served $fromTable != per-call-fit $oneShot")
  }

  test("incremental IVF-PQ: appends under the frozen model equal a DataFrame-side encode of the union") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") > 0)
    val maxId = corpus.agg(max("vec_id")).head().getLong(0)
    val mid = maxId / 2
    val base = corpus.filter(col("vec_id") <= mid)
    val rest = corpus.filter(col("vec_id") > mid)
    val dir = java.nio.file.Files.createTempDirectory("ivfpqincr").toString + "/index"
    val built = Similarity.buildIvfPq(base, "vec_id", "embedding", dir)
    // stream the upper half in: two batches, one redelivered
    val b1 = rest.filter(col("vec_id") % 2 === 0)
    val b2 = rest.filter(col("vec_id") % 2 === 1)
    ivfIdx(dir).upsert(b1, 0L)
    ivfIdx(dir).upsert(b1, 0L)
    ivfIdx(dir).upsert(b2, 1L)
    // independent reference: encode the FULL corpus DataFrame-side
    // under the same frozen model and rank identically
    val probes = Similarity.probeCells(built.centroids, query, 2, built.scale)
    val cells = Similarity.assignCells(corpus, "vec_id", "embedding",
      built.centroids, built.scale)
    val refEnc = Similarity.pqEncode(corpus, "vec_id", "embedding",
      built.codebooks, built.scale)
      .join(cells.filter(col("cluster").isInCollection(probes))
        .select("vec_id"), Seq("vec_id"))
    val want = Similarity.pqSearchRerank(refEnc, corpus, "vec_id",
      "embedding", built.codebooks, query, kTop = 20, shortlist = 200,
      built.scale).as[(Long, Long)].collect().toSeq
    val got = Similarity.queryIvfPqTable(spark, dir, corpus,
      "vec_id", "embedding", query, kTop = 20).as[(Long, Long)].collect().toSeq
    assert(got == want, s"incremental table $got != frozen-model reference $want")
    // the redelivered batch duplicated rows on disk; compaction folds
    // them to one row per id and preserves the answer + the sidecar
    val preFiles = spark.read.parquet(dir).count()
    graft.streaming.Maintenance.run(spark,
      java.nio.file.Files.createTempDirectory("mroot2").toString,
      indexes = Seq(ivfIdx(dir)))
    val postRows = spark.read.parquet(dir).count()
    assert(postRows == corpus.count() && postRows < preFiles)
    val meta2 = Similarity.readIvfPqMeta(spark, dir)
    assert(meta2.centroids.map(_._2.toSeq).toSeq ==
      built.centroids.map(_._2.toSeq).toSeq)
    val after = Similarity.queryIvfPqTable(spark, dir, corpus,
      "vec_id", "embedding", query, kTop = 20).as[(Long, Long)].collect().toSeq
    assert(after == want)
    // per-cell fill stats read codes only and cover every written cell
    val stats = graft.streaming.StreamIvfPq.cellStats(spark, dir)
    assert(stats.agg(sum("rows")).head().getLong(0) == corpus.count())
    // re-ingestion is LATEST-WINS: replace the current best neighbor's
    // vector with the query vector itself in a newer batch — after
    // compaction (latest-wins across all cells) it must rank FIRST
    // with distance 0
    val bestId = want.head._1
    val qf = emb.filter(col("vec_id") === 0).head().getSeq[Float](1)
    val replacement = emb.filter(col("vec_id") === 0)
      .select(lit(bestId).as("vec_id"), col("embedding"))
    ivfIdx(dir).upsert(replacement, 2L)
    ivfIdx(dir).compact()
    val updatedCorpus = corpus.withColumn("embedding",
      when(col("vec_id") === bestId, array(qf.map(lit): _*))
        .otherwise(col("embedding")))
    val re = Similarity.queryIvfPqTable(spark, dir, updatedCorpus,
      "vec_id", "embedding", query, kTop = 1).as[(Long, Long)].collect()
    assert(re.headOption.contains((bestId, 0L)),
      s"latest-wins re-ingestion did not serve the new encoding: ${re.toSeq}")
  }

  test("knnLabelLsh: agrees with the exact twin on the fixtures and never collects the corpus") {
    import spark.implicits._
    // listener gate (the nearDupClusters pattern): candidate generation
    // is the banding shuffle — no single task may ship a corpus-sized
    // result to the driver (knnJoinCompiled's collect would).
    val maxTaskResult = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          maxTaskResult.accumulateAndGet(t.taskMetrics.resultSize, Math.max)
    }
    spark.sparkContext.addSparkListener(listener)
    val lsh =
      try {
        // 32 tables: the knnJoin spec's gate for this ADVERSARIAL
        // fixture (near-random vectors, true neighbors at cos ≈ 0.32
        // — neighbor recall 0.33/0.56/0.80 at 8/16/32 tables); the
        // majority vote then smooths most residual neighbor misses
        val got = Similarity.knnLabelLsh(emb, "vec_id", "embedding",
            "label", k = 5, nTables = 32)
          .as[(Long, Long, Long)].collect()
          .map(r => r._1 -> r._2).toMap
        var prev = -1L
        var spins = 0
        while (maxTaskResult.get() != prev && spins < 30) {
          prev = maxTaskResult.get(); Thread.sleep(100); spins += 1
        }
        got
      } finally spark.sparkContext.removeSparkListener(listener)
    val mb = maxTaskResult.get() / 1048576.0
    assert(mb < 1.0,
      f"a single task shipped $mb%.2f MB to the driver — " +
        "something is collecting the corpus")
    // prediction agreement vs the exact twin: LSH recall < 1 by
    // construction, but with 8 auto-sized tables most vectors' vote
    // should land on the exact majority label
    val exact = Similarity.knnLabel(emb, "vec_id", "embedding", "label",
        k = 5)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(lsh.nonEmpty)
    val common = lsh.keySet & exact.keySet
    assert(common.size >= (exact.size * 0.8).toInt,
      s"LSH labeled only ${lsh.size} of ${exact.size} vectors")
    // 0.6 on THIS fixture: near-random vectors put true neighbors at
    // cos ≈ 0.32 where 32-table neighbor recall is ~0.80 (the knnJoin
    // spec's documented curve); the vote inherits that. The clustered
    // gate below is the regime the operator is FOR.
    val agree = common.count(id => lsh(id) == exact(id)).toDouble / common.size
    assert(agree >= 0.6,
      f"LSH labels agree with exact twin on only ${agree * 100}%.1f%% of vectors")
  }

  test("knnLabelLsh: recovers cluster labels on structured embeddings") {
    import spark.implicits._
    // 10 tight clusters, label = cluster id — the weak-supervision
    // regime the operator exists for (real embedding corpora put
    // same-label points at cos ≥ 0.9, where a few tables suffice).
    // Every vector's 5-NN are in-cluster, so the exact twin labels
    // everything with its own cluster; the LSH path must match on
    // nearly all of the corpus at 8 tables.
    val dim = 64
    def centerV(k: Int): Array[Double] =
      Array.tabulate(dim)(d => math.abs(math.sin(k * 37.0 + d)))
    val rows = for (k <- 0 until 10; j <- 0 until 50) yield {
      val v = centerV(k).zipWithIndex.map { case (a, d) =>
        (a + 0.02 * math.sin(j * 101.0 + d * 13.0 + k)).toFloat }
      ((k * 50 + j + 1).toLong, v.toSeq, k.toLong)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.knnLabelLsh(df, "vec_id", "embedding", "label",
        k = 5, nTables = 8)
      .as[(Long, Long, Long)].collect()
    val correct = got.count { case (id, pred, _) =>
      pred == (id - 1) / 50 }
    assert(got.length >= 490, s"labeled only ${got.length} of 500")
    assert(correct >= (got.length * 0.95).toInt,
      s"cluster-label recovery $correct/${got.length}")
  }

  test("hardNegatives: ranked label-crossing set, not a post-filter of global kNN") {
    import spark.implicits._
    // 1–2 share label A and sit close; 3 (label B) is near them; 4
    // (label B) is far. Anchor 1's top global neighbor is 2 (same
    // label) — hard negatives must SKIP it and still return k=2 rows
    // (3 then 4), which a filter-after-topk(k) would miss.
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), 0L),
      (2L, Seq(0.99f, 0.14f, 0.0f), 0L),
      (3L, Seq(0.9f, 0.43f, 0.0f), 1L),
      (4L, Seq(0.0f, 0.0f, 1.0f), 1L)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(df, "vec_id", "embedding",
        "label", k = 2)
      .select("vec_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // anchor 3: cos(3,2) > cos(3,1) → 2 ranks first; anchor 4: both
    // negatives are orthogonal (cos 0.0) → id tiebreak
    assert(got == Set((1L, 3L, 1), (1L, 4L, 2), (2L, 3L, 1), (2L, 4L, 2),
      (3L, 2L, 1), (3L, 1L, 2), (4L, 1L, 1), (4L, 2L, 2)))
  }

  test("hardNegatives on fixtures: negatives never share the anchor's label, counts are full") {
    import spark.implicits._
    val labels = emb.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    val got = Similarity.hardNegatives(emb, "vec_id", "embedding",
        "label", k = 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.forall { case (a, b) => labels(a) != labels(b) })
    // every label has < 450 members here, so every anchor has ≥ 5
    // different-label candidates → exactly 5 rows each
    val perAnchor = got.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.size == labels.size)
    assert(perAnchor.values.forall(_ == 5))
  }

  test("hardNegatives: k = 0 yields empty on both paths (no negative-index crash)") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0f, 0.0f), 0L), (2L, Seq(0.0f, 1.0f), 1L))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.hardNegatives(df, "vec_id", "embedding", "label",
      k = 0).isEmpty)
    assert(Similarity.hardNegativesJoin(df, "vec_id", "embedding",
      "label", k = 0).isEmpty)
  }

  test("hardNegatives compiled path is row-identical to the DataFrame join twin") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSet
    val compiled = rows(Similarity.hardNegatives(emb, "vec_id",
      "embedding", "label", k = 5))
    val joined = rows(Similarity.hardNegativesJoin(emb, "vec_id",
      "embedding", "label", k = 5))
    assert(compiled == joined)
  }

  test("hardNegativesLsh mines the confusable frontier on clustered embeddings") {
    import spark.implicits._
    // same 10-cluster layout as the label-recovery gate: anchors'
    // hard negatives should surface OTHER-cluster members (the
    // confusable frontier), never same-cluster ones
    val dim = 64
    def centerV(k: Int): Array[Double] =
      Array.tabulate(dim)(d => math.abs(math.sin(k * 37.0 + d)))
    val rows = for (k <- 0 until 10; j <- 0 until 50) yield {
      val v = centerV(k).zipWithIndex.map { case (a, d) =>
        (a + 0.02 * math.sin(j * 101.0 + d * 13.0 + k)).toFloat }
      ((k * 50 + j + 1).toLong, v.toSeq, k.toLong)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegativesLsh(df, "vec_id", "embedding",
        "label", k = 3, nTables = 8)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect()
    def cl(id: Long): Long = (id - 1) / 50
    assert(got.nonEmpty)
    assert(got.forall { case (a, b) => cl(a) != cl(b) })
    // agreement with the exact twin where both mined: the negative
    // SET is approximate, but whatever LSH returns must rank within
    // the exact label-crossing candidates (subset at matching rank
    // is too strict under partial recall — gate on pair membership)
    val exact = Similarity.hardNegatives(df, "vec_id", "embedding",
        "label", k = 3)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val overlap = got.count(exact.contains).toDouble / got.length
    assert(overlap >= 0.9,
      f"only ${overlap * 100}%.1f%% of LSH negatives are in the exact top-3 sets")
  }

  test("randomProject: exact BIGINT dot products against a local recomputation") {
    val out = Similarity.randomProject(emb.filter(col("vec_id") > 0),
      "vec_id", "embedding", outDim = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val rows = emb.filter(col("vec_id") > 0).limit(5).collect()
    val dim = rows.head.getSeq[Float](1).length
    val signs = Similarity.rpSigns(16, dim)
    rows.foreach { r =>
      val id = r.getLong(0)
      val qv = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong)
      (0 until 16).foreach { j =>
        val expect = qv.indices.map(i => signs(j)(i) * qv(i)).sum
        assert(out((id, j)) == expect, s"cell ($id, $j)")
      }
    }
  }

  test("randomProject: JL distance preservation on fixture pairs") {
    val proj = Similarity.randomProject(emb.filter(col("vec_id") > 0),
      "vec_id", "embedding", outDim = 16)
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)) }
    val vecs = emb.filter(col("vec_id") > 0).limit(30).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1048576.0).toLong))
    val ratios = for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
    } yield {
      val d2 = va.indices.map(i => { val d = (va(i) - vb(i)).toDouble; d * d }).sum
      val pa = proj(ia); val pb = proj(ib)
      val p2 = pa.indices.map(j => { val d = (pa(j) - pb(j)).toDouble; d * d }).sum
      // E[‖P(x−y)‖²] = outDim·‖x−y‖²
      p2 / (16.0 * d2)
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.6 && mean < 1.6, f"mean distortion $mean%.3f off 1")
    val inBand = ratios.count(r => r > 0.2 && r < 3.0).toDouble / ratios.length
    assert(inBand >= 0.9, f"only ${inBand * 100}%.0f%% of pairs within 0.2–3×")
  }

  test("multi-probe LSH kNN: strictly better recall than plain banding, fewer tables suffice") {
    import spark.implicits._
    val corpus = emb.filter(col("vec_id") > 0)
    val exact = Similarity.knnJoinCompiled(corpus, "vec_id", "embedding", k = 5)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("vec_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val plain4 = recall(Similarity.knnJoinLsh(corpus, "vec_id", "embedding",
      k = 5, nTables = 4, planesPerTable = 6))
    val mp4 = recall(Similarity.knnJoinLshMultiProbe(corpus, "vec_id",
      "embedding", k = 5, nTables = 4, planesPerTable = 6))
    val mp2 = recall(Similarity.knnJoinLshMultiProbe(corpus, "vec_id",
      "embedding", k = 5, nTables = 2, planesPerTable = 6))
    // same tables: candidates are a strict superset, recall can't drop
    assert(mp4 >= plain4, f"mp4 $mp4%.3f < plain4 $plain4%.3f")
    // the shuffle lever: HALF the tables with probes must hold the
    // recall plain banding needed four tables for
    assert(mp2 >= plain4 - 0.02,
      f"mp with 2 tables ($mp2%.3f) far below plain with 4 ($plain4%.3f)")
  }

  test("pcaPowerFit: matches a local BigInt recomputation exactly") {
    val sub = emb.filter(col("vec_id") > 0)
    val got = Similarity.pcaPowerFit(sub, "vec_id", "embedding", iterations = 4)
    val vecs = sub.collect().map(_.getSeq[Float](1)
      .map(x => BigInt(math.floor(x.toDouble * 1024.0).toLong)).toArray)
    val dim = vecs.head.length
    val n = BigInt(vecs.length)
    val s = Array.tabulate(dim)(i => vecs.map(_(i)).sum)
    val cm = Array.tabulate(dim, dim)((i, j) =>
      n * vecs.map(v => v(i) * v(j)).sum - s(i) * s(j))
    var v = Array.fill(dim)(BigInt(1))
    (1 to 4).foreach { _ =>
      val w = Array.tabulate(dim)(i => (0 until dim).map(j => cm(i)(j) * v(j)).sum)
      val m = w.map(_.abs).max
      v = w.map(x => x.sign * ((x.abs * 512) / m))
    }
    assert(got.toSeq == v.map(_.toLong).toSeq)
  }

  test("pcaProject: the fitted direction explains at least as much variance as any axis") {
    val sub = emb.filter(col("vec_id") > 0)
    val comp = Similarity.pcaPowerFit(sub, "vec_id", "embedding", iterations = 4)
    val projs = Similarity.pcaProject(sub, "vec_id", "embedding", comp)
      .collect().map(_.getLong(1).toDouble)
    def variance(xs: Array[Double]): Double = {
      val m = xs.sum / xs.length
      xs.map(x => (x - m) * (x - m)).sum / xs.length
    }
    val norm2 = comp.map(x => x.toDouble * x.toDouble).sum
    val varAlong = variance(projs) / norm2
    val vecs = sub.collect().map(_.getSeq[Float](1)
      .map(x => math.floor(x.toDouble * 1024.0)).toArray)
    val axisVar = (0 until vecs.head.length)
      .map(i => variance(vecs.map(_(i)))).max
    // 4 power steps from all-ones: allow a whisker below the true top
    // eigenvalue, but the learned direction must beat every raw axis
    assert(varAlong >= 0.95 * axisVar,
      f"component variance $varAlong%.1f < best axis $axisVar%.1f")
  }

  test("pcaPowerFit: degenerate (constant) input is rejected, empty input is rejected") {
    import spark.implicits._
    val const = Seq((1L, Seq(1.0f, 1.0f)), (2L, Seq(1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Similarity.pcaPowerFit(const, "vec_id", "embedding")
    }
    intercept[IllegalArgumentException] {
      Similarity.pcaPowerFit(const.filter(col("vec_id") > 9), "vec_id",
        "embedding")
    }
  }

  test("randomProject plan: one scan-side projection, no shuffle, no join") {
    val plan = Similarity.randomProject(emb.filter(col("vec_id") > 0),
      "vec_id", "embedding", outDim = 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"RP must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"RP must not join:\n$plan")
  }
}
