package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis profile over a document table (builder brief:
  * language-ID, quality scoring, token counting, fingerprinting).
  * One projection — no shuffle, runs at scan speed.
  */
object TextAnalysis {

  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      TextFunctions.tokenCount(t).as("n_tokens"),
      TextFunctions.subwordCount(t).as("n_subwords"),
      round(TextFunctions.punctRatio(t), 6).as("punct_ratio"),
      round(TextFunctions.stopwordRatio(t), 6).as("stopword_ratio"),
      TextFunctions.qualityScoreScaled(t).as("quality"),
      TextFunctions.langId(t).as("lang_guess"),
      TextFunctions.fingerprint(t).as("fp"))
  }

  /** Corpus health report: per-group document counts, token mass,
    * median quality, and mean length — the dashboard a curation
    * pipeline reads BEFORE choosing budgets/mixtures/gates. One
    * map-side-combinable aggregate over one projection; group
    * cardinality (lang × source) bounds the output. All statistics
    * replay exactly in SQL: counts and sums are integers, the mean is
    * one IEEE division, and the median interpolates two integers
    * (`percentile` ≡ `quantile_cont`), rounded to the engine's
    * standard 6 decimals.
    */
  def corpusReport(df: DataFrame, textCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must not be empty")
    val t = col(textCol)
    df.select(groupCols.map(col) ++ Seq(
        TextFunctions.tokenCount(t).cast("long").as("_tok"),
        TextFunctions.qualityScoreScaled(t).as("_q"),
        length(t).cast("long").as("_len")): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("n_tokens"),
        round(expr("percentile(_q, 0.5)"), 6).as("med_quality"),
        round(avg(col("_len")), 6).as("mean_chars"))
  }

  /** Gopher's default stop-word rule list (Rae et al. 2021, §A1.1.2:
    * "contains at least two of the following English words"). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality rules (Rae et al. 2021, §A1.1.2) as one scan-speed
    * projection: per-document rule counters plus the composite `keep`
    * verdict. Every threshold is evaluated in INTEGER arithmetic
    * (ratio bounds become cross-multiplied ppm comparisons), so the
    * whole gate replays bit-exactly in any engine — no float ever
    * decides a document's fate.
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [minMeanLen, maxMeanLen] (3·n ≤ chars ≤ 10·n); symbol-to-word
    * ratio (`#` chars + `...` runs) ≤ maxSymbolPpm; bullet-starting
    * lines ≤ maxBulletPpm of lines; ellipsis-ending lines ≤
    * maxEllipsisPpm; words containing an alphabetic char ≥
    * minAlphaPpm; ≥ minStopHits DISTINCT stop-list words present.
    * The stop list is a parameter (Gopher's English eight by default)
    * so the rule stays meaningful on non-English or synthetic corpora.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Long = 3, maxMeanLen: Long = 10,
      maxSymbolPpm: Long = 100000, maxBulletPpm: Long = 100000,
      maxEllipsisPpm: Long = 300000, minAlphaPpm: Long = 800000,
      stopWords: Seq[String] = GopherStopWords,
      minStopHits: Long = 2): DataFrame = {
    val (metrics, keep) = gopher(col(textCol), stopWords, minWords,
      maxWords, minMeanLen, maxMeanLen, maxSymbolPpm, maxBulletPpm,
      maxEllipsisPpm, minAlphaPpm, minStopHits)
    df.select(col(idCol) +: metrics: _*).withColumn("keep", keep(col))
  }

  /** [[gopherRules]]' `keep` verdict at the default thresholds as ONE
    * per-row boolean Column, for a filter or a conditional count. The
    * metrics are bound once through a single-element array (the
    * verdict reads `n_words` five times; inlined, each read would
    * re-split the text). */
  def gopherKeep(text: Column,
      stopWords: Seq[String] = GopherStopWords): Column = {
    val (metrics, keep) = gopher(text, stopWords)
    element_at(transform(array(struct(metrics: _*)),
      m => keep(m.getField)), 1)
  }

  /** The Gopher metrics over `t` (named columns) and the keep verdict
    * over them, given a by-name metric lookup — the one definition
    * behind [[gopherRules]] and [[gopherKeep]]. */
  private def gopher(t: Column, stopWords: Seq[String],
      minWords: Long = 50, maxWords: Long = 100000,
      minMeanLen: Long = 3, maxMeanLen: Long = 10,
      maxSymbolPpm: Long = 100000, maxBulletPpm: Long = 100000,
      maxEllipsisPpm: Long = 300000, minAlphaPpm: Long = 800000,
      minStopHits: Long = 2): (Seq[Column], (String => Column) => Column) = {
    val ws = filter(split(t, "\\s+"), w => length(w) > 0)
    val ls = split(t, "\n")
    val lws = transform(ws, w => lower(w))
    val stopArr = array(stopWords.map(lit): _*)
    val metrics = Seq(
      size(ws).cast("long").as("n_words"),
      coalesce(aggregate(ws, lit(0L), (acc, w) => acc + length(w)),
        lit(0L)).as("word_chars"),
      ((length(t) - length(replace(t, lit("#"), lit("")))) +
        (length(t) - length(replace(t, lit("..."), lit("")))) / 3)
        .cast("long").as("n_symbols"),
      size(ls).cast("long").as("n_lines"),
      size(filter(ls, l => trim(l).like("- %") || trim(l).like("* %") ||
        trim(l).like("• %"))).cast("long").as("n_bullet"),
      size(filter(ls, l => trim(l).like("%...")))
        .cast("long").as("n_ellipsis"),
      size(filter(ws, w => w.rlike("[A-Za-z]")))
        .cast("long").as("n_alpha"),
      size(filter(stopArr, s => exists(lws, w => w === s)))
        .cast("long").as("n_stop"))
    def keep(m: String => Column): Column =
      m("n_words").between(minWords, maxWords) &&
        m("word_chars") >= lit(minMeanLen) * m("n_words") &&
        m("word_chars") <= lit(maxMeanLen) * m("n_words") &&
        m("n_symbols") * lit(1000000L) <=
          lit(maxSymbolPpm) * m("n_words") &&
        m("n_bullet") * lit(1000000L) <=
          lit(maxBulletPpm) * m("n_lines") &&
        m("n_ellipsis") * lit(1000000L) <=
          lit(maxEllipsisPpm) * m("n_lines") &&
        m("n_alpha") * lit(1000000L) >=
          lit(minAlphaPpm) * m("n_words") &&
        m("n_stop") >= minStopHits
    (metrics, keep)
  }

  /** Corpus-wide heavy-hitter tokens: exact frequencies, top-k with a
    * deterministic tie order. Explode → one map-side-combinable
    * shuffle; the top-k is a TakeOrdered, not a full sort.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Context-window chunking: split each document into fixed-size
    * token chunks with `overlap` tokens of context carried between
    * consecutive chunks (the standard pretraining/RAG windowing).
    * Pure per-row generator — explode of slices, no shuffle; chunk
    * count and boundaries are integer arithmetic, so the DuckDB
    * oracle reproduces them exactly.
    *
    * Output: (idCol, chunk_idx, n_chunk_tokens, chunk_text).
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $overlap / $chunkSize")
    val step = chunkSize - overlap
    val toks = TextFunctions.tokens(col(textCol))
    // chunks cover starts 0, step, 2·step, … but only starts that add at
    // least one token beyond the carried overlap (start + overlap < n):
    // nChunks = 1 + ceil(max(0, n - chunkSize) / step). Integer-exact so
    // the DuckDB oracle reproduces it; empty docs produce no chunks.
    val nChunks = when(size(toks) === 0, lit(0))
      .otherwise(lit(1) +
        ((greatest(size(toks) - chunkSize, lit(0)) + (step - 1)) / step)
          .cast("int"))
    df.select(col(idCol), toks.as("_tk"), nChunks.as("_nc"))
      .filter(col("_nc") > 0)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), col("_nc") - 1),
          i => slice(col("_tk"), i * step + 1, lit(chunkSize)))))
      .select(col(idCol), col("pos").as("chunk_idx"),
        size(col("col")).as("n_chunk_tokens"),
        concat_ws(" ", col("col")).as("chunk_text"))
  }

  /** Gopher-style repetition metrics per document — the standard
    * pretraining quality gates for boilerplate/spam: fraction of
    * duplicate tokens, fraction of duplicate bigrams, and the share of
    * the single most frequent token. Fractions ship floor-scaled to
    * parts-per-million BIGINTs so thresholding and the oracle compare
    * are engine-exact.
    *
    * The per-row metrics are one projection (no shuffle); the
    * mode-token share is an explode → two map-side-combinable
    * aggregations keyed by the doc id — at 100 TB the shuffle carries
    * (doc, distinct-token) pairs, bounded by document vocabulary, not
    * corpus size.
    */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = TextFunctions.tokens(lower(col(textCol)))
    def ppm(num: Column, den: Column): Column =
      when(den === 0, lit(0L))
        .otherwise(floor(num.cast("double") * 1000000d / den.cast("double"))
          .cast("bigint"))
    val bigrams = when(size(col("_tk")) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(col("_tk")) - 1),
        i => concat_ws(" ", slice(col("_tk"), i, lit(2)))))
    val perRow = df
      .select(col(idCol), tk.as("_tk"))
      .withColumn("_bg", bigrams)
      .select(col(idCol),
        col("_tk"),
        size(col("_tk")).as("n_tokens"),
        ppm(size(col("_tk")) - size(array_distinct(col("_tk"))),
          size(col("_tk"))).as("dup_token_ppm"),
        ppm(size(col("_bg")) - size(array_distinct(col("_bg"))),
          size(col("_bg"))).as("dup_bigram_ppm"))
    val topShare = perRow
      .select(col(idCol), explode(col("_tk")).as("_t"))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max(col("_c")).as("_top"))
    perRow.drop("_tk")
      .join(topShare, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"), col("dup_token_ppm"),
        col("dup_bigram_ppm"),
        ppm(coalesce(col("_top"), lit(0L)), col("n_tokens"))
          .as("top_token_ppm"))
  }

  /** Pattern redaction (PII scrubbing shape): apply `rules` —
    * (regex, replacement) pairs — in order to the text column. Pure
    * projection, codegen'd regexp_replace chain, no shuffle; the
    * patterns must be RE2-compatible so the identical rule list runs
    * in any engine.
    */
  def redact(df: DataFrame, textCol: String,
      rules: Seq[(String, String)], outCol: String = "redacted"): DataFrame =
    df.withColumn(outCol,
      rules.foldLeft(col(textCol)) { case (c, (pat, rep)) =>
        regexp_replace(c, pat, rep)
      })

  /** The default scrub list: emails, long digit runs, hex ids. */
  val DefaultRedactions: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "[0-9a-fA-F]{16,}" -> "<HEX>",
    "[0-9]{4,}" -> "<NUM>")

  /** Per-document top-k tokens by TF-IDF (score = tf · ln(N/df)).
    * Scores ship as floor-scaled integers (×10⁶) so ranking and
    * equality are engine-stable. Two shuffles (tf, then document
    * frequency) + a per-doc window — the df relation is tiny
    * (vocabulary-sized) and broadcast back onto tf.
    *
    * Cross-engine note: unlike the other floor-scaled oracles (which
    * floor algebraically exact values), this floors a transcendental.
    * Verified on the fixtures at every sf: the nearest score sits
    * ≥ 3.5e-4 scaled units (~10⁵ ulps) from a floor boundary and no
    * two distinct (tf, df) pairs collide within 1e-3, so 1-ulp libm
    * disagreement between engines cannot flip a floor or a rank.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val n = df.count()
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
    val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_t"))
    val scored = tf.join(broadcast(dfreq), "token")
      .withColumn("score_scaled",
        floor(lit(1e6) * col("tf") * log(lit(n.toDouble) / col("df_t")))
          .cast("bigint"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_scaled").desc, col("token"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df_t"),
        col("score_scaled"))
  }

  /** Corpus statistics BM25 needs, computed in ONE combinable
    * aggregate pass and collected to the driver (they are a handful of
    * scalars — the same bounded-collect contract as PQ codebooks):
    * document count N, `avgdl` on the 10⁻⁶ fixed-point grid
    * (`(Σdl · 10⁶) DIV N`, exact BIGINT), and per-query-token idf in
    * integer micro-nats — the Lucene smoothing of Robertson–Spärck
    * Jones, `floor(ln(1 + (N − df + 0.5)/(df + 0.5)) · 10⁶)`, which
    * stays positive even for tokens in over half the corpus (raw RSJ
    * idf goes negative there and silently zeroes every match).
    * Driver-side `math.log`, so no transcendental ever runs inside a
    * query engine — the LM-cost-literal rule. Tokens are matched
    * lowercase.
    */
  def bm25Stats(df: DataFrame, textCol: String,
      queryTokens: Seq[String]): (Long, Long, Map[String, Long]) = {
    require(queryTokens.nonEmpty, "empty BM25 query")
    val tk = TextFunctions.tokens(lower(col(textCol)))
    val aggs = count(lit(1)).as("n") +: sum(size(tk)).as("t") +:
      queryTokens.zipWithIndex.map { case (q, i) =>
        sum(when(array_contains(tk, lit(q)), 1L).otherwise(0L)).as(s"df$i")
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(0)
    require(n > 0, "empty corpus")
    // sum(size(tk)) is NULL when every document tokenizes to nothing
    // (null/whitespace-only text) — fail with a message, not an NPE
    require(!row.isNullAt(1) && row.getLong(1) > 0,
      "corpus has no tokens — nothing to rank")
    val avgdlMicro = math.max(1L,
      Math.floorDiv(row.getLong(1) * 1000000L, n))
    val idfs = queryTokens.zipWithIndex.map { case (q, i) =>
      val dfT = row.getLong(2 + i)
      q -> math.floor(math.log1p((n - dfT + 0.5) / (dfT + 0.5)) * 1e6).toLong
    }.toMap
    (n, avgdlMicro, idfs)
  }

  /** BM25 ranked retrieval (Okapi BM25, Robertson et al.): the top-N
    * documents for a bag-of-tokens query, scored
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))` with the
    * usual k1 = 1.2, b = 0.75 (ppm parameters).
    *
    * Engine-exact by construction: idf and avgdl are integer literals
    * from [[bm25Stats]], each token's contribution is ONE pinned
    * IEEE-double expression floored to integer micro-nats, and the
    * per-document score is the BIGINT SUM of those integers — no
    * float accumulates across tokens, so summation order cannot
    * drift an ulp (the [[StatsRollup.seriesCorrelation]] /
    * [[graft.operators.LangModel]] portability rule).
    *
    * Scale: scoring is one projection over the corpus (per-token `tf`
    * = `size(filter(tokens, _ = t))`, no explode, no shuffle) + a
    * top-N sort. At index-serving scale, prune the scan first with a
    * [[graft.sources.TextIndex]] posting lookup on the query tokens
    * (the q_grep_index_lookup shape) and score only the semi-joined
    * candidates; the statistics pass stays one combinable aggregate.
    *
    * Output: (idCol, bm25_micro) — positive-scoring docs, best first,
    * ties to the smaller id, at most `topN` rows.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
      queryTokens: Seq[String], topN: Int = 50,
      k1Ppm: Long = 1200000L, bPpm: Long = 750000L): DataFrame = {
    val (_, avgdlMicro, idfs) = bm25Stats(df, textCol, queryTokens)
    bm25Score(df.select(col(idCol), col(textCol)), idCol, textCol,
      queryTokens, avgdlMicro, idfs, topN, k1Ppm, bPpm)
  }

  /** [[bm25Rank]] served off a [[graft.sources.TextIndex]]: resolve
    * the candidate set by posting lookups on the query tokens (each
    * reads ONE bucket directory — partition-pruned, the
    * q_grep_index_lookup contract), semi-join the corpus, and score
    * only those rows. EQUAL output to the scan path by construction:
    * a document with no query token has every tf = 0, scores exactly
    * 0, and the scan path filters score > 0 — so pruning it cannot
    * change the result (spec-asserted). This is the serving shape at
    * index scale: the scoring scan is O(matching postings), not
    * O(corpus); the one corpus-wide pass left is [[bm25Stats]], which
    * a deployment computes once per corpus version, not per query.
    */
  def bm25RankIndexed(df: DataFrame, idCol: String, textCol: String,
      indexPath: String, queryTokens: Seq[String], topN: Int = 50,
      k1Ppm: Long = 1200000L, bPpm: Long = 750000L): DataFrame = {
    val spark = df.sparkSession
    val (_, avgdlMicro, idfs) = bm25Stats(df, textCol, queryTokens)
    val cand = queryTokens
      .map(t => graft.sources.TextIndex.lookup(spark, indexPath, t))
      .reduce(_.unionByName(_)).distinct()
      .withColumnRenamed("id", idCol)
    val pruned = df.select(col(idCol), col(textCol))
      .join(cand, Seq(idCol), "left_semi")
    bm25Score(pruned, idCol, textCol, queryTokens, avgdlMicro, idfs,
      topN, k1Ppm, bPpm)
  }

  /** The shared BM25 scoring projection (see [[bm25Rank]] for the
    * exactness contract: literal idf/avgdl, one pinned double
    * expression per token floored to micro-nats, order-free BIGINT
    * sum). */
  private def bm25Score(base0: DataFrame, idCol: String, textCol: String,
      queryTokens: Seq[String], avgdlMicro: Long, idfs: Map[String, Long],
      topN: Int, k1Ppm: Long, bPpm: Long): DataFrame = {
    val k1 = lit(k1Ppm) / lit(1000000.0)
    val b = lit(bPpm) / lit(1000000.0)
    val base = base0.select(col(idCol),
        TextFunctions.tokens(lower(col(textCol))).as("tk"))
      .withColumn("dl", size(col("tk")))
    val dlr = (col("dl").cast("double") * lit(1000000.0)) / lit(avgdlMicro)
    val contribs = queryTokens.map { q =>
      val tf = size(filter(col("tk"), x => x === lit(q))).cast("double")
      floor(lit(idfs(q)).cast("double") *
          ((tf * (k1 + lit(1.0))) /
            (tf + k1 * ((lit(1.0) - b) + b * dlr))))
        .cast("long")
    }
    base.withColumn("bm25_micro", contribs.reduce(_ + _))
      .filter(col("bm25_micro") > 0)
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(topN)
      .select(col(idCol), col("bm25_micro"))
  }

  /** Frequency-ranked word vocabulary — the id table a trainer's
    * tokenizer ships with: tokens seen at least `minCount` times,
    * ids 1..maxSize assigned by (count desc, token) so the assignment
    * is total-order deterministic (id 0 is reserved for OOV by
    * [[encodeIds]]). One combinable corpus aggregate; the count table
    * is then REDUCED to its top-maxSize rows by a distributed
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * full sort) BEFORE the ranking window, so the single ordered
    * window task holds ≤ maxSize rows by construction even at
    * minCount=1 over an unbounded vocabulary.
    */
  def vocabBuild(df: DataFrame, textCol: String, maxSize: Int,
      minCount: Long = 1L): DataFrame = {
    require(maxSize >= 1, s"maxSize must be >= 1: $maxSize")
    val counts = df
      .select(explode(TextFunctions.tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val top = counts.orderBy(col("cnt").desc, col("token")).limit(maxSize)
    val w = Window.orderBy(col("cnt").desc, col("token"))
    top.withColumn("tid", row_number().over(w).cast("long"))
      .select(col("token"), col("tid"), col("cnt"))
  }

  /** Encode the corpus against a built vocabulary: one (id, pos, tid)
    * row per token position, OOV → 0. The vocab broadcasts (it is
    * maxSize-bounded); encoding is a posexplode + one broadcast join —
    * scan-speed, no corpus shuffle. Positions are 1-based (the
    * oracle's generate_subscripts convention).
    */
  def encodeIds(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame =
    df.select(col(idCol),
        posexplode(TextFunctions.tokens(lower(col(textCol))))
          .as(Seq("pos", "token")))
      .withColumn("pos", (col("pos") + 1).cast("long"))
      .join(broadcast(vocab.select("token", "tid")), Seq("token"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("tid"), lit(0L)).as("tid"))

  /** Feature-hashed document embedding (the "hashing trick" —
    * Weinberger et al. 2009): each token maps to one of 16^hexDigits
    * buckets by an md5 hex SUBSTRING (the [[graft.operators.Sketch]]
    * convention — engine-portable, no modulo) with a ±1 sign from an
    * independent md5 bit, and the document's coordinate in bucket b
    * is the exact BIGINT signed token count. Inner products between
    * hashed vectors are unbiased estimates of the inner products of
    * the raw TF vectors (the signs cancel cross-terms in
    * expectation), so the output feeds any vector operator — without
    * a trained vocabulary, over an unbounded token space.
    *
    * Output: sparse (idCol, b, v) rows, only touched buckets. One
    * explode + one (doc, bucket) hash aggregate — map-side combine
    * bounds each partition's shuffle at docs×dim partials; no
    * vocabulary table, no broadcast, no fit.
    */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      hexDigits: Int = 2): DataFrame = {
    require(hexDigits >= 1 && hexDigits <= 8,
      s"hexDigits must be in [1,8]: $hexDigits")
    df.select(col(idCol),
        explode(TextFunctions.tokens(lower(col(textCol)))).as("_tok"))
      .groupBy(col(idCol),
        substring(md5(concat(lit("b:"), col("_tok"))), 1, hexDigits).as("b"))
      .agg(sum(when(substring(md5(concat(lit("s:"), col("_tok"))), 1, 1)
          .isin("0", "1", "2", "3", "4", "5", "6", "7"), 1L)
        .otherwise(-1L)).as("v"))
      .filter(col("v") =!= 0L)
  }
}
