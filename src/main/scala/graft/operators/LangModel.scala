package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftExprBridge}
import org.apache.spark.sql.functions._

/** Character n-gram language-model quality scoring — the CCNet-style
  * "perplexity filter" of a training-data pipeline (Wenzek et al. 2019
  * score documents against a KenLM model and keep the low-perplexity
  * head; the same shape here with an add-one-smoothed char-trigram
  * model trained on a reference slice of the corpus itself).
  *
  * Everything is integer fixed-point so the result is ENGINE-EXACT:
  * each trigram's cost is floor(-ln(p) * 1e6) — one division and one
  * log per VOCABULARY entry (not per occurrence), floored onto the
  * micro-nat grid — and a document's score is an exact BIGINT sum of
  * those costs. The mean cost per trigram (the log-perplexity proxy)
  * is an integer division. No float ever crosses an aggregation.
  *
  * Scale shape (100 TB): training is one map-side-combinable count
  * aggregate over the reference slice; the cost table is bounded by
  * the charset cubed (≪ memory for any text corpus), collected once
  * and FROZEN into the per-row scorer ([[graft.functions.FrozenLookup]]),
  * so scoring touches the corpus once, row by row, with no join and no
  * shuffle.
  */
object LangModel {

  /** Lowercased character trigrams of `c` (positions 1..len−2); empty
    * array below 3 chars. Codegen-friendly: sequence + transform +
    * substr, no UDF.
    */
  def charTrigrams(c: Column): Column = charTrigramsOf(lower(c))

  /** Trigrams of an already-lowered string column. `s` is evaluated
    * inside the per-position lambda, so callers on a hot path should
    * pass a MATERIALIZED column (`.select(lower(...).as("_s"))`
    * first): an inlined `lower(text)` here re-lowers the whole string
    * once per trigram — O(len²) character work per document (the
    * round-9 DSIR fix caught the same inlining pattern at 16.5 s).
    */
  private def charTrigramsOf(s: Column): Column =
    when(length(s) >= 3,
      transform(sequence(lit(1), length(s) - 2), i => s.substr(i, lit(3))))
      .otherwise(array().cast("array<string>"))

  /** Train the trigram model: (gram, c) counts over the reference
    * slice. One explode + one combiner-friendly aggregate; the
    * lowered text materializes before the generator.
    */
  def lmTrain(ref: DataFrame, textCol: String): DataFrame =
    ref.select(lower(col(textCol)).as("_s"))
      .select(explode(charTrigramsOf(col("_s"))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"))

  /** The model as driver-side lookup state for PER-ROW scoring:
    * (gram → cost) map plus the OOV cost, same micro-nat arithmetic
    * as [[lmScore]]. Bounded collect — the vocabulary is capped by
    * the charset cubed (tens of thousands of entries for any text
    * corpus).
    */
  def collectCosts(model: DataFrame, scale: Long = 1000000L)
      : (Map[String, Long], Long) = {
    // ONE execution of the model aggregate; totals, per-gram costs and
    // the OOV cost all derive from the collected counts with the same
    // double arithmetic the SQL form uses (Math.log, double division,
    // floor), so values are bit-identical to the SQL oracle's cost
    // table — re-deriving them through Spark plans instead would re-run
    // the corpus-wide training scan once per derived value.
    val rows = model.select(col("gram"), col("c").cast("long")).collect()
    val total = rows.foldLeft(0L)(_ + _.getLong(1))
    val denom = (total + rows.length).toDouble
    val costs = rows.map { r =>
      r.getString(0) ->
        math.floor(-math.log((r.getLong(1) + 1).toDouble / denom) * scale)
          .toLong
    }.toMap
    val oov = math.floor(-math.log(1.0 / denom) * scale).toLong
    (costs, oov)
  }

  /** Per-row (n_tri, nll_micro) struct of `c` under a collected
    * model: one compiled pass, O(1) hash lookup per trigram
    * ([[graft.functions.LmDocCost]]). NULL below 3 chars.
    */
  def docCost(c: Column, costs: Map[String, Long], oovCost: Long): Column =
    GraftExprBridge.column(graft.functions.LmDocCost(
      GraftExprBridge.expression(c), costs, oovCost))

  /** Integer mean cost of a [[docCost]] or [[knDocCostStruct]] struct,
    * `nll_micro div <count>`: the score the LM and KN gates threshold
    * on. One projection with no join or aggregation, so a gate on it
    * composes with any streaming trigger/watermark. */
  def meanNll(st: Column, count: String): Column =
    call_function("div", st("nll_micro"), st(count))

  /** Score each document against a trained model: per-doc trigram
    * count `n_tri`, total cost `nll_micro` (micro-nats under add-one
    * smoothing: seen grams cost floor(-ln((c+1)/(total+V))·1e6),
    * unseen grams the V-denominator floor(-ln(1/(total+V))·1e6)), and
    * the integer mean `mean_nll_micro` — the log-perplexity proxy a
    * quality gate thresholds on. Documents shorter than 3 chars have
    * no trigrams and are absent from the output.
    *
    * The bounded cost table is collected once ([[collectCosts]]), then
    * the corpus is scored in ONE projection via [[docCost]]: touched
    * once, row by row, no exploded corpus, no join, and no shuffle
    * beyond [[lmTrain]]'s model aggregate. LangModelSpec keeps the
    * explode→broadcast-join→aggregate form as the reference it must
    * equal. PRECONDITION: `idCol` is unique per row.
    */
  def lmScore(docs: DataFrame, idCol: String, textCol: String,
      model: DataFrame, scale: Long = 1000000L): DataFrame = {
    val (costs, oov) = collectCosts(model, scale)
    scoreFrame(docs, idCol, docCost(col(textCol), costs, oov), "n_tri")
  }

  /** (id, count, nll_micro, mean_nll_micro) of every row whose cost
    * struct `st` is not NULL — the output frame of both scorers. */
  private def scoreFrame(docs: DataFrame, idCol: String, st: Column,
      count: String): DataFrame =
    docs.select(col(idCol), st.as("_st"))
      .filter(col("_st").isNotNull)
      .select(col(idCol), col("_st")(count).as(count),
        col("_st.nll_micro").as("nll_micro"),
        meanNll(col("_st"), count).as("mean_nll_micro"))

  /** Driver-side KN cost tables for [[knScore]], derived from ONE
    * execution of [[knBigrams]] (plus its per-side statistics): seen
    * pairs cost floor(−ln(p_num/p_den)·1e6) micro-nats; an unseen
    * pair with BOTH sides in the model costs the interpolation term
    * split as B1cost(w1) + Ccost(w2) (two floors summed — a defined,
    * replayable grid, same policy as the LM cost table's per-entry
    * floor); a pair with an unknown side costs the uniform floor
    * oov = floor(−ln(1/(4·n_bi))·1e6). All `ln`s run HERE (the
    * LM-cost-literal rule) — no transcendental in any engine.
    */
  def knCollectCosts(model: DataFrame, scale: Long = 1000000L)
      : (Map[(String, String), Long], Map[String, Long], Map[String, Long],
         Long) = {
    val rows = model.select(col("w1"), col("w2"), col("c12"),
      col("p_num"), col("p_den")).collect()
    // an empty model would make the OOV floor -ln(Infinity) →
    // Long.MinValue and score every document as nonsense; fail loudly
    require(rows.nonEmpty,
      "KN model is empty — the reference corpus has no bigrams")
    val nBi = rows.length.toLong
    def mc(p: Double): Long = math.floor(-math.log(p) * scale).toLong
    val pairCost = rows.map { r =>
      (r.getString(0), r.getString(1)) ->
        mc(r.getLong(3).toDouble / r.getLong(4).toDouble)
    }.toMap
    // per-w1: c1 = Σ c12, n1fw = #distinct w2 — recomputed from the
    // collected types (bounded by vocab², the same bound that lets
    // the model collect at all)
    val byLeft = rows.groupBy(_.getString(0))
    val b1Cost = byLeft.map { case (w1, rs) =>
      val c1 = rs.map(_.getLong(2)).sum
      w1 -> mc(3.0 * rs.length / (4.0 * c1))
    }
    val byRight = rows.groupBy(_.getString(1))
    val cCost = byRight.map { case (w2, rs) =>
      w2 -> mc(rs.length.toDouble / nBi)
    }
    (pairCost, b1Cost, cCost, mc(1.0 / (4.0 * nBi)))
  }

  /** Score documents under an interpolated-KN bigram model trained on
    * `ref` — the KenLM-shaped upgrade of the add-one trigram
    * [[lmScore]]: per-doc bigram count, total micro-nat cost, and the
    * integer mean a perplexity gate thresholds on. Seen bigrams cost
    * their exact smoothed probability; unseen-but-in-vocab bigrams
    * the interpolation backoff; out-of-vocab the uniform floor (all
    * grids fixed by [[knCollectCosts]]).
    *
    * Scale shape: train is one (w1,w2) combinable aggregate over the
    * reference slice; the three cost tables are vocabulary-bounded and
    * frozen into the per-row scorer ([[knScoreWith]]).
    */
  def knScore(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String,
      scale: Long = 1000000L): DataFrame =
    knScoreWith(docs, idCol, textCol,
      knCollectCosts(knBigrams(ref, refTextCol), scale))

  /** Per-row (n_big, nll_micro) struct of a text column under frozen
    * KN cost tables — one compiled pass ([[graft.functions
    * .KnDocCost]]): tokenize, then an O(1) lookup per bigram. NULL
    * below 2 tokens. Because it is one projection with no join or
    * aggregation, a caller can compute it BESIDE other per-row
    * columns (lang, source) in a single scan — the
    * [[graft.streaming.StreamPretrain]] KN gate is this struct against
    * a per-lang threshold, one conjunct of the ingest's gate filter. */
  def knDocCostStruct(textCol: Column,
      costs: (Map[(String, String), Long], Map[String, Long],
        Map[String, Long], Long)): Column = {
    val (pairCost, b1Cost, cCost, oov) = costs
    GraftExprBridge.column(graft.functions.KnDocCost(
      GraftExprBridge.expression(
        graft.functions.TextFunctions.tokens(lower(textCol))),
      pairCost, b1Cost, cCost, oov))
  }

  /** [[knScore]] under FROZEN cost tables (the [[knCollectCosts]]
    * tuple): fit once on the reference slice, score any batch by the
    * compiled per-row path ([[knDocCostStruct]]) — no explode, no
    * join, no shuffle. LangModelSpec keeps the
    * explode→3-broadcast-joins→aggregate form as the reference it must
    * equal. PRECONDITION: `idCol` is unique per row (the [[lmScore]]
    * contract). */
  def knScoreWith(docs: DataFrame, idCol: String, textCol: String,
      costs: (Map[(String, String), Long], Map[String, Long],
        Map[String, Long], Long)): DataFrame =
    scoreFrame(docs, idCol, knDocCostStruct(col(textCol), costs), "n_big")

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 4.25) — the smoothing a KenLM-style
    * corpus quality model uses — as EXACT RATIONALS, so the table
    * replays bit-for-bit in any engine with 64-bit integers:
    *
    *   P(w2|w1) = max(c(w1w2) − d, 0)/c(w1·)
    *            + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with discount d = 3/4. Put over the common denominator
    * 4·c(w1·)·N1+(··):
    *
    *   p_num = max(4·c12 − 3, 0)·n_bi + 3·n1fw(w1)·ncw(w2)
    *   p_den = 4·c1·n_bi
    *
    * — all BIGINT products of corpus counts (no float, no gcd; the
    * fraction is unreduced but canonical because the denominator is
    * determined by (w1)). Output: one row per observed bigram type
    * (w1, w2, c12, p_num, p_den).
    *
    * Scale shape: the only corpus-wide movement is the (w1, w2) hash
    * aggregate — map-side combinable, shuffle bounded by bigram TYPES
    * per partition, not tokens. The continuation/left statistics are
    * windows over that types table (vocabulary-bounded, ≪ corpus).
    * Overflow bound: p_num/p_den stay in 64 bits while
    * 4·c(w1·)·N1+(··) < 2^63 — beyond that (≫ 10^18 token corpora)
    * scale out the counts before smoothing.
    */
  def knBigrams(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize tokens BEFORE slicing: an inlined tokens(lower(..))
    // inside zip_with re-tokenizes per position (the round-9 DSIR
    // O(n²) inlining pattern)
    val toks = df
      .select(graft.functions.TextFunctions.tokens(lower(col(textCol)))
        .as("_tk"))
      .select(col("_tk"), (size(col("_tk")) - 1).as("_n"))
      .filter(col("_n") >= 1)
    val types = toks
      .select(explode(zip_with(
        slice(col("_tk"), lit(1), col("_n")),
        slice(col("_tk"), lit(2), col("_n")),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .groupBy(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .agg(count(lit(1)).cast("long").as("c12"))
    val byLeft = Window.partitionBy("w1")
    val byRight = Window.partitionBy("w2")
    val nBi = types.agg(count(lit(1)).cast("long").as("n_bi"))
    types
      .withColumn("c1", sum(col("c12")).over(byLeft))
      .withColumn("n1fw", count(lit(1)).over(byLeft).cast("long"))
      .withColumn("ncw", count(lit(1)).over(byRight).cast("long"))
      .crossJoin(broadcast(nBi))
      .select(col("w1"), col("w2"), col("c12"),
        (greatest(lit(4L) * col("c12") - 3L, lit(0L)) * col("n_bi")
          + lit(3L) * col("n1fw") * col("ncw")).as("p_num"),
        (lit(4L) * col("c1") * col("n_bi")).as("p_den"))
  }
}
