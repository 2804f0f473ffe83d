package graft

import graft.operators.LangModel
import graft.sources.Tables
import org.apache.spark.sql.functions._

class LangModelSpec extends SparkSpec {
  import spark.implicits._

  // the join-based reference twin of the compiled LangModel.lmScore:
  // explode each document into trigrams, one broadcast join against the
  // cost table (derived in SQL from the model counts), per-doc aggregate
  private def lmScoreJoin(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, model: org.apache.spark.sql.DataFrame,
      scale: Long = 1000000L): org.apache.spark.sql.DataFrame = {
    val totals = model.agg(sum(col("c")).as("total"), count(lit(1)).as("v"))
    val denom = (col("total") + col("v")).cast("double")
    val costs = model.crossJoin(broadcast(totals))
      .select(col("gram"),
        floor(-log((col("c") + 1).cast("double") / denom) * scale)
          .as("cost"))
    val oov = totals.select(
      floor(-log(lit(1.0) / denom) * scale).as("oov_cost"))
    docs.select(col(idCol), lower(col(textCol)).as("_s"))
      .select(col(idCol), explode(LangModel.charTrigrams(col("_s"))).as("gram"))
      .join(broadcast(costs), Seq("gram"), "left")
      .crossJoin(broadcast(oov))
      .groupBy(idCol)
      .agg(sum(coalesce(col("cost"), col("oov_cost"))).as("nll_micro"),
        count(lit(1)).as("n_tri"))
      .withColumn("mean_nll_micro", expr("nll_micro div n_tri"))
      .select(col(idCol), col("n_tri"), col("nll_micro"),
        col("mean_nll_micro"))
  }

  test("charTrigrams: sliding window, lowercased, empty below 3 chars") {
    val df = Seq("Abcd", "xy", "", "hello").toDF("t")
      .select(LangModel.charTrigrams(col("t")).as("g"))
    val got = df.collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("abc", "bcd"))
    assert(got(1).isEmpty && got(2).isEmpty)
    assert(got(3) == Seq("hel", "ell", "llo"))
  }

  test("lmScore: in-model text costs less per trigram than novel text") {
    val ref = Seq.tabulate(20)(i => (i, "the quick brown fox jumps"))
      .toDF("doc_id", "text")
    val model = LangModel.lmTrain(ref, "text")
    val score = LangModel.lmScore(
      Seq((1, "the quick brown fox"), (2, "zzqx wvvj qqkk zzzz"))
        .toDF("doc_id", "text"),
      "doc_id", "text", model)
      .collect().map(r => r.getAs[Int]("doc_id") ->
        r.getAs[Long]("mean_nll_micro")).toMap
    // doc 1 is drawn from the model's own text; doc 2 is all-OOV
    assert(score(1) < score(2))
  }

  test("lmScore: cost arithmetic is the exact integer contract") {
    // model trained on one doc: "aaaa" -> trigrams aaa, aaa => c(aaa)=2
    val model = LangModel.lmTrain(Seq((1, "aaaa")).toDF("id", "text"), "text")
    // total=2, V=1 => seen cost floor(-ln(3/3)*1e6)=0,
    // OOV cost floor(-ln(1/3)*1e6)=1098612
    val got = LangModel.lmScore(
      Seq((1, "aaab")).toDF("doc_id", "text"), "doc_id", "text", model)
      .collect().head
    // trigrams: aaa (seen, 0) + aab (OOV, 1098612); mean = 549306
    assert(got.getAs[Long]("n_tri") == 2L)
    assert(got.getAs[Long]("nll_micro") == 1098612L)
    assert(got.getAs[Long]("mean_nll_micro") == 549306L)
  }

  test("lmScore: compiled per-row path equals the explode+join reference exactly") {
    val docs = Tables.load(spark, sfDir, "documents").limit(200)
    val model = LangModel.lmTrain(
      docs.filter(col("lang") === "en"), "text")
    val (costs, oov) = LangModel.collectCosts(model)

    val joined = lmScoreJoin(docs, "doc_id", "text", model)
      .select("doc_id", "n_tri", "nll_micro", "mean_nll_micro")
    val perRow = docs.select(col("doc_id"),
        LangModel.docCost(col("text"), costs, oov).as("st"),
        LangModel.meanNll(LangModel.docCost(col("text"), costs, oov), "n_tri")
          .as("mean_nll_micro"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"), col("st.n_tri").as("n_tri"),
        col("st.nll_micro").as("nll_micro"), col("mean_nll_micro"))
    assert(joined.exceptAll(perRow).isEmpty && perRow.exceptAll(joined).isEmpty)

    // the shipped scorer (what q_lm_quality runs) is the same rows
    val packaged = LangModel.lmScore(docs, "doc_id", "text", model)
    assert(joined.exceptAll(packaged).isEmpty &&
      packaged.exceptAll(joined).isEmpty)
  }

  test("lmScore: documents shorter than 3 chars are absent") {
    val model = LangModel.lmTrain(Seq((1, "abcdef")).toDF("id", "text"), "text")
    val out = LangModel.lmScore(
      Seq((1, "ab"), (2, "abc")).toDF("doc_id", "text"),
      "doc_id", "text", model)
    assert(out.collect().map(_.getAs[Int]("doc_id")).toSeq == Seq(2))
  }

  test("knBigrams: hand-computed rational on a tiny corpus") {
    // corpus "a b a b" / "b a": c(a,b)=2 c(b,a)=2, c1(a)=c1(b)=2,
    // N1+(a·)=N1+(b·)=1, N1+(·a)=N1+(·b)=1, N1+(··)=2.
    // P(b|a) = max(2-3/4,0)/2 + (3/4)(1/2)(1/2) = 13/16.
    val out = LangModel.knBigrams(
      Seq("a b a b", "b a").toDF("text"), "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out(("a", "b")) == ((2L, 13L, 16L)))
    assert(out(("b", "a")) == ((2L, 13L, 16L)))
  }

  test("knBigrams: probability mass over the full vocabulary is exactly 1 per context") {
    // Sum over observed bigrams of p_num/p_den, plus the backoff term
    // d·N1+(w1·)/c1 · Pcont(w2) for every UNSEEN (w1, w2) with
    // N1+(·w2) > 0, must equal 1 exactly — checked in BigInt rationals.
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = LangModel.knBigrams(docs, "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        BigInt(r.getLong(3)), BigInt(r.getLong(4))))
    val byLeft = rows.groupBy(_._1)
    val ncw = rows.groupBy(_._2).map { case (w2, rs) => w2 -> BigInt(rs.length) }
    val nBi = BigInt(rows.length)
    byLeft.foreach { case (w1, rs) =>
      val den = rs.head._5 // 4·c1·n_bi, constant per w1
      assert(rs.forall(_._5 == den))
      val c1 = den / (4 * nBi)
      val n1fw = BigInt(rs.length)
      val seenRight = rs.map(_._2).toSet
      val seenMass = rs.map(_._4).sum // Σ p_num over common den
      val unseenMass = ncw.collect {
        case (w2, n) if !seenRight.contains(w2) => 3 * n1fw * n
      }.sum
      assert(seenMass + unseenMass == den,
        s"mass for context '$w1': ${seenMass + unseenMass} != $den (c1=$c1)")
    }
  }

  test("knScore: in-model text costs less per bigram than out-of-vocab text") {
    val ref = Seq("a b c a b c a b", "b c a").toDF("text")
    val out = LangModel.knScore(
      Seq((1L, "a b c a b"), (2L, "qq ww ee rr")).toDF("doc_id", "text"),
      "doc_id", "text", ref, "text")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out(1L) < out(2L))
  }

  test("knScore: the coalesce cascade picks pair, backoff, then OOV exactly") {
    val ref = Seq("a b a b", "b a").toDF("text")
    val (pairCost, b1Cost, cCost, oov) =
      LangModel.knCollectCosts(LangModel.knBigrams(ref, "text"))
    // doc "a b a zz": bigrams (a,b) seen, (b,a) seen, (a,zz) OOV
    val got = LangModel.knScore(
      Seq((1L, "a b a zz")).toDF("doc_id", "text"),
      "doc_id", "text", ref, "text").head()
    val expect = pairCost(("a", "b")) + pairCost(("b", "a")) + oov
    assert(got.getLong(1) == 3L)
    assert(got.getLong(2) == expect)
    assert(got.getLong(3) == expect / 3L)
    // "b b": unseen pair, both sides in vocab -> backoff split
    val got2 = LangModel.knScore(
      Seq((1L, "b b")).toDF("doc_id", "text"),
      "doc_id", "text", ref, "text").head()
    assert(got2.getLong(2) == b1Cost("b") + cCost("b"))
  }

  test("knScoreWith: compiled per-row path equals the explode+join reference exactly") {
    val docs = Tables.load(spark, sfDir, "documents").limit(300)
    val costs = LangModel.knCollectCosts(LangModel.knBigrams(
      docs.filter(col("lang") === "en"), "text"))
    val (pairCost, b1Cost, cCost, oov) = costs
    // the pre-r17 chain, reconstructed: explode each document into
    // bigrams, three broadcast joins against the cost tables, per-doc
    // aggregate with the coalesce cascade
    val pairDf = broadcast(pairCost.toSeq
      .map { case ((a, b), c) => (a, b, c) }.toDF("w1", "w2", "_pc"))
    val b1Df = broadcast(b1Cost.toSeq.toDF("w1", "_b1"))
    val cDf = broadcast(cCost.toSeq.toDF("w2", "_cc"))
    val toks = docs
      .select(col("doc_id"),
        graft.functions.TextFunctions.tokens(lower(col("text"))).as("_tk"))
      .select(col("doc_id"), col("_tk"), (size(col("_tk")) - 1).as("_n"))
      .filter(col("_n") >= 1)
    val reference = toks
      .select(col("doc_id"), explode(zip_with(
        slice(col("_tk"), lit(1), col("_n")),
        slice(col("_tk"), lit(2), col("_n")),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col("doc_id"), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
      .join(pairDf, Seq("w1", "w2"), "left")
      .join(b1Df, Seq("w1"), "left")
      .join(cDf, Seq("w2"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"),
        sum(coalesce(col("_pc"), col("_b1") + col("_cc"), lit(oov)))
          .as("nll_micro"))
      .withColumn("mean_nll_micro", expr("nll_micro div n_big"))
      .select("doc_id", "n_big", "nll_micro", "mean_nll_micro")
    val compiled = LangModel.knScoreWith(docs, "doc_id", "text", costs)
    assert(reference.exceptAll(compiled).isEmpty &&
      compiled.exceptAll(reference).isEmpty)
    assert(compiled.count() > 0)
  }

  test("frozen lookups: a wrong input type is an analysis error naming the expression") {
    import graft.functions.{KnDocCost, LmDocCost, SetHitCount}
    import org.apache.spark.sql.GraftExprBridge.{column, expression}
    val df = Seq((1, "a b")).toDF("i", "s")
      .select(col("i"), col("s"), split(col("s"), " ").as("a"))
    Seq(
      "lmdoccost" -> LmDocCost(expression(col("a")), Map("abc" -> 1L), 2L),
      "kndoccost" -> KnDocCost(expression(col("s")), Map(("a", "b") -> 1L),
        Map("a" -> 1L), Map("b" -> 1L), 2L),
      "sethitcount" -> SetHitCount(expression(col("i")), Seq("a"))
    ).foreach { case (name, e) =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        df.select(column(e)))
      assert(err.getMessage.contains(s"$name expects"),
        s"$name: ${err.getMessage}")
    }
  }

  test("knBigrams: every smoothed probability is a valid rational in (0, 1]") {
    val rows = LangModel.knBigrams(
      Seq("x y x y x z", "y x").toDF("text"), "text").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (num, den) = (BigInt(r.getLong(3)), BigInt(r.getLong(4)))
      assert(num > 0 && num <= den, s"row $r out of (0, 1]")
    }
  }
}
