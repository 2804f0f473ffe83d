package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Per-document Kneser–Ney cost under the FROZEN cost tables — the
  * compiled single-pass face of
  * [[graft.operators.LangModel.knScoreWith]]'s former
  * explode→3-broadcast-joins→per-doc-aggregate chain (the
  * [[LmDocCost]] shape applied to the bigram model): one sweep over
  * the document's token array, O(1) hash lookups per bigram, integer
  * accumulation — no row expansion, no join, no shuffle. It is also
  * the score inside [[graft.streaming.StreamPretrain]]'s KN gate
  * (`knKeep`, one boolean Column in the ingest's gate filter, the
  * per-lang threshold a map-literal lookup).
  *
  * Child is the token array (`tokens(lower(text))` — tokenization
  * stays in the shared compiled expression, so token boundaries are
  * identical to the join path's). Per bigram the cost is exactly the
  * old `coalesce(_pc, _b1 + _cc, oov)`: the pair cost when the pair
  * is in the table, else the interpolation backoff B1(w1)+C(w2) when
  * BOTH sides are known, else the uniform OOV floor. Returns
  * (n_big, nll_micro) as a struct, or NULL below 2 tokens (nothing
  * to score — the join path's `_n >= 1` filter).
  *
  * The tables ride in the expression (vocabulary-bounded — the same
  * bound that let the join path broadcast them); lookups hit
  * transient two-level HashMaps built once per task. Long sums
  * are order-independent, so the scores are bit-identical to the
  * join path's (LangModelSpec asserts exact parity on the fixtures).
  */
case class KnDocCost(child: Expression,
    pairCost: Map[(String, String), Long], b1Cost: Map[String, Long],
    cCost: Map[String, Long], oovCost: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_big", LongType, nullable = false),
    StructField("nll_micro", LongType, nullable = false)))

  // NULL for sub-2-token inputs even when the CHILD is non-nullable
  // (the LmDocCost override rationale: without it the optimizer folds
  // a downstream IsNotNull guard to true)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"kn_doc_cost expects array<string>, got $other")
    }

  // pair lookups go through a two-level map (w1 → (w2 → cost)) so the
  // hot loop never allocates a composite key
  @transient private lazy val pairTbl
      : java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]] = {
    val m = new java.util.HashMap[String, java.util.HashMap[String, java.lang.Long]]()
    pairCost.foreach { case ((w1, w2), c) =>
      var inner = m.get(w1)
      if (inner == null) {
        inner = new java.util.HashMap[String, java.lang.Long]()
        m.put(w1, inner)
      }
      inner.put(w2, java.lang.Long.valueOf(c))
    }
    m
  }
  @transient private lazy val b1Tbl: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](b1Cost.size * 2)
    b1Cost.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }
  @transient private lazy val cTbl: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](cCost.size * 2)
    cCost.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n < 2) null
    else {
      var sum = 0L
      // each token is decoded once: the current bigram's w2 becomes
      // the next bigram's w1. A null element (admitted by the type
      // check, though the tokens() child never produces one) is never
      // in any table, so its bigrams take the OOV branch — exactly
      // the join path's null-never-matches semantics; HashMap.get
      // accepts a null key.
      var w1: String =
        if (arr.isNullAt(0)) null else arr.getUTF8String(0).toString
      var i = 1
      while (i < n) {
        val w2: String =
          if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
        val inner = pairTbl.get(w1)
        val pc: java.lang.Long = if (inner == null) null else inner.get(w2)
        if (pc != null) sum += pc.longValue()
        else {
          val b = b1Tbl.get(w1)
          val c = cTbl.get(w2)
          if (b != null && c != null) sum += b.longValue() + c.longValue()
          else sum += oovCost
        }
        w1 = w2
        i += 1
      }
      InternalRow((n - 1).toLong, sum)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
