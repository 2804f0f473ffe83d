package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-document LM cost under a collected char-trigram model — the
  * compiled single-pass face of [[graft.operators.LangModel.lmScore]]:
  * one sweep over the lowercased text, an O(1) hash lookup per
  * trigram, integer accumulation. Returns (n_tri, nll_micro) as a
  * struct, or NULL below 3 chars (nothing to score).
  *
  * The cost table rides in the expression (bounded: vocabulary ≤
  * charset³, the same bound that lets lmScore broadcast it); lookups
  * hit a transient HashMap built once per task. Lowercasing uses
  * root-locale String semantics — equivalent to Spark's lower() on
  * the ASCII/BMP text this pipeline processes (LangModelSpec asserts
  * exact parity with the join-based lmScore on the fixtures).
  */
case class LmDocCost(child: Expression, costs: Map[String, Long],
    oovCost: Long) extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StructType(Seq(
    StructField("n_tri", LongType, nullable = false),
    StructField("nll_micro", LongType, nullable = false)))

  // NULL for sub-3-char inputs even when the CHILD is non-nullable —
  // without this override the optimizer folds a downstream IsNotNull
  // guard to true and the null struct leaks through
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"lm_doc_cost expects string, got $other")
    }

  @transient private lazy val table: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](costs.size * 2)
    costs.foreach { case (k, v) => m.put(k, java.lang.Long.valueOf(v)) }
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
      .toLowerCase(java.util.Locale.ROOT)
    val n = s.length - 2
    if (n <= 0) null
    else {
      var i = 0
      var sum = 0L
      while (i < n) {
        val c = table.get(s.substring(i, i + 3))
        sum += (if (c == null) oovCost else c.longValue())
        i += 1
      }
      InternalRow(n.toLong, sum)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
