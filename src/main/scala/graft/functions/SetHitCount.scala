package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Number of elements of a string array present in a FROZEN set —
  * the compiled single-pass core of [[graft.streaming.StreamPretrain]]'s
  * decontamination gate (`deconKeep`, one boolean Column in the
  * ingest's gate filter): one sweep over the array, an O(1) hash
  * probe per element, no row expansion, no join, no shuffle. NULL
  * elements never match.
  *
  * The set rides in the expression (the frozen benchmark gram set is
  * capped at 2^20 entries — the same bound that let the join path
  * broadcast it); probes hit a transient HashSet built once per
  * task. Fed a DISTINCT-gram array ([[WordNgrams]]'s contract)
  * the count equals the join path's per-document distinct-hit count
  * exactly (StreamPretrainSpec pins parity on the fixtures).
  */
case class SetHitCount(child: Expression, set: Seq[String])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"set_hit_count expects array<string>, got $other")
    }

  @transient private lazy val table: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](set.size * 2)
    set.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var hits = 0L
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          table.contains(arr.getUTF8String(i).toString)) hits += 1L
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
