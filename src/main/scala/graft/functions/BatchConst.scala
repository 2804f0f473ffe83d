package graft.functions

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** A constant that changes from one micro-batch to the next — the
  * batch timestamp, the batch id — kept OUT of the generated source.
  *
  * Structured Streaming plans and compiles every micro-batch anew, and
  * codegen writes a folded literal into the class text, so a per-batch
  * value changes the source every batch and Janino recompiles the
  * whole stage (about 56 k characters, twice per results trigger, for
  * the `current_timestamp()` fallback of [[LogFunctions.tsOrNow]]).
  * This wrapper is never foldable, so its child still becomes a literal
  * (streaming turns `current_timestamp()` into the batch's timestamp,
  * batch mode into the query's) but the wrapper does not, and
  * `doGenCode` hands the literal's value to the class through
  * `references`: the source is the same every batch and Spark's code
  * cache serves it. Values, types and nullability are the child's.
  */
case class BatchConst(child: Expression) extends UnaryExpression {

  override def foldable: Boolean = false
  override def dataType: DataType = child.dataType

  override protected def nullSafeEval(v: Any): Any = v

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child match {
      case Literal(v, _) if v != null =>
        val ref = ctx.addReferenceObj("batchConst", v, CodeGenerator.boxedType(dataType))
        ev.copy(isNull = FalseLiteral,
          code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;")
      // a null or an unfolded child: its own code, the same values
      case _ => child.genCode(ctx)
    }

  override protected def withNewChildInternal(newChild: Expression): BatchConst =
    copy(child = newChild)
}

object BatchConst {
  /** The constant Column `c` (`lit(batchId)`, `current_timestamp()`)
    * as a [[BatchConst]]: same values, no per-batch code. */
  def apply(c: Column): Column =
    GraftExprBridge.column(BatchConst(GraftExprBridge.expression(c)))
}
