package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-call bigint constant that generated code reads from the plan's
  * reference objects instead of inlining it. Spark writes a primitive
  * literal into the generated Java source, so two plans that differ only
  * in such a value (a pass's observed sum N) compile two classes; with a
  * Param they share one. Not foldable, so the optimizer keeps it as is.
  */
case class Param(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.longValue()", LongType))
  }

  override def toString: String = s"param($value)"
}
