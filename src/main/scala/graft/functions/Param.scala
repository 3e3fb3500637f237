package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** A per-call bigint or double constant that generated code reads from
  * the plan's reference objects instead of inlining it. Spark writes a
  * primitive literal into the generated Java source, so two plans that
  * differ only in such a value (a pass's observed sum N, a p-value
  * threshold) compile two classes; with a Param they share one. Not
  * foldable, so the optimizer keeps it as is.
  */
case class Param(value: Any, dataType: DataType) extends LeafExpression {
  require((dataType == LongType && value.isInstanceOf[Long]) ||
    (dataType == DoubleType && value.isInstanceOf[Double]),
    s"param: a bigint or double value, got $value of $dataType")
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = CodeGenerator.boxedType(dataType)
    val ref = ctx.addReferenceObj("param", value, boxed)
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.expression(s"$ref.${javaType}Value()", dataType))
  }

  override def toString: String = s"param($value)"
}

object Param {
  def apply(value: Long): Param = Param(value, LongType)
  def apply(value: Double): Param = Param(value, DoubleType)
}
