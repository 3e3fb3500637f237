package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for a BH q-value as a step function of p
  * (SURVEY.md A19, `hic.Stats.bhQ`): `qs(i)` for a p equal to `ps(i)`, and
  * 1.0 for every other p. `ps` holds distinct p values in ascending
  * order. The match is on the exact double, so the column must recompute
  * the same p bits the steps were built from.
  *
  * Like [[SplineInterp]], the generated Java binary-searches the step
  * arrays as reference objects, so every pass and both Fit-Hi-C models
  * share one class whatever their steps, and the scoring projection
  * stays one whole-stage-codegen span that Catalyst can see through.
  */
case class BhStep(child: Expression, ps: Array[Double], qs: Array[Double])
    extends UnaryExpression {
  require(ps.length == qs.length, "bh_step needs matching step arrays")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("bh_step(p DOUBLE)")
  override def prettyName: String = "bh_step"

  override protected def nullSafeEval(p: Any): Any =
    BhStep.q(ps, qs, p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val psRef = ctx.addReferenceObj("bhPs", ps, "double[]")
    val qsRef = ctx.addReferenceObj("bhQs", qs, "double[]")
    defineCodeGen(ctx, ev, p =>
      s"graft.functions.BhStep$$.MODULE$$.q($psRef, $qsRef, $p)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BhStep = copy(child = newChild)

  // Array equality is reference-based: compare contents so plan
  // canonicalization and reuse behave
  override def equals(other: Any): Boolean = other match {
    case s: BhStep => child == s.child &&
      java.util.Arrays.equals(ps, s.ps) && java.util.Arrays.equals(qs, s.qs)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(
      java.util.Arrays.hashCode(ps) * 31 + java.util.Arrays.hashCode(qs)))
}

object BhStep {
  /** The step function at `p`. */
  def q(ps: Array[Double], qs: Array[Double], p: Double): Double = {
    val i = java.util.Arrays.binarySearch(ps, p)
    if (i >= 0) qs(i) else 1.0
  }

  /** Column-DSL entry: `BhStep.column(ps, qs)(p)`. */
  def column(ps: Array[Double], qs: Array[Double])(p: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      BhStep(org.apache.spark.sql.GraftColumnBridge.expression(p), ps, qs))
}
