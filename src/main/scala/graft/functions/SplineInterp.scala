package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the fitted-null curve lookup
  * (SURVEY.md A17): piecewise-linear interpolation through the spline
  * knots, constant extrapolation beyond the ends — the same kernel as
  * `hic.Spline.eval`, on the same knot arrays.
  *
  * Unlike a Scala UDF over `Spline.eval` this participates in
  * whole-stage codegen: the generated Java binary-searches the
  * reference-object knot arrays directly, so the per-pair prior lookup
  * in the scoring pass — together with the `binom_sf` call it feeds
  * ([[BinomSf]]) — stays inside ONE codegen span with no UDF closure
  * dispatch or Double boxing. The knot arrays are O(nBins) doubles
  * riding the plan as reference objects.
  */
case class SplineInterp(child: Expression, xs: Array[Double],
    ys: Array[Double]) extends UnaryExpression {
  require(xs.length > 0 && xs.length == ys.length,
    "spline_interp needs matching non-empty knot arrays")
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("spline_interp(x DOUBLE)")
  override def prettyName: String = "spline_interp"

  override protected def nullSafeEval(x: Any): Any =
    graft.hic.Spline.eval(xs, ys, x.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val xsRef = ctx.addReferenceObj("splineXs", xs, "double[]")
    val ysRef = ctx.addReferenceObj("splineYs", ys, "double[]")
    defineCodeGen(ctx, ev, x =>
      s"graft.hic.Spline$$.MODULE$$.eval($xsRef, $ysRef, $x)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SplineInterp = copy(child = newChild)

  // the knot arrays are part of the expression's identity for plan
  // equality, but Array equality is reference-based — compare contents
  // so canonicalization/reuse behaves
  override def equals(other: Any): Boolean = other match {
    case s: SplineInterp => child == s.child &&
      java.util.Arrays.equals(xs, s.xs) && java.util.Arrays.equals(ys, s.ys)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Integer.valueOf(
      java.util.Arrays.hashCode(xs) * 31 + java.util.Arrays.hashCode(ys)))
}

object SplineInterp {
  /** Column-DSL entry: `SplineInterp.curve(xs, ys)(col)`, the curve
    * through the knots as a column of `col`.
    */
  def curve(xs: Array[Double], ys: Array[Double])(x: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SplineInterp(org.apache.spark.sql.GraftColumnBridge
        .expression(x.cast("double")), xs, ys))
}
