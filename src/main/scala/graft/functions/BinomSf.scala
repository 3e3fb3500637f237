package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, TernaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expression for the binomial survival function
  * (SURVEY.md §4.2): `binom_sf(k, n, p) = P[X ≥ k], X ~ Binom(n, p)`.
  *
  * The one p-value of the library: it participates in whole-stage
  * codegen — the generated Java calls the static kernel ([[Binom.sf]])
  * directly, with no encoder boxing or UDF closure dispatch in the
  * per-row hot path of the significance pipeline (A18).
  */
case class BinomSf(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = first.dataType == LongType && second.dataType == LongType &&
      third.dataType == DoubleType
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("binom_sf(k BIGINT, n BIGINT, p DOUBLE)")
  }
  override def prettyName: String = "binom_sf"

  override protected def nullSafeEval(k: Any, n: Any, p: Any): Any =
    Binom.sf(k.asInstanceOf[Long], n.asInstanceOf[Long],
      p.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, n, p) =>
      s"graft.functions.Binom$$.MODULE$$.sf($k, $n, $p)")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): BinomSf =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object BinomSf {
  private val info = new ExpressionInfo(classOf[BinomSf].getName, "binom_sf")
  private[functions] val builder = (children: Seq[Expression]) => {
    require(children.length == 3, "binom_sf(k, n, p) takes 3 arguments")
    BinomSf(children(0), children(1), children(2))
  }

  /** Register `binom_sf` for SQL on an existing session, once: a session
    * that already has it (an earlier call, or [[GraftExtensions]]) is
    * left as is, so repeated calls never re-register and log Spark's
    * "replaced a previously registered function" warning.
    */
  def register(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("binom_sf")))
      registry.createOrReplaceTempFunction("binom_sf", builder, "built-in")
  }

  /** `binom_sf(k, n, p)` as a Column with `n` a [[Param]]: a per-call N
    * is not baked into the generated code, and no registry lookup runs.
    */
  def column(k: Column, n: Long, p: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column => col, expression}
    col(BinomSf(expression(k.cast("long")), Param(n),
      expression(p.cast("double"))))
  }
}

/** `spark.sql.extensions=graft.functions.GraftExtensions` injects the
  * function at session build time (the SparkSessionExtensions route).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // reuse the arity-checked builder: a bare children(2) turns a
    // wrong-arity SELECT binom_sf(1, 2) into an IndexOutOfBounds
    // instead of the "takes 3 arguments" message the register path
    // gives for the same mistake
    ext.injectFunction((FunctionIdentifier("binom_sf"),
      new ExpressionInfo(classOf[BinomSf].getName, "binom_sf"),
      BinomSf.builder))
    // whole-operator route: the as-of join planner strategy
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // optimizer-rule route: marker-hinted band-join bin rewrite
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinBinRule)
    // custom window-aggregate function (the registry path is load-bearing
    // for window functions: see EmaWindow.emaCents)
    ext.injectFunction((FunctionIdentifier("ema_cents"),
      new ExpressionInfo(classOf[EmaCents].getName, "ema_cents"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "ema_cents(x) takes 1 argument")
        EmaCents(children.head)
      }))
  }
}
