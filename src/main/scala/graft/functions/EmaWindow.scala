package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Add, AggregateWindowFunction, AttributeReference, Expression, If, IsNull, Literal, ShiftRight}
import org.apache.spark.sql.types.{DataType, LongType}

/** Custom DECLARATIVE window function — the remaining Catalyst extension
  * surface next to scalar expressions (BinomSf …), the whole-operator
  * plan (AsOfJoin) and the injected optimizer rule (RangeJoinBinRule):
  * an `AggregateWindowFunction` whose per-row state transition is pure
  * Catalyst expressions, so the window exec runs it inside the same
  * generated running-frame loop as `sum() over` — no UDAF object, no
  * per-row closure dispatch, state is one long in the frame buffer.
  *
  * Semantics: integer-cents exponential moving average with α = 1/2 and
  * FLOOR division, `s₁ = x₁; sₙ = ⌊(xₙ + sₙ₋₁)/2⌋` (arithmetic shift) —
  * integer end-to-end, so the result is exact, order-deterministic, and
  * engine-portable (a float EMA recurrence can never hash-match across
  * engines; this one does, which is what lets q_win_ema carry a full
  * DuckDB oracle as a recursive CTE). Null inputs propagate the running
  * state unchanged (outer IsNull guard — a null x neither resets nor
  * poisons the state).
  */
case class EmaCents(child: Expression) extends AggregateWindowFunction
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = LongType
  override def prettyName: String = "ema_cents"
  // declared input contract: ints widen via the implicit cast, a
  // double/string input fails analysis with "ema_cents(x BIGINT)"
  // instead of a type-mismatch on the synthesized If/ShiftRight
  // internals the user never wrote
  override def inputTypes: Seq[DataType] = Seq(LongType)

  private lazy val ema =
    AttributeReference("ema", LongType, nullable = true)()
  override def aggBufferAttributes: Seq[AttributeReference] = ema :: Nil
  override val initialValues: Seq[Expression] =
    Literal.create(null, LongType) :: Nil
  override lazy val updateExpressions: Seq[Expression] =
    If(IsNull(child), ema,
      If(IsNull(ema), child,
        ShiftRight(Add(child, ema), Literal(1)))) :: Nil
  override lazy val evaluateExpression: Expression = ema

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EmaCents =
    copy(child = newChildren(0))
}

object EmaWindow {
  /** `emaCents(spark, x).over(w)` — running ⌊(x + s)/2⌋ EMA on a long
    * column. Goes through the function REGISTRY (like `rank()` itself),
    * not the expression bridge: the Column-node converter wraps any bare
    * `AggregateFunction` in an `AggregateExpression`, and an
    * AggregateWindowFunction under an AggregateExpression fails analysis
    * ("requires an OVER clause") — only the UnresolvedFunction path
    * leaves window-aggregates bare inside the WindowExpression.
    */
  def emaCents(spark: org.apache.spark.sql.SparkSession,
      c: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("ema_cents", c)
  }

  /** Imperative registration for an existing session, once: a session
    * that already has `ema_cents` (an earlier call, or
    * [[GraftExtensions]]) is left as is (the `BinomSf.register` guard).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    synchronized {
      val registry = spark.sessionState.functionRegistry
      if (!registry.functionExists(FunctionIdentifier("ema_cents")))
        registry.createOrReplaceTempFunction("ema_cents", { children =>
          require(children.length == 1, "ema_cents(x) takes 1 argument")
          EmaCents(children.head)
        }, "built-in")
    }
}
