package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Add, AggregateWindowFunction, And, Ascending, AttributeReference, Expression, GreaterThanOrEqual, If, ImplicitCastInputTypes, IsNaN, IsNotNull, Literal, Multiply, Not, Or, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BooleanType, DataType, DoubleType, LongType}

/** The `adjust=False` EMA `ema_t = α·x_t + (1−α)·ema_{t−1}`, seeded at the
  * first observation, as a running window function.
  *
  * A NULL or NaN input is not an observation: it leaves the state as it
  * is. The result is NULL until `minPeriods` observations have been seen
  * (pandas' `min_periods` counts observations, not rows). The buffer is
  * `(ema, has, n)` and the frame is fixed at `ROWS BETWEEN UNBOUNDED
  * PRECEDING AND CURRENT ROW`, so `WindowExec` updates it one row at a
  * time, in the same sorted pass as any other window column of the key.
  */
case class RunningEma(child: Expression, alpha: Double, minPeriods: Int)
    extends AggregateWindowFunction with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ema"

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = false)()
  private lazy val has = AttributeReference("has", BooleanType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(ema, has, n)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0.0), Literal(false), Literal(0L))

  override lazy val updateExpressions: Seq[Expression] = {
    val obs = And(IsNotNull(child), Not(IsNaN(child)))
    val step = Add(Multiply(Literal(alpha), child), Multiply(Literal(1 - alpha), ema))
    Seq(If(obs, If(has, step, child), ema), Or(has, obs), If(obs, Add(n, Literal(1L)), n))
  }

  override lazy val evaluateExpression: Expression =
    If(And(has, GreaterThanOrEqual(n, Literal(minPeriods.toLong))), ema, Literal(null, DoubleType))

  override protected def withNewChildInternal(newChild: Expression): RunningEma =
    copy(child = newChild)
}

object RunningEma {

  /** `RunningEma(x)` over `PARTITION BY key ORDER BY ord ASC`. The Column
    * API would wrap a bare aggregate function in an `AggregateExpression`
    * (a window function without OVER), so the whole window expression is
    * built here.
    */
  def over(x: Column, key: Column, ord: Column, alpha: Double, minPeriods: Int): Column = {
    val fn = RunningEma(ExpressionUtils.expression(x), alpha, minPeriods)
    val spec = WindowSpecDefinition(Seq(ExpressionUtils.expression(key)),
      Seq(SortOrder(ExpressionUtils.expression(ord), Ascending)), fn.frame)
    ExpressionUtils.column(WindowExpression(fn, spec))
  }
}
