package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Add, AggregateWindowFunction, And, Ascending, AttributeReference, Divide, EqualTo, Expression, GreaterThanOrEqual, If, ImplicitCastInputTypes, IsNaN, IsNotNull, Literal, Multiply, Not, SortOrder, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, DataType, DoubleType, LongType}

/** The EMA of pandas `ewm(adjust=False)` with its default `ignore_na=False`,
  * as a running window function.
  *
  * A NULL or NaN input is a missing row. The first observation seeds the
  * EMA. From then on pandas keeps an old-value weight `w`: every row, a
  * missing one too, multiplies it by (1−α); an observation `x` then sets
  * `ema = (w·ema + α·x)/(w + α)` and resets `w` to 1, and a missing row
  * keeps the EMA as it is. Where no row was missing since the last
  * observation the update is written `α·x + (1−α)·ema`, which is pandas'
  * value to within one ulp. An EMA that turns NaN (∞ − ∞) is unseeded, as
  * in pandas: the next observation seeds it again.
  *
  * The result is NULL until `minPeriods` observations have been seen
  * (pandas' `min_periods` counts observations, not rows) and while the
  * EMA is unseeded. The buffer is `(ema, w, n)`, with `ema` NaN before
  * the seed, and the frame is fixed at `ROWS BETWEEN UNBOUNDED PRECEDING
  * AND CURRENT ROW`, so `WindowExec` updates it one row at a time, in the
  * same sorted pass as any other window column of the key.
  */
case class RunningEma(child: Expression, alpha: Double, minPeriods: Int)
    extends AggregateWindowFunction with UnaryLike[Expression] with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_ema"

  private lazy val ema = AttributeReference("ema", DoubleType, nullable = false)()
  private lazy val w = AttributeReference("w", DoubleType, nullable = false)()
  private lazy val n = AttributeReference("n", LongType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(ema, w, n)

  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(Double.NaN), Literal(1.0), Literal(0L))

  private lazy val seeded = Not(IsNaN(ema))

  override lazy val updateExpressions: Seq[Expression] = {
    val obs = And(IsNotNull(child), Not(IsNaN(child)))
    val decayed = Multiply(w, Literal(1 - alpha))
    val step = Add(Multiply(Literal(alpha), child), Multiply(Literal(1 - alpha), ema))
    val afterGap = Divide(Add(Multiply(decayed, ema), Multiply(Literal(alpha), child)),
      Add(decayed, Literal(alpha)))
    Seq(
      If(obs, If(seeded, If(EqualTo(w, Literal(1.0)), step, afterGap), child), ema),
      If(obs, Literal(1.0), If(seeded, decayed, w)),
      If(obs, Add(n, Literal(1L)), n))
  }

  override lazy val evaluateExpression: Expression =
    If(And(seeded, GreaterThanOrEqual(n, Literal(minPeriods.toLong))), ema, Literal(null, DoubleType))

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
