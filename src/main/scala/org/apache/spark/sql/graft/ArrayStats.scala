package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** Fused window-statistics expressions for the pattern-window pipeline.
  * Each mirrors the HOF formulation's sequential floating-point order
  * exactly (oracle-parity) while compiling to primitive loops.
  */

/** Σ arr — sequential sum. */
case class ArraySum(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_asum"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) s += x.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) $s += $a.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ArraySum =
    copy(child = newChild)
}

/** Σ (arr_i − mean)² — the second pass of a population std. */
case class ArraySumSqAround(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_asumsq"

  override def nullSafeEval(a: Any, m: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val mean = m.asInstanceOf[Double]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (!x.isNullAt(i)) {
        val d = x.getDouble(i) - mean
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m) => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |double $s = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $d = $a.getDouble($i) - $m;
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySumSqAround =
    copy(left = newLeft, right = newRight)
}

/** Σ over arr[start, start+len) of (x − center)/(scale + eps) — one
  * mean-pool bucket of the z-scored window, computed without
  * materializing the z array. `start`/`len` are 0-based plan constants.
  */
case class ArrayZSliceSum(first: Expression, second: Expression, third: Expression,
    start: Int, len: Int, eps: Double = 1e-8)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType, DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_zslicesum"

  override def nullSafeEval(a: Any, c: Any, s0: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val center = c.asInstanceOf[Double]
    val scale = s0.asInstanceOf[Double]
    val end = math.min(start + len, x.numElements())
    var s = 0.0
    var i = start
    while (i < end) {
      if (!x.isNullAt(i)) s += (x.getDouble(i) - center) / (scale + eps)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c, sc) => {
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val end = ctx.freshName("end")
      s"""
         |int $end = java.lang.Math.min($start + $len, $a.numElements());
         |double $s = 0.0;
         |for (int $i = $start; $i < $end; $i++) {
         |  if (!$a.isNullAt($i)) $s += ($a.getDouble($i) - $c) / ($sc + $eps);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ArrayZSliceSum =
    copy(first = f, second = s, third = t)
}

/** The z-scored window `[(x_i − center)/(scale + eps)]` in one pass — the
  * elementwise result of `transform(arr, x -> (x − center)/(scale + eps))`,
  * bit for bit: the same two IEEE operations per element, with the
  * divisor formed once per row (the lambda formed the same double per
  * element). A NULL element stays NULL. A zero divisor follows `Divide`:
  * an error under ANSI mode (`failOnError`), else every element NULL.
  *
  * As a codegen'd expression it costs O(len) per row however the
  * optimizer inlines `center`/`scale` into it; a lambda has no codegen,
  * and with those inlined it re-sums the window for every element. The
  * loop lives in [[ZscoreKernel]], which `eval` and the generated code
  * share.
  */
case class ArrayZscore(first: Expression, second: Expression, third: Expression,
    eps: Double, failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), DoubleType, DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "graft_zscore"

  override def nullSafeEval(a: Any, c: Any, s: Any): Any =
    ZscoreKernel.zscore(a.asInstanceOf[ArrayData], c.asInstanceOf[Double],
      s.asInstanceOf[Double] + eps, failOnError)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, c, s) =>
      s"${ZscoreKernel.getClass.getName.stripSuffix("$")}.zscore($a, $c, $s + $eps, $failOnError)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): ArrayZscore =
    copy(first = f, second = s, third = t)
}

object ZscoreKernel {
  def zscore(x: ArrayData, center: Double, denom: Double, failOnError: Boolean): ArrayData = {
    if (denom == 0.0 && failOnError) throw QueryExecutionErrors.divideByZeroError(null)
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) out(i) = (x.getDouble(i) - center) / denom
      i += 1
    }
    val z = UnsafeArrayData.fromPrimitiveArray(out)
    i = 0
    while (i < n) {
      if (denom == 0.0 || x.isNullAt(i)) z.setNullAt(i)
      i += 1
    }
    z
  }
}

object ArrayStatsExpressions {
  def arraySum(a: Column): Column =
    ExpressionUtils.column(ArraySum(ExpressionUtils.expression(a)))

  def arraySumSqAround(a: Column, mean: Column): Column =
    ExpressionUtils.column(ArraySumSqAround(
      ExpressionUtils.expression(a), ExpressionUtils.expression(mean)))

  def arrayZSliceSum(a: Column, center: Column, scale: Column,
      start: Int, len: Int): Column =
    ExpressionUtils.column(ArrayZSliceSum(
      ExpressionUtils.expression(a), ExpressionUtils.expression(center),
      ExpressionUtils.expression(scale), start, len))

  def arrayZscore(a: Column, center: Column, scale: Column, eps: Double): Column =
    ExpressionUtils.column(ArrayZscore(ExpressionUtils.expression(a),
      ExpressionUtils.expression(center), ExpressionUtils.expression(scale), eps))
}
