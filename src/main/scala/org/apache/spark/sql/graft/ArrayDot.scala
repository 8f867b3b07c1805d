package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) allocates an intermediate
  * array and evaluates interpreted lambdas per element, outside
  * whole-stage codegen. This expression compiles to a bare primitive loop
  * in the generated code (SURVEY.md §7.3's "fused distance expression"
  * trigger point) while preserving the exact sequential summation order
  * the DuckDB oracle's `list_dot_product` uses, so results stay
  * bit-identical.
  *
  * Lives under `org.apache.spark.sql` to reach the `private[sql]`
  * expression plumbing — the sanctioned pattern for out-of-tree Catalyst
  * expressions.
  */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += x.getDouble(i) * y.getDouble(i)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Manhattan distance Σ|a−b| with the same codegen shape as [[ArrayDot]];
  * summation over the common prefix, sequential order (oracle-parity).
  */
case class ArrayL1(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l1"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        s += math.abs(x.getDouble(i) - y.getDouble(i))
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += java.lang.Math.abs($a.getDouble($i) - $b.getDouble($i));
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayL1 =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance Σ(a−b)² (callers take the sqrt — keeping the
  * same `sqrt(sum)` op order as the HOF form and DuckDB `list_distance`).
  */
case class ArraySqDiff(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sqdiff"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArraySqDiff =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points + SQL registration for graft's native
  * expressions.
  */
object GraftExpressions {
  def arrayDot(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayDot(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Null-faithful dot (NULL on length mismatch or any NULL element) —
    * [[ArrayDotStrict]]. Callers that cannot guarantee fixed-width,
    * null-free arrays should use this: a malformed input becomes an
    * observable NULL instead of [[ArrayDot]]'s silent partial sum.
    */
  def arrayDotStrict(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayDotStrict(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** `M·x` for every row as one strict kernel, [[MatVecStrict]]: an
    * `array<double>` of `matrix.length` components, all NULL when `x` is
    * NULL, not `matrix(0).length` long, or holds a NULL. The matrix is
    * copied, so later writes to the caller's array cannot change the plan.
    */
  def matVecStrict(x: Column, matrix: Array[Array[Double]]): Column =
    ExpressionUtils.column(MatVecStrict(
      ExpressionUtils.expression(x), new ProjectionMatrix(matrix.map(_.clone))))

  def arrayL1(a: Column, b: Column): Column =
    ExpressionUtils.column(ArrayL1(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def arraySqDiff(a: Column, b: Column): Column =
    ExpressionUtils.column(ArraySqDiff(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Register graft_dot / graft_l1 / graft_sqdiff for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", exprs => ArrayDot(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_l1", exprs => ArrayL1(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sqdiff", exprs => ArraySqDiff(exprs.head, exprs(1)), "scala_udf")
    // graft_winnow_fps(text, k, w) — k/w must be integer literals.
    // Validated by pattern match rather than an eager eval().asInstanceOf:
    // a BIGINT literal (4L), CAST, or column argument used to surface as
    // an opaque ClassCastException/NPE at plan-build time (ADVICE r10
    // #3); now it is an AnalysisException naming the requirement.
    def intLit(e: Expression, arg: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) if v.isValidInt => v.toInt
      case Literal(v: Short, ShortType) => v.toInt
      case Literal(v: Byte, ByteType) => v.toInt
      case other => throw new org.apache.spark.sql.AnalysisException(
        "USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          (s"graft_winnow_fps: argument '$arg' must be an integer literal " +
            s"(k-gram / window size are plan-time constants); got ${other.sql}")),
        None)
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_winnow_fps", exprs => WinnowFingerprints(exprs.head,
        intLit(exprs(1), "k"), intLit(exprs(2), "w")),
      "scala_udf")
  }
}
