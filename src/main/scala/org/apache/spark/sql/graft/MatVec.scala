package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType}

/** A dense `outDim × inLen` matrix held as a plan constant.
  *
  * Equality and hashing are by content (`Arrays.deepEquals` /
  * `deepHashCode`), so two plans built from equal but distinct arrays —
  * a bit-reproducible refit — canonicalize alike and the cache manager
  * matches one against the other. `toString` is a shape plus the content
  * hash, so plan strings, AQE re-plans and SQL-execution events never
  * render the entries themselves.
  */
final class ProjectionMatrix(val rows: Array[Array[Double]]) extends Serializable {
  require(rows.nonEmpty && rows(0).nonEmpty && rows.forall(_.length == rows(0).length),
    s"projection matrix must be non-empty and rectangular; got ${rows.length} rows of lengths " +
      rows.map(_.length).distinct.mkString("[", ", ", "]"))

  def outDim: Int = rows.length
  def inLen: Int = rows(0).length

  private lazy val hash = java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])

  override def hashCode: Int = hash

  override def equals(o: Any): Boolean = o match {
    case m: ProjectionMatrix => (m eq this) || (m.hashCode == hash &&
      java.util.Arrays.deepEquals(m.rows.asInstanceOf[Array[AnyRef]], rows.asInstanceOf[Array[AnyRef]]))
    case _ => false
  }

  override def toString: String = f"matrix[${outDim}x$inLen#$hash%08x]"

  /** `M·x` with per-row sequential sums; `outDim` NULLs when `x` is NULL,
    * not `inLen` long, or holds a NULL. */
  def times(x: ArrayData): ArrayData = {
    val n = inLen
    def allNull = new GenericArrayData(new Array[Any](outDim))
    if (x == null || x.numElements() != n) return allNull
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return allNull
      v(i) = x.getDouble(i)
      i += 1
    }
    val out = new Array[Double](outDim)
    var r = 0
    while (r < outDim) {
      val row = rows(r)
      var s = 0.0
      i = 0
      while (i < n) { s += v(i) * row(i); i += 1 }
      out(r) = if (s.isNaN) Double.NaN else s
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Strict matrix–vector product `M·x` over an `array<double>` column, as
  * one expression: component r is the sequential sum `Σ x[i]·M[r][i]`,
  * left to right — the order of [[ArrayDotStrict]] and of DuckDB's
  * `list_dot_product`, so results are bit-identical to
  * `array(ArrayDotStrict(x, row_0), …, ArrayDotStrict(x, row_{outDim-1}))`.
  *
  * Strictness matches that form too: a NULL input, a length other than
  * `inLen` or a NULL element gives an array of `outDim` NULLs (never a
  * NULL array, never a partial sum). A NaN component is stored as the
  * canonical `Double.NaN`: Java leaves the bits of an arithmetic NaN
  * unspecified, and on x86 they follow the JIT's operand order, so the
  * per-row form's NaN bits were not reproducible in the first place.
  *
  * The matrix is a non-child constructor value, not literal children. The
  * generated code passes it, as a reference object, to
  * [[ProjectionMatrix.times]] — one nested loop in an ordinary method that
  * the JIT compiles once, and the same code `eval` runs. The generated
  * method thus grows by one call whatever the shape (64 inlined per-row
  * dots of 256 literals went past HotSpot's 8,000-byte JIT limit), and the
  * compiled class is shared by every matrix.
  */
case class MatVecStrict(child: Expression, matrix: ProjectionMatrix)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def nullable: Boolean = false

  override def prettyName: String = "graft_project"

  override def eval(input: InternalRow): Any =
    matrix.times(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val in = child.genCode(ctx)
    val m = ctx.addReferenceObj("matrix", matrix)
    ev.copy(isNull = FalseLiteral, code = code"""
      |${in.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $m.times(${in.isNull} ? null : ${in.value});
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecStrict =
    copy(child = newChild)
}
