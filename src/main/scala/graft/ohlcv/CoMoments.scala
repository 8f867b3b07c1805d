package graft.ohlcv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Row count, mean and co-moments `Σ (x − mean)(x − mean)ᵀ` of
  * fixed-length double vectors, built in one pass: Welford's update per
  * row, Chan et al.'s pairwise merge across partitions. The co-moment
  * matrix is held as its packed upper triangle (row-major, `dim(dim+1)/2`
  * entries); the arrays are allocated by the first row, so an empty
  * partition ships only its counters.
  *
  * `seen` counts every row offered; `rows` counts those that went into
  * the moments (all of them unless [[CoMoments.scan]] capped the
  * partition).
  */
final class CoMoments(val dim: Int) extends Serializable {
  var seen: Long = 0L
  var rows: Long = 0L
  private var mu: Array[Double] = _
  private var co: Array[Double] = _

  private def alloc(): Unit = if (mu == null) {
    mu = new Array[Double](dim)
    co = new Array[Double](dim * (dim + 1) / 2)
  }

  /** Welford: add `x` (length `dim`); `delta` is a caller-owned buffer of
    * the same length. */
  def add(x: Array[Double], delta: Array[Double]): Unit = {
    alloc()
    rows += 1
    val r = rows.toDouble
    var i = 0
    while (i < dim) {
      val dx = x(i) - mu(i)
      delta(i) = dx
      mu(i) += dx / r
      i += 1
    }
    // C += (r−1)/r · δδᵀ, the symmetric form of δ(x − mean_new)ᵀ.
    val f = (r - 1.0) / r
    var p = 0
    i = 0
    while (i < dim) {
      val di = delta(i) * f
      var j = i
      while (j < dim) { co(p) += di * delta(j); p += 1; j += 1 }
      i += 1
    }
  }

  /** Chan merge of `o` into this one; returns this. */
  def merge(o: CoMoments): CoMoments = {
    if (o.rows > 0) {
      if (rows == 0) {
        alloc()
        System.arraycopy(o.mu, 0, mu, 0, dim)
        System.arraycopy(o.co, 0, co, 0, co.length)
      } else {
        val n = (rows + o.rows).toDouble
        val delta = Array.tabulate(dim)(i => o.mu(i) - mu(i))
        val w = o.rows / n
        val f = rows.toDouble * o.rows / n
        var p = 0
        var i = 0
        while (i < dim) {
          mu(i) += delta(i) * w
          val di = delta(i) * f
          var j = i
          while (j < dim) { co(p) += o.co(p) + di * delta(j); p += 1; j += 1 }
          i += 1
        }
      }
      rows += o.rows
    }
    seen += o.seen
    this
  }

  /** Sample covariance, divisor `rows − 1` (MLlib's `computeCovariance`). */
  def covariance: Array[Array[Double]] = {
    require(rows >= 2, s"CoMoments: covariance needs at least 2 rows, have $rows")
    val m1 = (rows - 1).toDouble
    val c = Array.ofDim[Double](dim, dim)
    var p = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { val v = co(p) / m1; c(i)(j) = v; c(j)(i) = v; p += 1; j += 1 }
      i += 1
    }
    c
  }

  /** Population variance of the projection `x·v` over the rows:
    * `vᵀ C v / rows` with C the co-moments. */
  def projectedVariance(v: Array[Double]): Double = {
    require(rows >= 1 && v.length == dim,
      s"CoMoments: projectedVariance of a length-${v.length} vector over $rows rows of $dim")
    var s = 0.0
    var p = 0
    var i = 0
    while (i < dim) {
      var t = co(p) * v(i)
      p += 1
      var j = i + 1
      while (j < dim) { t += 2.0 * co(p) * v(j); p += 1; j += 1 }
      s += v(i) * t
      i += 1
    }
    s / rows
  }
}

object CoMoments {

  /** One pass over the `array<double>` column `arrCol`: the moments of
    * its rows, read as `InternalRow` arrays (no Row or boxed decoding).
    * Each partition adds at most its first `cap` rows to the moments and
    * counts the rest in `seen`. A row that enters the moments must be a
    * non-NULL array of `dim` finite, non-NULL doubles, or the job fails
    * with a message starting `who:`.
    */
  def scan(df: DataFrame, arrCol: String, dim: Int, cap: Long, who: String): CoMoments = {
    val in = df.select(arrCol)
    in.schema.head.dataType match {
      case ArrayType(DoubleType, _) =>
      case t => throw new IllegalArgumentException(
        s"$who: column '$arrCol' is ${t.simpleString}, want array<double>")
    }
    in.queryExecution.toRdd.mapPartitions { it =>
      val m = new CoMoments(dim)
      val x = new Array[Double](dim)
      val delta = new Array[Double](dim)
      while (it.hasNext) {
        val row = it.next()
        m.seen += 1
        if (m.seen <= cap) { read(row, x, arrCol, who); m.add(x, delta) }
      }
      Iterator.single(m)
    }.treeAggregate(new CoMoments(dim))(_ merge _, _ merge _)
  }

  private def read(row: InternalRow, x: Array[Double], arrCol: String, who: String): Unit = {
    if (row.isNullAt(0)) throw new IllegalArgumentException(s"$who: NULL window in '$arrCol'")
    val a = row.getArray(0)
    if (a.numElements != x.length) throw new IllegalArgumentException(
      s"$who: a window in '$arrCol' has ${a.numElements} elements, want ${x.length}")
    var i = 0
    while (i < x.length) {
      if (a.isNullAt(i)) throw new IllegalArgumentException(
        s"$who: NULL element at index $i of a window in '$arrCol'")
      val v = a.getDouble(i)
      if (!java.lang.Double.isFinite(v)) throw new IllegalArgumentException(
        s"$who: non-finite value $v at index $i of a window in '$arrCol'")
      x(i) = v
      i += 1
    }
  }
}
