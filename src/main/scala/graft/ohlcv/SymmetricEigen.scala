package graft.ohlcv

/** Eigendecomposition of a real symmetric matrix in plain Scala:
  * Householder reduction to tridiagonal form, then the implicit QL
  * method with accumulated rotations — the EISPACK `tred2`/`tql2` pair
  * as given in the public-domain JAMA package. O(n³) flops on the
  * driver: about 0.2 s cold for a 256 × 256 covariance.
  */
object SymmetricEigen {

  /** QL sweeps allowed per eigenvalue before the solver gives up
    * (EISPACK allows 30; a finite matrix converges in a few). */
  private val MaxSweeps = 100

  /** Eigenvalues of the symmetric matrix `a`, in descending order, and
    * the matching orthonormal eigenvectors as rows: `vectors(i)` belongs
    * to `values(i)`. `a` is not modified. An empty or non-square matrix
    * or a non-finite entry is rejected; a QL iteration that does not
    * converge throws an ArithmeticException.
    */
  def decompose(a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    require(n > 0 && a.forall(_.length == n),
      s"SymmetricEigen: the matrix is empty or not square ($n rows)")
    require(a.forall(_.forall(java.lang.Double.isFinite)),
      s"SymmetricEigen: the $n x $n matrix has a non-finite entry")
    val v = a.map(_.clone)
    val d = new Array[Double](n)
    val e = new Array[Double](n)
    tred2(n, v, d, e)
    // tql2 rotates pairs of eigenvector columns; with the columns stored
    // as rows the rotation runs over contiguous memory.
    val z = Array.tabulate(n, n)((i, k) => v(k)(i))
    tql2(n, z, d, e)
    val order = d.indices.sortBy(i => -d(i))
    (order.map(d).toArray, order.map(z).toArray)
  }

  /** Householder reduction of the symmetric `v` to tridiagonal form:
    * on return `d` holds the diagonal, `e` the subdiagonal (in
    * `e(1 until n)`), and `v` the accumulated orthogonal transform. */
  private def tred2(n: Int, v: Array[Array[Double]], d: Array[Double], e: Array[Double]): Unit = {
    var j = 0
    while (j < n) { d(j) = v(n - 1)(j); j += 1 }
    var i = n - 1
    while (i > 0) {
      // Scale to avoid under/overflow.
      var scale = 0.0
      var h = 0.0
      var k = 0
      while (k < i) { scale += math.abs(d(k)); k += 1 }
      if (scale == 0.0) {
        e(i) = d(i - 1)
        j = 0
        while (j < i) {
          d(j) = v(i - 1)(j); v(i)(j) = 0.0; v(j)(i) = 0.0
          j += 1
        }
      } else {
        // Generate the Householder vector.
        k = 0
        while (k < i) { d(k) /= scale; h += d(k) * d(k); k += 1 }
        var f = d(i - 1)
        var g = math.sqrt(h)
        if (f > 0) g = -g
        e(i) = scale * g
        h -= f * g
        d(i - 1) = f - g
        j = 0
        while (j < i) { e(j) = 0.0; j += 1 }
        // Apply the similarity transformation to the remaining columns.
        j = 0
        while (j < i) {
          f = d(j)
          v(j)(i) = f
          g = e(j) + v(j)(j) * f
          k = j + 1
          while (k <= i - 1) {
            g += v(k)(j) * d(k)
            e(k) += v(k)(j) * f
            k += 1
          }
          e(j) = g
          j += 1
        }
        f = 0.0
        j = 0
        while (j < i) { e(j) /= h; f += e(j) * d(j); j += 1 }
        val hh = f / (h + h)
        j = 0
        while (j < i) { e(j) -= hh * d(j); j += 1 }
        j = 0
        while (j < i) {
          f = d(j)
          g = e(j)
          k = j
          while (k <= i - 1) { v(k)(j) -= (f * e(k) + g * d(k)); k += 1 }
          d(j) = v(i - 1)(j)
          v(i)(j) = 0.0
          j += 1
        }
      }
      d(i) = h
      i -= 1
    }
    // Accumulate the transformations.
    i = 0
    while (i < n - 1) {
      v(n - 1)(i) = v(i)(i)
      v(i)(i) = 1.0
      val h = d(i + 1)
      if (h != 0.0) {
        var k = 0
        while (k <= i) { d(k) = v(k)(i + 1) / h; k += 1 }
        j = 0
        while (j <= i) {
          var g = 0.0
          k = 0
          while (k <= i) { g += v(k)(i + 1) * v(k)(j); k += 1 }
          k = 0
          while (k <= i) { v(k)(j) -= g * d(k); k += 1 }
          j += 1
        }
      }
      var k = 0
      while (k <= i) { v(k)(i + 1) = 0.0; k += 1 }
      i += 1
    }
    j = 0
    while (j < n) { d(j) = v(n - 1)(j); v(n - 1)(j) = 0.0; j += 1 }
    v(n - 1)(n - 1) = 1.0
    e(0) = 0.0
  }

  /** Implicit QL on the tridiagonal (`d`, `e`) from [[tred2]]: `d` ends
    * as the eigenvalues, `z(i)` as the eigenvector of `d(i)`. */
  private def tql2(n: Int, z: Array[Array[Double]], d: Array[Double], e: Array[Double]): Unit = {
    var i = 1
    while (i < n) { e(i - 1) = e(i); i += 1 }
    e(n - 1) = 0.0
    var f = 0.0
    var tst1 = 0.0
    val eps = math.ulp(1.0)
    var l = 0
    while (l < n) {
      // Find a small subdiagonal element.
      tst1 = math.max(tst1, math.abs(d(l)) + math.abs(e(l)))
      var m = l
      while (m < n - 1 && math.abs(e(m)) > eps * tst1) m += 1
      // If m == l, d(l) is already an eigenvalue; otherwise iterate.
      if (m > l) {
        var sweeps = 0
        while ({
          sweeps += 1
          if (sweeps > MaxSweeps)
            throw new ArithmeticException(s"SymmetricEigen: QL iteration for eigenvalue $l " +
              s"of $n did not converge in $MaxSweeps sweeps")
          // Implicit shift.
          var g = d(l)
          var p = (d(l + 1) - g) / (2.0 * e(l))
          var r = math.hypot(p, 1.0)
          if (p < 0) r = -r
          d(l) = e(l) / (p + r)
          d(l + 1) = e(l) * (p + r)
          val dl1 = d(l + 1)
          var h = g - d(l)
          i = l + 2
          while (i < n) { d(i) -= h; i += 1 }
          f += h
          // Implicit QL transformation.
          p = d(m)
          var c = 1.0
          var c2 = c
          var c3 = c
          val el1 = e(l + 1)
          var s = 0.0
          var s2 = 0.0
          i = m - 1
          while (i >= l) {
            c3 = c2
            c2 = c
            s2 = s
            g = c * e(i)
            h = c * p
            r = math.hypot(p, e(i))
            e(i + 1) = s * r
            s = e(i) / r
            c = p / r
            p = c * d(i) - s * g
            d(i + 1) = h + s * (c * g + s * d(i))
            // Accumulate the rotation into eigenvectors i and i + 1.
            val zi = z(i)
            val zi1 = z(i + 1)
            var k = 0
            while (k < n) {
              val t = zi1(k)
              zi1(k) = s * zi(k) + c * t
              zi(k) = c * zi(k) - s * t
              k += 1
            }
            i -= 1
          }
          p = -s * s2 * c3 * el1 * e(l) / dl1
          e(l) = s * p
          d(l) = c * p
          math.abs(e(l)) > eps * tst1
        }) ()
      }
      d(l) += f
      e(l) = 0.0
      l += 1
    }
  }
}
