package graft.ohlcv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The PCA fit behind [[Encode.pcaMatrix]]: parity with MLlib's
  * `RowMatrix` (kept here as the reference only), the eigensolver's
  * laws, the one-pass moments, and how often the fit reads its input.
  */
class PcaFitSpec extends SparkSpec {
  import spark.implicits._

  /** Seeded random walks of length `len`, each z-scored with its
    * population std like `Windows.slidingZscored`. */
  private def zWalks(n: Int, len: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n) {
      val w = Array.fill(len)(rnd.nextGaussian()).scanLeft(0.0)(_ + _).tail
      val c = w.sum / len
      val sd = math.sqrt(w.map(x => (x - c) * (x - c)).sum / len)
      w.map(x => (x - c) / (sd + 1e-8))
    }
  }

  private def frame(rows: Seq[Array[Double]], parts: Int): DataFrame =
    spark.sparkContext.parallelize(rows.map(r => Tuple1(r.toSeq)), parts).toDF("z")

  /** The fit as it was built on MLlib: count, sample, RowMatrix PCA,
    * then the same sign canonicalization and 1e-9 quantization. */
  private def rowMatrixPca(df: DataFrame, inLen: Int, outDim: Int, maxRows: Int,
      sampleFraction: Option[Double]): Array[Array[Double]] = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val frac = sampleFraction.getOrElse(
      math.min(1.0, maxRows.toDouble / math.max(1L, df.count()).toDouble))
    val rows = df.select(col("z")).sample(withReplacement = false, frac, seed = 42L)
      .rdd.map(r => OldVectors.dense(r.getSeq[Double](0).toArray))
    val pc = new RowMatrix(rows).computePrincipalComponents(outDim)
    Array.tabulate(outDim) { i =>
      val c = Array.tabulate(inLen)(j => pc(j, i))
      val q = c.map(v => math.rint(math.abs(v) * 1e9))
      val best = q.indexOf(q.max)
      (if (c(best) < 0) c.map(-_) else c).map(v => math.rint(v * 1e9) / 1e9)
    }
  }

  test("pcaMatrix equals the RowMatrix fit within one 1e-9 step (256 -> 64)") {
    val df = frame(zWalks(600, 256, seed = 7L), parts = 4)
    // Every row; a maxRows sample (second scan); an explicit fraction.
    for ((maxRows, frac) <- Seq((4096, None), (400, None), (4096, Some(0.6)))) {
      val m = Encode.pcaMatrix(df, "z", 256, 64, maxRows, frac)
      val ref = rowMatrixPca(df, 256, 64, maxRows, frac)
      val steps = for (i <- 0 until 64; j <- 0 until 256)
        yield math.abs(math.rint(m(i)(j) * 1e9) - math.rint(ref(i)(j) * 1e9))
      assert(steps.max <= 1.0, s"maxRows=$maxRows frac=$frac: max |M - M_ref| = ${steps.max} steps")
    }
  }

  private def frob(a: Array[Array[Double]]): Double = math.sqrt(a.map(_.map(x => x * x).sum).sum)

  /** ‖AV − VΛ‖ ≤ 1e-10·‖A‖, ‖VᵀV − I‖ ≤ 1e-12, eigenvalues descending. */
  private def checkEigen(a: Array[Array[Double]], what: String): Unit = {
    val n = a.length
    val (vals, vecs) = SymmetricEigen.decompose(a)
    assert(vals.length == n && vecs.length == n && vecs.forall(_.length == n), what)
    assert(vals.toSeq.sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      s"$what: eigenvalues not descending")
    // Row i of the residual is A v_i − λ_i v_i.
    val res = Array.tabulate(n, n)((i, r) =>
      (0 until n).map(c => a(r)(c) * vecs(i)(c)).sum - vals(i) * vecs(i)(r))
    assert(frob(res) <= 1e-10 * frob(a), s"$what: ‖AV − VΛ‖ = ${frob(res)}, ‖A‖ = ${frob(a)}")
    val gram = Array.tabulate(n, n)((i, j) =>
      (0 until n).map(k => vecs(i)(k) * vecs(j)(k)).sum - (if (i == j) 1.0 else 0.0))
    assert(frob(gram) <= 1e-12, s"$what: ‖VᵀV − I‖ = ${frob(gram)}")
  }

  test("SymmetricEigen: eigen-equation, orthonormality and order on random symmetric matrices") {
    val rnd = new scala.util.Random(3)
    for (n <- Seq(1, 2, 3, 4, 5, 8, 13, 31, 64, 100, 150, 256, 300)) {
      val b = Array.fill(n, n)(rnd.nextGaussian())
      checkEigen(Array.tabulate(n, n)((i, j) => b(i)(j) + b(j)(i)), s"random n=$n")
    }
    // A covariance-like PSD matrix with decaying spectrum, and a
    // rank-deficient one.
    val g = Array.fill(40, 20)(rnd.nextGaussian())
    checkEigen(Array.tabulate(20, 20)((i, j) => (0 until 40).map(k => g(k)(i) * g(k)(j)).sum),
      "gram 20x20")
    checkEigen(Array.tabulate(40, 40)((i, j) => (0 until 20).map(k => g(i)(k) * g(j)(k)).sum),
      "rank-20 gram 40x40")
  }

  test("SymmetricEigen: diagonal matrices with repeated values and the zero matrix") {
    val diag = Seq(Seq(3.0, 1.0, 3.0, -2.0, 1.0, 3.0), Seq.fill(7)(5.0), Seq(0.0, -1.0, 0.0))
    for (dg <- diag) {
      val n = dg.length
      val a = Array.tabulate(n, n)((i, j) => if (i == j) dg(i) else 0.0)
      checkEigen(a, s"diag $dg")
      assert(SymmetricEigen.decompose(a)._1.toSeq == dg.sorted.reverse)
    }
    val zero = Array.ofDim[Double](9, 9)
    checkEigen(zero, "zero 9x9")
    assert(SymmetricEigen.decompose(zero)._1.forall(_ == 0.0))
  }

  test("SymmetricEigen rejects an empty, non-square or non-finite matrix") {
    for (a <- Seq(Array(Array(1.0, 2.0)), Array.empty[Array[Double]])) {
      val e = intercept[IllegalArgumentException](SymmetricEigen.decompose(a))
      assert(e.getMessage.contains("empty or not square"))
    }
    val e2 = intercept[IllegalArgumentException](
      SymmetricEigen.decompose(Array(Array(1.0, Double.NaN), Array(Double.NaN, 1.0))))
    assert(e2.getMessage.contains("non-finite"))
  }

  test("CoMoments equal a plain two-pass covariance under 1, 3 and 17 partitions") {
    val rnd = new scala.util.Random(5)
    val dim = 16
    // A large common offset is what breaks a naive sum-of-squares form.
    val rows = Seq.fill(500)(Array.tabulate(dim)(j => 1e3 + j + rnd.nextGaussian() * (1 + j % 4)))
    val mean = Array.tabulate(dim)(j => rows.map(_(j)).sum / rows.length)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / (rows.length - 1))
    val scale = cov.flatten.map(math.abs).max
    val v = Array.tabulate(dim)(j => math.cos(j.toDouble))
    val proj = rows.map(r => r.indices.map(j => r(j) * v(j)).sum)
    val projMean = proj.sum / proj.length
    val projVar = proj.map(p => (p - projMean) * (p - projMean)).sum / proj.length
    for (parts <- Seq(1, 3, 17)) {
      val m = CoMoments.scan(frame(rows, parts), "z", dim, Long.MaxValue, "spec")
      assert(m.rows == 500 && m.seen == 500)
      val c = m.covariance
      for (i <- 0 until dim; j <- 0 until dim)
        assert(math.abs(c(i)(j) - cov(i)(j)) <= 1e-12 * scale,
          s"parts=$parts cov($i,$j) ${c(i)(j)} vs ${cov(i)(j)}")
      assert(math.abs(m.projectedVariance(v) - projVar) <= 1e-10 * projVar,
        s"parts=$parts projected variance ${m.projectedVariance(v)} vs $projVar")
    }
    // A cap stops each partition's moments, not its count.
    val capped = CoMoments.scan(frame(rows, 3), "z", dim, 10L, "spec")
    assert(capped.seen == 500 && capped.rows == 30)
  }

  /** Rows `fit` reads from a 300-row input, counted by a filter UDF on
    * it (a filter is not pruned the way an unused projection is). */
  private def readsOf(fit: DataFrame => Array[Array[Double]]): Long = {
    val acc = spark.sparkContext.longAccumulator("pca input reads")
    val counting = udf((_: Long) => { acc.add(1L); true }).asNondeterministic()
    val rnd = new scala.util.Random(9)
    val df = spark.sparkContext.parallelize(
      (0 until 300).map(i => (i.toLong, Seq.fill(8)(rnd.nextGaussian()))), 3)
      .toDF("id", "z").filter(counting(col("id")))
    fit(df)
    acc.value
  }

  test("the fit reads each input row once, twice only past maxRows without a fraction") {
    assert(readsOf(Encode.pcaMatrix(_, "z", 8, 3)) == 300)
    assert(readsOf(Encode.pcaMatrix(_, "z", 8, 3, maxRows = 300)) == 300)
    assert(readsOf(Encode.pcaMatrix(_, "z", 8, 3, sampleFraction = Some(0.5))) == 300)
    assert(readsOf(Encode.whitenedPcaMatrix(_, "z", 8, 3)) == 300)
    assert(readsOf(Encode.pcaMatrix(_, "z", 8, 3, maxRows = 100)) == 600)
  }
}
