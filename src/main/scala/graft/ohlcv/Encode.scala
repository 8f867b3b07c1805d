package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Window → latent-vector encoders (reference `core/nn/vae.py` M1 +
  * `notebooks/test.ipynb` cell 14 M6, re-expressed as pluggable
  * deterministic transforms — SURVEY.md §2.10/§7: the VAE's *role* is
  * "deterministic batch map rows→vectors"; its weights are out of scope).
  *
  * Both encoders are pure column expressions (whole-stage codegen, no UDF,
  * no driver round-trip), so encoding N windows is embarrassingly parallel
  * exactly like the reference's DDP batch-inference loop.
  */
object Encode {

  /** Shape-true stand-in for the VAE encoder: mean-pool the `inLen`-long
    * window into `outDim` equal buckets (256 → 64 with bucket 4). Public
    * knowledge: average-pooling downsample.
    */
  def meanPool(arr: Column, inLen: Int, outDim: Int): Column = {
    require(inLen % outDim == 0, s"inLen $inLen not divisible by outDim $outDim")
    val bucket = inLen / outDim
    transform(sequence(lit(0), lit(outDim - 1)), i =>
      aggregate(slice(arr, i * bucket + 1, lit(bucket)), lit(0.0), (a, x) => a + x) / bucket)
  }

  /** Decoder for [[meanPool]] — the M2 analog (reference `core/nn/vae.py`
    * decode): the Moore–Penrose pseudo-inverse of the mean-pool matrix
    * A (entries 1/bucket, AAᵀ = I/bucket) is bucket·Aᵀ, i.e. each latent
    * value repeats across its bucket. `decode(encode(w))` is the
    * per-bucket-mean reconstruction, the least-squares optimum for this
    * encoder; reconstruction MSE = mean within-bucket variance.
    */
  def meanPoolDecode(emb: Column, outLen: Int, embDim: Int): Column = {
    require(outLen % embDim == 0, s"outLen $outLen not divisible by embDim $embDim")
    val bucket = outLen / embDim
    flatten(transform(emb, v => array_repeat(v, bucket)))
  }

  /** Decoder for [[linearProject]]: right pseudo-inverse Mᵀ(MMᵀ)⁻¹ of the
    * outDim × inLen projection, computed driver-side (outDim² solve) and
    * applied with the same kernel — `decode(e) = e · (M⁺)ᵀ` is the
    * minimum-norm pre-image, exact when the window lies in M's row space.
    * M must have full row rank; a rank-deficient M fails with a message.
    */
  def pseudoInverse(matrix: Array[Array[Double]]): Array[Array[Double]] = {
    val outDim = matrix.length
    val inLen = matrix(0).length
    // G = M Mᵀ (outDim × outDim), then solve G X = M for X = G⁻¹M; the
    // pseudo-inverse (inLen × outDim) is Xᵀ = Mᵀ G⁻¹.
    val g = Array.tabulate(outDim, outDim) { (i, j) =>
      var s = 0.0; var t = 0; while (t < inLen) { s += matrix(i)(t) * matrix(j)(t); t += 1 }; s
    }
    // Gauss-Jordan with partial pivoting on [G | M]. A pivot at round-off
    // size relative to G's largest diagonal means M is rank-deficient:
    // dividing by it would return Inf/NaN entries, so fail instead.
    val aug = Array.tabulate(outDim, outDim + inLen)((i, j) =>
      if (j < outDim) g(i)(j) else matrix(i)(j - outDim))
    val minPivot = 1e-12 * g.indices.map(i => g(i)(i)).max
    var r = 0
    while (r < outDim) {
      var piv = r
      var rr = r + 1
      while (rr < outDim) { if (math.abs(aug(rr)(r)) > math.abs(aug(piv)(r))) piv = rr; rr += 1 }
      val tmp = aug(r); aug(r) = aug(piv); aug(piv) = tmp
      val d = aug(r)(r)
      require(math.abs(d) > minPivot,
        s"pseudoInverse: the $outDim x $inLen matrix is rank-deficient " +
          s"(pivot $d at step $r), so M Mᵀ has no inverse")
      var c = 0
      while (c < outDim + inLen) { aug(r)(c) /= d; c += 1 }
      var r2 = 0
      while (r2 < outDim) {
        if (r2 != r) {
          val f = aug(r2)(r)
          var c2 = 0
          while (c2 < outDim + inLen) { aug(r2)(c2) -= f * aug(r)(c2); c2 += 1 }
        }
        r2 += 1
      }
      r += 1
    }
    // Row i of the result maps the embedding to window position i.
    Array.tabulate(inLen, outDim)((i, j) => aug(j)(outDim + i))
  }

  /** Fixed linear projection `arr · Mᵀ` (inLen → outDim), the PCA /
    * random-projection family, as one native kernel:
    * [[org.apache.spark.sql.graft.MatVecStrict]] (`graft_project`). The
    * matrix travels in the plan as one content-hashed constant, rendered
    * `matrix[outDim x inLen#hash]` in plan strings; the generated code
    * runs one nested loop over it, small enough for the JIT at 64 × 256.
    * Each component is the sequential sum `Σ arr[i]·M[r][i]`, so results
    * and the DuckDB `list_dot_product` oracle stay bit-identical. Strict:
    * a NULL, too-short/long or NULL-holding input gives `outDim` NULL
    * components instead of a silent partial sum. A matrix that is empty
    * or ragged is rejected here, when the column is built.
    */
  def linearProject(arr: Column, matrix: Array[Array[Double]]): Column =
    org.apache.spark.sql.graft.GraftExpressions.matVecStrict(arr, matrix)

  /** The splitmix64 finalizer: a bijective 64-bit mix of `x0`. */
  def splitmix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic pseudo-random projection matrix (outDim × inLen) seeded
    * by `seed` — a public Johnson–Lindenstrauss-style stand-in when no
    * trained projection exists. Uses a splitmix64-derived uniform in
    * [−1, 1] scaled by 1/√inLen.
    */
  def randomProjectionMatrix(inLen: Int, outDim: Int, seed: Long): Array[Array[Double]] = {
    val norm = 1.0 / math.sqrt(inLen.toDouble)
    Array.tabulate(outDim, inLen) { (i, j) =>
      val h = splitmix(seed * 1000003L + i * 65537L + j)
      ((h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0) * norm
    }
  }

  /** S5 model-artifact persistence (reference checkpoint load,
    * `notebooks/test.ipynb:573` / `train.py:85-91`): the projection
    * matrix round-trips through a tiny parquet table `(row, col, value)` —
    * a format any engine can read — loaded once and handed to
    * [[linearProject]], whose kernel carries it as one plan constant.
    */
  def saveMatrix(spark: org.apache.spark.sql.SparkSession,
      matrix: Array[Array[Double]], path: String): Unit = {
    import spark.implicits._
    val rows = for {
      (r, i) <- matrix.zipWithIndex.toSeq
      (v, j) <- r.zipWithIndex
    } yield (i, j, v)
    rows.toDF("row", "col", "value").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Inverse of [[saveMatrix]]. The table must hold every `(row, col)` of
    * its `rows × cols` shape exactly once: a missing, duplicate or
    * negative index, or an empty table, fails here rather than loading a
    * zero-filled or truncated matrix.
    */
  def loadMatrix(spark: org.apache.spark.sql.SparkSession, path: String): Array[Array[Double]] = {
    val entries = spark.read.parquet(path)
      .select("row", "col", "value").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    require(entries.nonEmpty, s"loadMatrix: no entries under $path")
    val nRows = entries.map(_._1).max + 1
    val nCols = entries.map(_._2).max + 1
    val cells = entries.map(e => (e._1, e._2))
    require(cells.forall(c => c._1 >= 0 && c._2 >= 0) &&
      entries.length.toLong == nRows.toLong * nCols && cells.distinct.length == entries.length,
      s"loadMatrix: $path holds ${entries.length} entries (${cells.distinct.length} distinct), " +
        s"want each of the $nRows x $nCols cells exactly once")
    val m = Array.ofDim[Double](nRows, nCols)
    entries.foreach { case (i, j, v) => m(i)(j) = v }
    m
  }

  /** PCA projection learned from a sample of windows: returns the
    * outDim × inLen matrix whose rows are the leading principal
    * components, sign-canonicalized and quantized to 1e-9. Each scan of
    * the input is one `treeAggregate` ([[CoMoments.scan]]) that builds
    * the row count, the mean and the co-moments; the driver decomposes
    * the inLen × inLen covariance (divisor m − 1, as MLlib's `RowMatrix`)
    * with [[SymmetricEigen]]. The sample is bounded by `maxRows`, so the
    * driver side stays constant-size while the projection itself is
    * applied distributively via [[linearProject]]'s kernel.
    *
    * Sampling, with `seed` 42 throughout:
    *  - no `sampleFraction`: each partition stops adding rows to its
    *    moments past `maxRows` but keeps counting. A total ≤ `maxRows`
    *    is the whole input (a fraction-1.0 sample) and is fitted as is;
    *    a larger total costs one more scan, over
    *    `sample(maxRows / total)`.
    *  - a `sampleFraction`: one scan over `sample(sampleFraction)`.
    *
    * Fails with a message naming it on a NULL window, a window whose
    * length is not `inLen`, a NULL or non-finite element, fewer than 2
    * sampled rows, a covariance that is not finite or whose
    * eigendecomposition does not converge, and `outDim` outside
    * [1, inLen].
    */
  def pcaMatrix(windows: DataFrame, arrCol: String, inLen: Int, outDim: Int,
      maxRows: Int = 4096, sampleFraction: Option[Double] = None): Array[Array[Double]] =
    fitPca(windows, arrCol, inLen, outDim, maxRows, sampleFraction)._1

  /** [[pcaMatrix]]'s matrix together with the moments it was fitted on. */
  private def fitPca(windows: DataFrame, arrCol: String, inLen: Int, outDim: Int,
      maxRows: Int, sampleFraction: Option[Double]): (Array[Array[Double]], CoMoments) = {
    require(outDim >= 1 && outDim <= inLen,
      s"pcaMatrix: outDim $outDim is outside [1, $inLen]")
    val z = windows.select(col(arrCol))
    def scan(df: DataFrame, cap: Long) = CoMoments.scan(df, arrCol, inLen, cap, "pcaMatrix")
    def sample(frac: Double) = z.sample(withReplacement = false, frac, seed = 42L)
    val mom = sampleFraction match {
      case Some(frac) => scan(sample(frac), Long.MaxValue)
      case None =>
        val all = scan(z, maxRows)
        if (all.seen <= maxRows) all
        else scan(sample(maxRows.toDouble / all.seen.toDouble), Long.MaxValue)
    }
    require(mom.rows >= 2, s"pcaMatrix: ${mom.rows} sampled rows, need at least 2")
    val cov = mom.covariance
    require(cov.forall(_.forall(java.lang.Double.isFinite)),
      s"pcaMatrix: the covariance of ${mom.rows} rows is not finite")
    val pcs = try SymmetricEigen.decompose(cov)._2 catch {
      case e: ArithmeticException => throw new ArithmeticException(
        s"pcaMatrix: the $inLen x $inLen covariance of ${mom.rows} rows: ${e.getMessage}")
    }
    // Sign-canonicalize each component BEFORE quantizing: an eigenvector
    // is defined only up to sign, and under near-degenerate eigenvalues
    // a refit can legitimately flip it. Forcing the largest-magnitude
    // entry positive removes that whole failure axis. The pivot is
    // chosen on 1e-9-QUANTIZED magnitudes (same grid the entries are
    // published on) with lowest-index tie-break: two raw entries of
    // opposite sign within the ~1e-13 refit drift of each other would
    // otherwise make the pivot choice itself — and with it the whole
    // component's sign — refit-dependent, the same hazard as the
    // quantization-midpoint case documented below (ADVICE r10 #5). On
    // the grid, a drift-sized perturbation cannot reorder two magnitudes
    // unless both sit at a shared midpoint — the already-documented rare
    // residual, no longer a second unbounded one.
    val canon = Array.tabulate(outDim) { i =>
      val colv = pcs(i)
      var best = 0
      var bestQ = math.rint(math.abs(colv(0)) * 1e9)
      var j = 1
      while (j < inLen) {
        val q = math.rint(math.abs(colv(j)) * 1e9)
        if (q > bestQ) { best = j; bestQ = q }
        j += 1
      }
      if (colv(best) < 0) colv.map(-_) else colv
    }
    // Quantize the canonicalized components to 1e-9: the Chan merge of
    // the per-partition moments runs in task-completion order, and the
    // Welford update in the rows' order within a partition, so refitting
    // the same data can drift the raw components by ~1e-13 ulps run to
    // run. Under quantization the fit is reproducible IN PRACTICE — the
    // guarantee is statistical, not absolute: a component sitting within
    // the drift width (~1e-13) of a 0.5e-9 grid midpoint can still round
    // differently across refits; at ~1e-13/1e-9 ≈ 1e-4 per entry that is
    // rare, not impossible. A reproducible matrix is what lets Spark's
    // cache manager recognize a refit pipeline as the already-persisted
    // plan: [[linearProject]]'s kernel holds the matrix as one constant
    // compared by content (`Arrays.deepEquals`), so equal values match
    // and a one-ulp drift invalidates every downstream cached frame — a
    // midpoint round merely costs that rerun one cache rebuild, never
    // correctness, because the dynamic oracle always reads the same
    // quantized values the plan used. 1e-9 is ~4 orders above the drift
    // and ~7 below the components' scale.
    (Array.tabulate(outDim, inLen)((i, j) => math.rint(canon(i)(j) * 1e9) / 1e9), mom)
  }

  /** WHITENED PCA projection (PCA-whitening, public knowledge: scale each
    * principal component by the inverse standard deviation of the data's
    * projection onto it, making the latent space isotropic — the standard
    * preprocessing of ZCA/PCA-whitening and the Mahalanobis view of
    * nearest-neighbor search). Fit = [[pcaMatrix]]'s single scan; the
    * population variance of component i is `mᵢᵀ(C/count)mᵢ`, read from
    * that fit's own co-moments C with the quantized row mᵢ, so the
    * variances describe exactly the sampled windows the components were
    * learned from and no second pass runs. The scaled rows are
    * re-quantized to the same 1e-9 grid so the fit stays reproducible
    * (the kernel's content-equal matrix constant still matches a refit in
    * the cache manager) and the dynamic oracle reads the exact values the
    * plan used (the q204 discipline). `eps` guards near-zero-variance
    * components from exploding the scale.
    */
  def whitenedPcaMatrix(windows: DataFrame, arrCol: String, inLen: Int,
      outDim: Int, maxRows: Int = 4096, sampleFraction: Option[Double] = None,
      eps: Double = 1e-9): Array[Array[Double]] = {
    val (m, mom) = fitPca(windows, arrCol, inLen, outDim, maxRows, sampleFraction)
    Array.tabulate(outDim) { i =>
      val scale = 1.0 / math.sqrt(mom.projectedVariance(m(i)) + eps)
      m(i).map(v => math.rint(v * scale * 1e9) / 1e9)
    }
  }
}
