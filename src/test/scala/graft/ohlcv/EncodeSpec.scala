package graft.ohlcv

import org.apache.spark.sql.functions._
import graft.SparkSpec

class EncodeSpec extends SparkSpec {
  import spark.implicits._

  test("pcaMatrix: learned projection has the right shape and captures the dominant axis") {
    // Windows that vary almost entirely along one direction.
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(8)(i => math.sin(i.toDouble))
    val rows = (0 until 200).map { _ =>
      val a = rnd.nextGaussian() * 10
      Tuple1(base.map(x => x * a + rnd.nextGaussian() * 0.01).toSeq)
    }
    val df = rows.toDF("values")
    val m = Encode.pcaMatrix(df, "values", inLen = 8, outDim = 2)
    assert(m.length == 2 && m.forall(_.length == 8))
    // First PC should be parallel to `base` (up to sign).
    val b = base
    val dot = math.abs(m(0).zip(b).map { case (x, y) => x * y }.sum)
    val nm = math.sqrt(m(0).map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
    assert(dot / nm > 0.99)
  }

  test("randomProjectionMatrix is deterministic in its seed") {
    val a = Encode.randomProjectionMatrix(16, 4, 42L)
    val b = Encode.randomProjectionMatrix(16, 4, 42L)
    val c = Encode.randomProjectionMatrix(16, 4, 43L)
    assert(a.flatten.toSeq == b.flatten.toSeq)
    assert(a.flatten.toSeq != c.flatten.toSeq)
    assert(a.flatten.forall(x => x >= -1.0 && x <= 1.0))
  }

  test("whitenedPcaMatrix yields ~unit projection variance per component") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.tabulate(8)(i => math.sin(i.toDouble))
    val base2 = Array.tabulate(8)(i => math.cos(2.0 * i))
    val rows = (0 until 400).map { _ =>
      val a = rnd.nextGaussian() * 10
      val b = rnd.nextGaussian() * 2
      Tuple1(base.indices.map(j =>
        base(j) * a + base2(j) * b + rnd.nextGaussian() * 0.01).toSeq)
    }
    val df = rows.toDF("values")
    val w = Encode.whitenedPcaMatrix(df, "values", inLen = 8, outDim = 2)
    assert(w.length == 2 && w.forall(_.length == 8))
    // Project the same data through the whitened matrix: each
    // component's variance must be ~1 (the whitening law) — the raw
    // PCA components would instead show variances ~100 vs ~4.
    val data = rows.map(_._1.toArray)
    val vars = w.map { comp =>
      val proj = data.map(v => v.zip(comp).map { case (x, y) => x * y }.sum)
      val mean = proj.sum / proj.length
      proj.map(p => (p - mean) * (p - mean)).sum / proj.length
    }
    vars.foreach(v => assert(math.abs(v - 1.0) < 0.2,
      s"whitened component variance $v should be ~1"))
    // And it must differ from the unwhitened fit (not a no-op).
    val m = Encode.pcaMatrix(df, "values", inLen = 8, outDim = 2)
    assert(w.flatten.toSeq != m.flatten.toSeq)
  }

  // ---- loud input validation: each bad input fails naming pcaMatrix ----

  /** Every message on the cause chain: a failing task surfaces as a
    * SparkException wrapping the executor's exception. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  private def good(i: Int): Seq[Option[Double]] =
    Seq.tabulate(8)(j => Some(math.sin(i * 0.7 + j) * (1 + i % 5)))

  private def fitFails(rows: Seq[Option[Seq[Option[Double]]]], want: String,
      outDim: Int = 2): Unit = {
    val df = rows.map(Tuple1(_)).toDF("values")
    val e = intercept[Exception](Encode.pcaMatrix(df, "values", inLen = 8, outDim = outDim))
    val msg = messages(e)
    assert(msg.contains("pcaMatrix") && msg.contains(want), msg)
  }

  private val goodRows = (0 until 40).map(i => Some(good(i)))

  test("pcaMatrix fails naming itself on a NULL window") {
    fitFails(goodRows :+ None, "NULL window in 'values'")
  }

  test("pcaMatrix fails naming itself on a window whose length is not inLen") {
    fitFails(goodRows :+ Some(good(99).take(7)), "has 7 elements, want 8")
    fitFails(goodRows :+ Some(good(99) :+ Some(1.0)), "has 9 elements, want 8")
  }

  test("pcaMatrix fails naming itself on a NULL element instead of reading it as 0.0") {
    fitFails(goodRows :+ Some(good(99).updated(3, None)), "NULL element at index 3")
  }

  test("pcaMatrix fails naming itself on a non-finite value") {
    fitFails(goodRows :+ Some(good(99).updated(5, Some(Double.NaN))), "non-finite value NaN at index 5")
    fitFails(goodRows :+ Some(good(99).updated(0, Some(Double.PositiveInfinity))),
      "non-finite value Infinity at index 0")
  }

  test("pcaMatrix fails naming itself on a covariance that is not finite") {
    // Finite inputs whose squares overflow the co-moments.
    fitFails((0 until 40).map(i => Some(good(i).map(_.map(_ * 1e200)))),
      "covariance of 40 rows is not finite")
  }

  test("pcaMatrix keeps its failures for < 2 sampled rows and outDim outside [1, inLen]") {
    fitFails(goodRows.take(1), "1 sampled rows, need at least 2")
    fitFails(Nil, "0 sampled rows, need at least 2")
    fitFails(goodRows, "outDim 0 is outside [1, 8]", outDim = 0)
    fitFails(goodRows, "outDim 9 is outside [1, 8]", outDim = 9)
  }
}
