package graft.ohlcv

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Decoder (M2 analog) invariants: the mean-pool pseudo-inverse
  * reconstructs piecewise-constant windows exactly and never beats the
  * within-bucket variance bound; the linear-projection pseudo-inverse
  * satisfies encode∘decode = identity on the latent space (M M⁺ = I for
  * a full-row-rank projection).
  */
class DecodeSpec extends SparkSpec {
  import spark.implicits._

  private val len = 12
  private val dim = 4

  test("meanPoolDecode is exact on piecewise-constant windows") {
    val win = Array(2.0, 2.0, 2.0, -1.0, -1.0, -1.0, 5.5, 5.5, 5.5, 0.0, 0.0, 0.0)
    val df = Seq(Tuple1(win.toSeq)).toDF("w")
    val out = df
      .withColumn("e", Encode.meanPool(col("w"), len, dim))
      .withColumn("d", Encode.meanPoolDecode(col("e"), len, dim))
      .select("d").head.getAs[scala.collection.Seq[Double]](0)
    out.zip(win).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("meanPool reconstruction MSE equals mean within-bucket variance") {
    val win = Array.tabulate(len)(i => math.sin(i * 0.7) * 3 + i * 0.1)
    val df = Seq(Tuple1(win.toSeq)).toDF("w")
    val mse = df
      .withColumn("e", Encode.meanPool(col("w"), len, dim))
      .withColumn("d", Encode.meanPoolDecode(col("e"), len, dim))
      .select(aggregate(zip_with(col("w"), col("d"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x) / len)
      .head.getDouble(0)
    val bucket = len / dim
    val expected = win.grouped(bucket).map { g =>
      val m = g.sum / bucket
      g.map(x => (x - m) * (x - m)).sum / bucket
    }.sum / dim
    assert(math.abs(mse - expected) < 1e-12, s"mse $mse vs bound $expected")
  }

  test("linearProject pseudo-inverse: encode(decode(e)) = e") {
    val mat = Encode.randomProjectionMatrix(len, dim, seed = 9L)
    val pinv = Encode.pseudoInverse(mat)
    assert(pinv.length == len && pinv(0).length == dim)
    val e = Array(1.5, -2.0, 0.25, 3.0)
    val df = Seq(Tuple1(e.toSeq)).toDF("e")
    val roundTrip = df
      .withColumn("w", Encode.linearProject(col("e"), pinv))
      .withColumn("e2", Encode.linearProject(col("w"), mat))
      .select("e2").head.getAs[scala.collection.Seq[Double]](0)
    roundTrip.zip(e).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
  }

  test("linearProject rejects an empty or ragged matrix") {
    val ragged = Array(Array(1.0, 2.0, 3.0), Array(1.0, 2.0))
    val e = intercept[IllegalArgumentException](Encode.linearProject(col("w"), ragged))
    assert(e.getMessage.contains("rectangular"), e.getMessage)
    intercept[IllegalArgumentException](Encode.linearProject(col("w"), Array.empty[Array[Double]]))
  }

  test("pseudoInverse fails loudly on a rank-deficient matrix") {
    val mat = Encode.randomProjectionMatrix(len, dim, seed = 9L)
    // Row 3 = row 0 + row 1: M Mᵀ is singular.
    val deficient = mat.updated(3, mat(0).zip(mat(1)).map { case (a, b) => a + b })
    val e = intercept[IllegalArgumentException](Encode.pseudoInverse(deficient))
    assert(e.getMessage.contains("rank-deficient"), e.getMessage)
    val zeroRow = mat.updated(2, Array.fill(len)(0.0))
    intercept[IllegalArgumentException](Encode.pseudoInverse(zeroRow))
  }
}
