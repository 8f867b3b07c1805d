package graft.sim

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.multimodal.Multimodal

class KnnMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def randVecs(n: Int, dim: Int): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(7)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
  }

  test("cosinePairs matches the relational embeddingNearDup output") {
    val df = randVecs(40, 8).toDF("vec_id", "embedding")
    val blocked = Knn.cosinePairs(df, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val relational = graft.text.Dedup.embeddingNearDup(df, "vec_id", "embedding", 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked == relational && blocked.nonEmpty)
  }

  test("cosinePairsBucketed equals the tile kernel restricted to shared buckets") {
    val df = randVecs(40, 8).toDF("vec_id", "embedding")
      .withColumn("bucket", pmod(col("vec_id"), lit(3)))
    val bucketed = Knn.cosinePairsBucketed(df, "vec_id", "embedding", "bucket", 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val allPairs: Set[(Long, Long)] = Knn.cosinePairs(df, "vec_id", "embedding", 0.2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = allPairs.filter { case (a, b) => a % 3 == b % 3 }
    assert(bucketed == full && bucketed.nonEmpty)
  }

  test("approxKnn returns a subset of exact knn candidates with correct local ranks") {
    val corpus = randVecs(100, 8).toDF("vec_id", "embedding")
    val queries = randVecs(2, 8).map { case (i, v) => (i + 500, v) }.toDF("qid", "qv")
    val out = Lsh.approxKnn(corpus, queries, "vec_id", "embedding", "qid", "qv",
      k = 3, metricName = "l2", planes = 2, dim = 8)
    val rows = out.select("qid", "rank").as[(Long, Int)].collect()
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length).toSeq)
    }
  }

  test("ivfAssign picks the nearest centroid") {
    val centroids = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val df = Seq(Tuple1(Seq(1.0, 1.0)), Tuple1(Seq(9.0, 9.5))).toDF("v")
    val out = df.select(Lsh.ivfAssign(col("v"), centroids)).as[Int].collect()
    assert(out.toSeq == Seq(0, 1))
  }

  test("stub image decoder: normalized histogram, null-safe") {
    val dec = new Multimodal.StubImageDecoder
    val f = dec.decode("aaaa".getBytes("UTF-8")).get
    assert(approx(f.sum.toDouble, 1.0, 1e-6))
    assert(f(('a'.toInt) / 16) == 1.0f)
    assert(dec.decode(Array.emptyByteArray).isEmpty)
    assert(dec.decode(null).isEmpty)
  }

  test("withDecodedFeatures appends array<float> and preserves other columns") {
    val df = Seq((1L, "hello"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
      .withColumn("payload", col("text").cast("binary"))
    val out = Multimodal.withDecodedFeatures(df, "payload", "features",
      new Multimodal.StubImageDecoder)
    val rows = out.orderBy("id").collect()
    assert(rows(0).getAs[scala.collection.Seq[Float]]("features").length == 16)
    assert(rows(1).isNullAt(rows(1).fieldIndex("features")))
  }

  test("audio frame sampler: frames of byte means") {
    val dec = new Multimodal.StubAudioFrameSampler(2)
    val f = dec.decode(Array[Byte](0, 0, 100, 100)).get
    assert(f.toSeq == Seq(0.0f, 100.0f))
  }

  test("image resizer: nearest-neighbor index arithmetic") {
    // 4-wide, 4-high grid with distinct values; resize to 2×2 picks
    // rows {0,2} × cols {0,2}.
    val px = Array.tabulate[Byte](16)(i => (i * 3).toByte)
    val dec = new Multimodal.StubImageResizer(srcW = 4, dstW = 2, dstH = 2)
    val f = dec.decode(px).get
    // (r,c) → px[(r*4/2)*4 + (c*4/2)] = px[{0,2}*4 + {0,2}]
    assert(f.toSeq == Seq(0f, 6f, 24f, 30f))
    // shorter than one row → undecodable
    assert(dec.decode(Array[Byte](1, 2)).isEmpty)
    // height not divisible by dstH still total: h=1 → every r maps to 0
    val one = dec.decode(Array.tabulate[Byte](4)(i => i.toByte)).get
    assert(one.toSeq == Seq(0f, 2f, 0f, 2f))
  }
}
