package graft.ohlcv

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
import graft.SparkSpec

class OrderedScanSpec extends SparkSpec {
  import spark.implicits._

  /** Run `f` with `n` shuffle partitions, kept apart (AQE would coalesce
    * a small input into one). */
  private def withShufflePartitions[A](n: Int)(f: => A): A = {
    val kv = Seq("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val before = kv.map { case (k, _) => k -> spark.conf.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally before.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Row count and running sum of `v` per key, in `t` order. */
  private def runningSum(df: DataFrame): DataFrame = {
    val vIdx = df.schema.fieldIndex("v")
    OrderedScan(df, "k", "t", Seq(
        StructField("n", LongType, nullable = true),
        StructField("s", DoubleType, nullable = true))) { () =>
      var n = 0L
      var s = 0.0
      (row, out) => {
        n += 1; s += row.getDouble(vIdx)
        out(0) = n; out(1) = s
      }
    }
  }

  private def rows(df: DataFrame): Seq[(String, Long, Double, Long, Double)] =
    df.as[(String, Long, Double, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))

  test("interleaved keys in one partition each restart their state, in order") {
    val df = Seq(("a", 2L, 3.0), ("b", 0L, 10.0), ("a", 0L, 1.0), ("c", 0L, 100.0),
      ("b", 1L, 20.0), ("a", 1L, 2.0)).toDF("k", "t", "v")
    withShufflePartitions(1) {
      val out = runningSum(df)
      assert(out.rdd.getNumPartitions == 1)
      assert(rows(out) == Seq(("a", 0L, 1.0, 1L, 1.0), ("a", 1L, 2.0, 2L, 3.0),
        ("a", 2L, 3.0, 3L, 6.0), ("b", 0L, 10.0, 1L, 10.0), ("b", 1L, 20.0, 2L, 30.0),
        ("c", 0L, 100.0, 1L, 100.0)))
    }
  }

  test("the NULL-key rows are one series") {
    val df = Seq[(String, Long, Double)]((null, 1L, 5.0), ("a", 0L, 1.0), (null, 0L, 4.0))
      .toDF("k", "t", "v")
    val out = runningSum(df).collect().map(r =>
      (Option(r.getString(0)), r.getLong(1), r.getLong(3), r.getDouble(4))).toSet
    assert(out == Set((None, 0L, 1L, 4.0), (None, 1L, 2L, 9.0), (Some("a"), 0L, 1L, 1.0)))
  }

  test("the scans give the same rows at 1 and 7 shuffle partitions") {
    val rnd = new scala.util.Random(7)
    val df = (for (k <- 0 until 23; t <- 0 until 40) yield {
      val c = 100.0 + rnd.nextGaussian() * 5
      (s"k$k", t.toLong, c + rnd.nextDouble(), c - rnd.nextDouble(), c,
        1000.0 * rnd.nextDouble(), rnd.nextDouble())
    }).toDF("k", "t", "high", "low", "close", "volume", "v")
    def all(): Seq[Row] = {
      val scanned = Features.withWilder(
        HoltWinters.withKalmanLevel(
          HoltWinters.withHolt(Indicators.withNvi(Indicators.withPsar(df, "k", "t"), "k", "t"),
            "k", "t", "close", 0.5, 0.25),
          "k", "t", "close", 0.01, 1.0),
        "k", "t", Seq("volume" -> "w_vol"), 5)
      assert(scanned.rdd.getNumPartitions == spark.conf.get("spark.sql.shuffle.partitions").toInt)
      runningSum(scanned).collect().toSeq
        .sortBy(r => (r.getAs[String]("k"), r.getAs[Long]("t")))
    }
    val one = withShufflePartitions(1)(all())
    val seven = withShufflePartitions(7)(all())
    assert(one.length == 23 * 40)
    assert(one == seven)
  }
}
