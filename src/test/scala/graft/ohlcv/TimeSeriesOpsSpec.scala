package graft.ohlcv

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("bucketRight: right-closed, right-labeled (boundary belongs to its own label)") {
    val df = Seq(
      ("a", ts("2024-01-01 01:00:00"), 1.0), // exactly on edge -> label 01:00
      ("a", ts("2024-01-01 01:00:01"), 2.0), // just after edge -> label 02:00
      ("a", ts("2024-01-01 01:59:59"), 3.0),
      ("a", ts("2024-01-01 02:00:00"), 4.0)  // -> label 02:00
    ).toDF("symbol", "datetime", "close")
    val out = df.withColumn("b", TimeSeriesOps.bucketRight(col("datetime"), 3600))
      .select($"close", $"b").collect().map(r => r.getDouble(0) -> r.getTimestamp(1).toString)
      .toMap
    assert(out(1.0) == "2024-01-01 01:00:00.0")
    assert(out(2.0) == "2024-01-01 02:00:00.0")
    assert(out(3.0) == "2024-01-01 02:00:00.0")
    assert(out(4.0) == "2024-01-01 02:00:00.0")
  }

  test("resampleOhlcv: first/last by time, gaps emitted as null rows") {
    val df = Seq(
      ("a", ts("2024-01-01 00:10:00"), 10.0, 15.0, 9.0, 12.0, 1.0),
      ("a", ts("2024-01-01 00:50:00"), 12.0, 20.0, 11.0, 18.0, 2.0),
      // hour 01-02 empty (gap)
      ("a", ts("2024-01-01 02:30:00"), 18.0, 19.0, 17.0, 17.5, 3.0)
    ).toDF("symbol", "datetime", "open", "high", "low", "close", "volume")
    val out = TimeSeriesOps.resampleOhlcv(df, "symbol", "datetime", 3600)
      .orderBy("datetime").collect()
    assert(out.length == 3) // 01:00, 02:00 (empty), 03:00
    val first = out(0)
    assert(first.getAs[Double]("open") == 10.0)   // earliest row's open
    assert(first.getAs[Double]("high") == 20.0)
    assert(first.getAs[Double]("low") == 9.0)
    assert(first.getAs[Double]("close") == 18.0)  // latest row's close
    assert(first.getAs[Double]("volume") == 3.0)
    assert(out(1).isNullAt(out(1).fieldIndex("close"))) // empty bucket
    assert(out(1).getAs[java.lang.Double]("volume") == 0.0) // pandas sum, min_count=0
    assert(out(2).getAs[Double]("close") == 17.5)
  }

  test("resampleOhlcv: a NaN or NULL value is skipped, as pandas skips NaN") {
    val nan = Double.NaN
    val df = Seq[(String, Timestamp, java.lang.Double, java.lang.Double, java.lang.Double,
        java.lang.Double, java.lang.Double)](
      ("a", ts("2024-01-01 00:10:00"), nan, 15.0, 9.0, 12.0, 1.0),
      ("a", ts("2024-01-01 00:20:00"), 11.0, nan, 10.0, 13.0, nan),
      ("a", ts("2024-01-01 00:30:00"), 12.0, 14.0, nan, 14.0, 2.0),
      ("a", ts("2024-01-01 00:50:00"), 13.0, 16.0, 8.0, nan, 3.0),
      ("a", ts("2024-01-01 01:10:00"), null, 5.0, 4.0, 4.5, 1.0),
      ("a", ts("2024-01-01 01:20:00"), 4.2, 5.5, 4.1, null, 1.0),
      ("a", ts("2024-01-01 02:10:00"), nan, nan, nan, nan, nan)
    ).toDF("symbol", "datetime", "open", "high", "low", "close", "volume")
    val out = TimeSeriesOps.resampleOhlcv(df, "symbol", "datetime", 3600)
      .orderBy("datetime").collect()
    def at(i: Int, c: String): java.lang.Double = out(i).getAs[java.lang.Double](c)
    assert(out.length == 3)
    // NaN open on the first bar, NaN close on the last: the next and the
    // previous present values
    assert(at(0, "open") == 11.0 && at(0, "close") == 14.0)
    assert(at(0, "high") == 16.0 && at(0, "low") == 8.0 && at(0, "volume") == 6.0)
    // the same with NULL
    assert(at(1, "open") == 4.2 && at(1, "close") == 4.5)
    // nothing present: NULL prices, never NaN; volume is pandas' sum of
    // nothing (min_count=0)
    Seq("open", "high", "low", "close").foreach(c => assert(at(2, c) == null, c))
    assert(at(2, "volume") == 0.0)
  }

  test("dedupKeepLast keeps greatest arrival, not an arbitrary row") {
    val df = Seq(
      ("a", 1L, 10.0, 1L), ("a", 1L, 20.0, 2L), ("a", 1L, 15.0, 3L),
      ("a", 2L, 5.0, 4L)
    ).toDF("symbol", "t", "v", "arrival")
    val out = TimeSeriesOps.dedupKeepLast(df, Seq("symbol", "t"), col("arrival"))
      .orderBy("t").collect()
    assert(out.map(_.getAs[Double]("v")).toSeq == Seq(15.0, 5.0))
  }

  test("gapFillFfill produces dense index and forward-fills") {
    val df = Seq(("a", 10L, 1.0), ("a", 13L, 4.0), ("b", 5L, 9.0))
      .toDF("symbol", "time_idx", "close")
    val out = TimeSeriesOps.gapFillFfill(df, "symbol", "time_idx", Seq("close"))
      .orderBy("symbol", "time_idx").collect()
    val a = out.filter(_.getString(0) == "a")
    assert(a.map(_.getLong(1)).toSeq == Seq(10L, 11L, 12L, 13L))
    assert(a.map(_.getDouble(2)).toSeq == Seq(1.0, 1.0, 1.0, 4.0))
  }

  test("withCalendar: pandas weekday convention Monday=0") {
    // 2024-01-01 is a Monday; 2024-01-07 is a Sunday.
    val df = Seq(("x", ts("2024-01-01 05:00:00")), ("y", ts("2024-01-07 23:00:00")))
      .toDF("id", "t")
    val out = TimeSeriesOps.withCalendar(df, "t").orderBy("id").collect()
    assert(out(0).getAs[Int]("day_of_week") == 0)
    assert(out(1).getAs[Int]("day_of_week") == 6)
    assert(out(0).getAs[Int]("week_of_year") == 1) // ISO week
  }

  test("timeIdx: hours since 2000-01-01") {
    val df = Seq(Tuple1(ts("2000-01-01 00:00:00")), Tuple1(ts("2000-01-02 01:00:00")))
      .toDF("t")
    val out = df.select(TimeSeriesOps.timeIdx(col("t"), 3600)).as[Long].collect()
    assert(out.toSeq == Seq(0L, 25L))
  }

  test("dropHeadFraction drops floor(n*frac) earliest rows per key") {
    val df = (1 to 10).map(i => ("a", i.toLong)).toDF("symbol", "idx")
    val out = TimeSeriesOps.dropHeadFraction(df, "symbol", "idx", 0.1)
    assert(out.count() == 9)
    assert(out.agg(min("idx")).head.getLong(0) == 2L)
  }

  test("trimEnds removes exactly first and last row per key") {
    val df = (1 to 5).map(i => ("a", i.toLong)).toDF("symbol", "idx")
    val out = TimeSeriesOps.trimEnds(df, "symbol", "idx")
      .orderBy("idx").as[(String, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(2L, 3L, 4L))
  }

  test("pruneNullColumns drops columns with >15% nulls, keeps protected") {
    val df = Seq(
      (1, Some(1.0), Option.empty[Double]),
      (2, Some(2.0), Some(2.0)),
      (3, Some(3.0), Option.empty[Double]),
      (4, Some(4.0), Some(4.0))
    ).toDF("id", "good", "bad")
    val out = TimeSeriesOps.pruneNullColumns(df, threshold = 0.85, protect = Seq("id"))
    assert(out.columns.toSet == Set("id", "good"))
  }

  test("inferIntervalSeconds returns the mode and enforces min frequency") {
    val base = ts("2024-01-01 00:00:00").getTime
    val rows = (0 until 200).map(i => ("a", new Timestamp(base + i * 3600L * 1000)))
    val df = rows.toDF("symbol", "t")
    assert(TimeSeriesOps.inferIntervalSeconds(df, "symbol", "t") == 3600L)
    val irregular = (0 until 100).map(i => ("a", new Timestamp(base + i * i * 1000L)))
      .toDF("symbol", "t")
    intercept[IllegalArgumentException] {
      TimeSeriesOps.inferIntervalSeconds(irregular, "symbol", "t")
    }
  }
}
