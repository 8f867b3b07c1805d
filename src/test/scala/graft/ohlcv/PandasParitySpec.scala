package graft.ohlcv

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Parity against pandas-computed goldens over the committed 300-row
  * hourly fixture `src/test/resources/ohlcv_1h_300.csv` (reference CSV
  * layout, with missing hours, a flat zero-volume run and NaN bars;
  * tools/gen_ohlcv_fixture.py): the operators must reproduce the exact
  * pandas calls the reference makes — SURVEY.md §5 item 2.
  */
class PandasParitySpec extends SparkSpec {
  import spark.implicits._

  private val G = PandasGoldens.values

  private lazy val bars = Ingest.readCsv(spark,
      getClass.getResource("/ohlcv_1h_300.csv").getPath, "BTC/USD")
    .orderBy("datetime")
    .limit(G("n_rows").toInt)
    .cache()

  private lazy val closes: Array[java.lang.Double] = {
    val rows = bars.orderBy("datetime").select("close").collect()
    rows.map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
  }

  private def assertGold(actual: java.lang.Double, key: String, tol: Double = 1e-9): Unit = {
    val expected = G(key)
    if (expected.isNaN) assert(actual == null, s"$key: expected null, got $actual")
    else {
      assert(actual != null, s"$key: expected $expected, got null")
      assert(approx(actual, expected, tol), s"$key: got $actual want $expected")
    }
  }

  test("corpus slice loads with the expected head") {
    assert(bars.count() == 300)
    assert(bars.agg(min("datetime")).head.getTimestamp(0).toString
      .startsWith(PandasGoldens.firstTs))
    val wd = TimeSeriesOps.withCalendar(bars, "datetime")
      .orderBy("datetime").select("day_of_week").head.getInt(0)
    assert(wd == G("weekday_0").toInt)
  }

  test("resampleOhlcv(4h) matches pandas resample(closed=right, label=right)") {
    val agg = TimeSeriesOps.resampleOhlcv(bars, "symbol", "datetime", 14400,
      emitEmpty = false)
      .withColumn("bucket_s", unix_timestamp(col("datetime")))
      .orderBy("bucket_s").collect()
    Seq(0, 1, 10, 50).foreach { i =>
      val r = agg(i)
      assert(r.getAs[Long]("bucket_s") == G(s"resample4h_${i}_bucket_s").toLong,
        s"bucket $i label")
      // boxed reads keep a NULL aggregate NULL (getAs[Double] gives 0.0)
      Seq("open", "high", "low", "close").foreach { c =>
        assertGold(r.getAs[java.lang.Double](c), s"resample4h_${i}_$c")
      }
      assertGold(r.getAs[java.lang.Double]("volume"), s"resample4h_${i}_volume", 1e-9)
    }
  }

  test("withEma(span=50) matches pandas ewm(adjust=False, min_periods=50)") {
    val out = Features.withEma(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", "close", Seq(Features.emaSpanSpec("e", 50)))
      .orderBy("datetime").select("e").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
    Seq(48, 49, 100, 299).foreach(i => assertGold(out(i), s"ema50_$i"))
  }

  test("sma(50) matches pandas rolling(50).mean()") {
    val out = bars
      .withColumn("s", Features.sma(col("close"), col("symbol"), col("datetime"), 50))
      .orderBy("datetime").select("s").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
    Seq(48, 49, 150).foreach(i => assertGold(out(i), s"sma50_$i"))
  }

  test("rollingStdPop(20) matches pandas rolling(20).std(ddof=0)") {
    val out = bars
      .withColumn("s", Features.rollingStdPop(col("close"), col("symbol"), col("datetime"), 20))
      .orderBy("datetime").select("s").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
    Seq(19, 150).foreach(i => assertGold(out(i), s"stdpop20_$i", 1e-8))
  }

  test("withRsi(14) matches the ta-library pandas formula") {
    val out = Features.withRsi(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", "close", w = 14)
      .orderBy("datetime").select("rsi").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))
    Seq(14, 150, 299).foreach(i => assertGold(out(i), s"rsi14_$i", 1e-8))
  }

  test("withMacd matches the ta-library pandas formulas (line + signal)") {
    val out = Features.withMacd(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", "close")
      .orderBy("datetime").select("macd", "macd_signal").collect()
    Seq(33, 150, 299).foreach { i =>
      val m = if (out(i).isNullAt(0)) null else java.lang.Double.valueOf(out(i).getDouble(0))
      val s2 = if (out(i).isNullAt(1)) null else java.lang.Double.valueOf(out(i).getDouble(1))
      assertGold(m, s"macd_$i", 1e-8)
      assertGold(s2, s"macdsig_$i", 1e-8)
    }
  }

  private def series(df: org.apache.spark.sql.DataFrame, c: String): Array[java.lang.Double] =
    df.orderBy("datetime").select(c).collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))

  test("withAtr(14) matches the pandas SMA-seeded Wilder recurrence") {
    // withAtr drops each key's first bar: output row i = corpus bar i+1
    val out = series(Features.withAtr(bars, "symbol", "datetime", w = 14), "atr")
    Seq(14, 150, 299).foreach(bar => assertGold(out(bar - 1), s"atr14_bar$bar", 1e-8))
  }

  test("withStochastic(14,3) matches pandas rolling min/max + mean") {
    val st = Features.withStochastic(bars, "symbol", "datetime", w = 14, smooth = 3)
    val k = series(st, "stoch_k")
    val dl = series(st, "stoch_d")
    Seq(13, 150, 299).foreach(bar => assertGold(k(bar), s"stochk14_bar$bar", 1e-8))
    Seq(15, 150, 299).foreach(bar => assertGold(dl(bar), s"stochd14_bar$bar", 1e-8))
  }

  test("withWilliamsR(14) matches the pandas formula") {
    val out = series(Features.withWilliamsR(bars, "symbol", "datetime", w = 14), "williams_r")
    Seq(13, 150).foreach(bar => assertGold(out(bar), s"williams14_bar$bar", 1e-8))
  }

  test("withRoc(12) matches pandas pct_change(12)*100") {
    val out = series(Features.withRoc(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", "close", n = 12), "roc")
    Seq(12, 150).foreach(bar => assertGold(out(bar), s"roc12_bar$bar", 1e-8))
  }

  test("withObv matches the ta cumulative sign convention") {
    val out = series(Features.withObv(bars, "symbol", "datetime"), "obv")
    Seq(0, 150, 299).foreach(bar => assertGold(out(bar), s"obv_bar$bar", 1e-6))
  }

  test("withDpo(20) matches pandas shift(11) - rolling(20).mean()") {
    val out = series(Features.withDpo(bars, "symbol", "datetime", w = 20), "dpo")
    Seq(19, 150).foreach(bar => assertGold(out(bar), s"dpo20_bar$bar", 1e-8))
  }

  test("withCci(20) matches pandas rolling MAD formula") {
    // non-flat bars only: a fully flat window makes CCI 0/0 noise (see
    // gen_goldens.py comment)
    val out = series(Features.withCci(bars, "symbol", "datetime", w = 20), "cci")
    Seq(19, 25, 299).foreach(bar => assertGold(out(bar), s"cci20_bar$bar", 1e-7))
  }

  test("withIchimoku matches the pandas min_periods=1 midpoints") {
    val ich = Indicators.withIchimoku(bars, "symbol", "datetime")
    val conv = series(ich, "ichimoku_conv")
    val base = series(ich, "ichimoku_base")
    val a = series(ich, "ichimoku_a")
    val b = series(ich, "ichimoku_b")
    Seq(0, 25, 150, 299).foreach { bar =>
      assertGold(conv(bar), s"ichi_conv_bar$bar")
      assertGold(base(bar), s"ichi_base_bar$bar")
      assertGold(a(bar), s"ichi_a_bar$bar")
      assertGold(b(bar), s"ichi_b_bar$bar")
    }
  }

  test("withTsi(25,13) matches the pandas double-EMA momentum ratio") {
    // withTsi drops each key's first bar (no diff): output row i = bar i+1
    val out = series(Indicators.withTsi(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime"), "tsi")
    Seq(37, 150, 299).foreach(bar => assertGold(out(bar - 1), s"tsi_bar$bar", 1e-8))
  }

  test("withPsar matches the ta trend-flip loop (value and regime)") {
    val ps = Indicators.withPsar(bars, "symbol", "datetime")
    val v = series(ps, "psar")
    val t = ps.orderBy("datetime").select("psar_up_trend").collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Boolean.valueOf(r.getBoolean(0)))
    Seq(2, 3, 150, 299).foreach { bar =>
      assertGold(v(bar), s"psar_bar$bar", 1e-8)
      assert(t(bar) != null && t(bar).booleanValue == (G(s"psar_trend_bar$bar") == 1.0),
        s"psar trend bar $bar")
    }
  }

  test("withAroon(25) matches pandas first-occurrence argmax/argmin") {
    val ar = Indicators.withAroon(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", w = 25)
    val up = series(ar, "aroon_up")
    val dn = series(ar, "aroon_down")
    Seq(24, 150, 299).foreach { bar =>
      assertGold(up(bar), s"aroonup_bar$bar", 1e-8)
      assertGold(dn(bar), s"aroondn_bar$bar", 1e-8)
    }
  }

  test("withWma(9) matches the pandas linear-weight window") {
    val out = series(Indicators.withWma(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", w = 9), "wma")
    Seq(8, 150).foreach(bar => assertGold(out(bar), s"wma9_bar$bar", 1e-8))
  }

  test("withNvi matches the pandas 1000-seeded gated product") {
    val out = series(Indicators.withNvi(bars, "symbol", "datetime"), "nvi")
    Seq(0, 150, 299).foreach(bar => assertGold(out(bar), s"nvi_bar$bar", 1e-6))
  }

  test("withVwap(14) matches the pandas typical-price ratio") {
    val out = series(Indicators.withVwap(bars, "symbol", "datetime", w = 14), "vwap")
    Seq(13, 100, 250).foreach(bar => assertGold(out(bar), s"vwap14_bar$bar", 1e-8))
  }

  test("withUlcer(14) matches the pandas drawdown RMS") {
    // withUlcer drops rows before the max window fills: row i = bar i+13
    val out = series(Indicators.withUlcer(bars.select("symbol", "datetime", "close"),
      "symbol", "datetime", w = 14), "ulcer")
    Seq(26, 150).foreach(bar => assertGold(out(bar - 13), s"ulcer14_bar$bar", 1e-8))
  }

  test("withMassIndex(9,25) matches the pandas double-EMA ratio sum") {
    // ratio rows start at 0-based bar 16 (the second EMA's 9th
    // observation): row j = bar j+16
    val out = series(Indicators.withMassIndex(bars, "symbol", "datetime"), "mass_index")
    Seq(41, 150, 299).foreach(bar => assertGold(out(bar - 16), s"mass_bar$bar", 1e-8))
  }

  test("withAwesome(5,34) matches the pandas midpoint SMA difference") {
    val out = series(Indicators.withAwesome(bars, "symbol", "datetime"), "ao")
    Seq(33, 150).foreach(bar => assertGold(out(bar), s"ao_bar$bar", 1e-8))
  }

  test("withDonchian(20) matches pandas rolling max/min") {
    val dc = Features.withDonchian(bars, "symbol", "datetime", w = 20)
    val up = series(dc, "dc_up")
    val dn = series(dc, "dc_dn")
    Seq(19, 150).foreach { bar =>
      assertGold(up(bar), s"donchup20_bar$bar")
      assertGold(dn(bar), s"donchdn20_bar$bar")
    }
  }
}
