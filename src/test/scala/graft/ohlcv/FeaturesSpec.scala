package graft.ohlcv

import org.apache.spark.sql.functions._
import graft.SparkSpec

class FeaturesSpec extends SparkSpec {
  import spark.implicits._

  private def series(vals: Double*) =
    vals.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
      .toDF("symbol", "idx", "close")

  test("sma: null until min_periods rows, then trailing mean") {
    val out = series(1, 2, 3, 4, 5)
      .withColumn("sma3", Features.sma(col("close"), col("symbol"), col("idx"), 3))
      .orderBy("idx").select("sma3").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(out(2).getDouble(0) == 2.0)
    assert(out(4).getDouble(0) == 4.0)
  }

  test("withEma: pandas ewm(adjust=False) recurrence with min_periods nulls") {
    // pandas: s.ewm(span=3, adjust=False, min_periods=3).mean()
    //   alpha = 0.5; ema = [1, 1.5, 2.75, 3.875] -> first two null
    val out = Features.withEma(series(1, 2, 4, 5), "symbol", "idx", "close",
      Seq(Features.emaSpanSpec("ema3", 3)))
      .orderBy("idx").select("ema3").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(approx(out(2).getDouble(0), 2.75))
    assert(approx(out(3).getDouble(0), 3.875))
  }

  test("withEma: state resets between keys") {
    val df = Seq(("a", 0L, 10.0), ("a", 1L, 20.0), ("b", 0L, 100.0), ("b", 1L, 200.0))
      .toDF("symbol", "idx", "close")
    val out = Features.withEma(df, "symbol", "idx", "close",
      Seq(Features.emaSpanSpec("e", 1))) // alpha=1 -> ema == close
      .orderBy("symbol", "idx").select("e").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 20.0, 100.0, 200.0))
  }

  test("withRsi: all-up series saturates to 100, mixed series in (0,100)") {
    val up = Features.withRsi(series(1, 2, 3, 4, 5, 6), "symbol", "idx", "close", w = 3)
      .orderBy("idx").select("rsi").collect()
    assert(up.last.getDouble(0) == 100.0)
    val mixed = Features.withRsi(series(5, 6, 4, 7, 3, 8), "symbol", "idx", "close", w = 3)
      .orderBy("idx").select("rsi").collect()
    val last = mixed.last.getDouble(0)
    assert(last > 0 && last < 100)
  }

  test("withBollinger uses population std (ddof=0)") {
    val out = Features.withBollinger(series(1, 2, 3), "symbol", "idx", "close", w = 3, k = 2.0)
      .orderBy("idx").collect().last
    val mid = out.getAs[Double]("bb_mid")
    val up = out.getAs[Double]("bb_up")
    // pop std of (1,2,3) = sqrt(2/3); sample std would be 1.0
    assert(approx(mid, 2.0))
    assert(approx(up, 2.0 + 2.0 * math.sqrt(2.0 / 3.0)))
  }

  test("savgol reproduces a quartic polynomial exactly (interior AND edges)") {
    // A polyorder-4 Savitzky-Golay filter is exact on degree<=4 polynomials,
    // including scipy-style mode="interp" edges.
    def poly(t: Double): Double = 3.0 + 2.0 * t - 0.5 * t * t + 0.01 * t * t * t * t
    val df = (0 until 60).map(i => ("a", i.toLong, poly(i))).toDF("symbol", "idx", "close")
    val out = Features.withSavgol(df, "symbol", "idx", "close", "sg", window = 21, polyorder = 4)
      .orderBy("idx").select("idx", "sg").collect()
    out.foreach { r =>
      val t = r.getLong(0).toDouble
      assert(approx(r.getDouble(1), poly(t), 1e-6), s"at t=$t: ${r.getDouble(1)} vs ${poly(t)}")
    }
  }

  test("withWilder: SMA seed then (prev*(w-1)+x)/w recurrence, per key") {
    val df = Seq(("a", 0L, 1.0), ("a", 1L, 2.0), ("a", 2L, 3.0), ("a", 3L, 4.0),
      ("a", 4L, 5.0), ("b", 0L, 10.0), ("b", 1L, 20.0))
      .toDF("symbol", "idx", "x")
    val out = Features.withWilder(df, "symbol", "idx", Seq("x" -> "wx"), w = 2)
      .orderBy("symbol", "idx").select("symbol", "wx").collect()
    assert(out(0).isNullAt(1))
    assert(approx(out(1).getDouble(1), 1.5))     // (1+2)/2
    assert(approx(out(2).getDouble(1), 2.25))    // (1.5*1+3)/2
    assert(approx(out(3).getDouble(1), 3.125))
    assert(approx(out(4).getDouble(1), 4.0625))
    assert(out(5).isNullAt(1))                   // key b restarts
    assert(approx(out(6).getDouble(1), 15.0))
  }

  test("withWilder: a missing value leaves the seed mean, then NULLs the rest of the key") {
    val df = Seq[(String, Long, java.lang.Double)](("a", 0L, 1.0), ("a", 1L, null),
      ("a", 2L, 3.0), ("a", 3L, 5.0), ("b", 0L, 1.0), ("b", 1L, 2.0), ("b", 2L, Double.NaN),
      ("b", 3L, 4.0), ("c", 0L, null), ("c", 1L, null), ("c", 2L, 7.0))
      .toDF("symbol", "idx", "x")
    val out = Features.withWilder(df, "symbol", "idx", Seq("x" -> "wx"), w = 2)
      .orderBy("symbol", "idx").select("wx").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    assert(out == Seq(None, Some(1.0), Some(2.0), Some(3.5),   // seed = mean of the one present
      None, Some(1.5), None, None,                             // NaN after the seed: NULL onwards
      None, None, None))                                       // no value to seed from
  }

  private def bars(rows: (Long, Double, Double, Double, Double)*) =
    rows.map { case (i, h, l, c, v) => ("a", i, h, l, c, v) }
      .toDF("symbol", "idx", "high", "low", "close", "volume")

  test("withAtr: true range uses prev close, Wilder-smoothed") {
    // bars: (idx, high, low, close, vol); TR_1 = max(12-8, |12-9|, |8-9|) = 4
    val df = bars((0, 10, 8, 9, 1), (1, 12, 8, 11, 1), (2, 13, 11, 12, 1))
    val out = Features.withAtr(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("idx", "atr").collect()
    // first bar dropped (no TR); TR = [4, max(2,|13-11|,|11-11|)=2]
    assert(out.length == 2)
    assert(out(0).isNullAt(1))
    assert(approx(out(1).getDouble(1), 3.0)) // seed (4+2)/2
  }

  test("trueRange: a missing term is skipped, as ta's pandas max(axis=1) skips NaN") {
    // pandas 2.2.2, ta's _true_range:
    //   pc = close.shift(1)
    //   pd.DataFrame({"tr1": high - low, "tr2": (high - pc).abs(),
    //                 "tr3": (low - pc).abs()}).max(axis=1)
    //   high  = [10, 12, 13, nan, 14, 15], low = [8, 8, 11, 11, 12, 13]
    //   close = [9, nan, 12, nan, 13, 14]
    //   -> [2.0, 4.0, 2.0, 1.0, 2.0, 2.0]
    val nan = Double.NaN
    val df = Seq[(Long, java.lang.Double, java.lang.Double, java.lang.Double)](
      (0L, 10.0, 8.0, 9.0), (1L, 12.0, 8.0, null), (2L, 13.0, 11.0, 12.0),
      (3L, nan, 11.0, nan), (4L, 14.0, 12.0, 13.0), (5L, 15.0, 13.0, 14.0))
      .map { case (i, h, l, c) => ("a", i, h, l, c) }
      .toDF("symbol", "idx", "high", "low", "close")
    val tr = Features.withTrueRange(df, "symbol", "idx", "high", "low", "close", "tr")
      .orderBy("idx").select("tr").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    // the first row stays NULL (no previous close; withAtr drops it)
    assert(tr == Seq(None, Some(4.0), Some(2.0), Some(1.0), Some(2.0), Some(2.0)))
    val atr = Features.withAtr(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("atr").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    // seed (4+2)/2, then (3·1+1)/2, (2+2)/2, (2+2)/2
    assert(atr == Seq(None, Some(3.0), Some(2.0), Some(2.0), Some(2.0)))
  }

  test("withObv: ta sign convention (first/flat bars positive)") {
    val df = bars((0, 0, 0, 10, 1), (1, 0, 0, 11, 2), (2, 0, 0, 11, 3), (3, 0, 0, 9, 4))
    val out = Features.withObv(df, "symbol", "idx")
      .orderBy("idx").select("obv").as[Double].collect()
    assert(out.toSeq == Seq(1.0, 3.0, 6.0, 2.0))
  }

  test("withStochastic: %K bounded 0..100, null head, %D is SMA of %K") {
    val df = bars((0, 10, 5, 7, 1), (1, 12, 6, 12, 1), (2, 11, 7, 8, 1), (3, 13, 8, 13, 1))
    val out = Features.withStochastic(df, "symbol", "idx", w = 2, smooth = 2)
      .orderBy("idx").select("stoch_k", "stoch_d").collect()
    assert(out(0).isNullAt(0)) // min_periods
    // idx1: ll=5 hh=12 -> (12-5)/7*100 = 100
    assert(approx(out(1).getDouble(0), 100.0))
    // idx2: ll=6 hh=12 -> (8-6)/6*100 = 33.33..
    assert(approx(out(2).getDouble(0), 200.0 / 6.0))
    assert(out(1).isNullAt(1)) // %D needs 2 non-null %K values
    assert(approx(out(2).getDouble(1), (100.0 + 200.0 / 6.0) / 2.0))
  }

  test("withAdx: all-up-moves series gives di_plus > 0, di_minus = 0, adx = 100") {
    // strictly rising bars: every +DM > 0, every -DM = 0 -> DX = 100 always
    val df = bars((0 until 8).map(i =>
      (i.toLong, 10.0 + i, 8.0 + i, 9.0 + i, 1.0)): _*)
    val out = Features.withAdx(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("di_plus", "di_minus", "adx").collect()
    val last = out.last
    assert(last.getDouble(0) > 0.0)
    assert(approx(last.getDouble(1), 0.0))
    assert(approx(last.getDouble(2), 100.0))
  }

  test("withWilliamsR: -100 at window low, 0 at window high") {
    val df = bars((0, 10, 5, 10, 1), (1, 12, 6, 6, 1), (2, 11, 7, 12, 1))
    val out = Features.withWilliamsR(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("williams_r").collect()
    assert(out(0).isNullAt(0))
    // idx1: hh=12 ll=5 close=6 -> -100*(12-6)/7
    assert(approx(out(1).getDouble(0), -100.0 * 6.0 / 7.0))
    // idx2: hh=12 ll=6 close=12 -> 0
    assert(approx(out(2).getDouble(0), 0.0))
  }

  test("withRoc: percentage change vs n-lagged value") {
    val out = Features.withRoc(series(100, 110, 121), "symbol", "idx", "close", n = 1)
      .orderBy("idx").select("roc").collect()
    assert(out(0).isNullAt(0))
    assert(approx(out(1).getDouble(0), 10.0))
    assert(approx(out(2).getDouble(0), 10.0))
  }

  test("withCci: zero at window mean, scales by mean abs deviation") {
    // tp = close when high=low=close
    val df = bars((0, 10, 10, 10, 1), (1, 14, 14, 14, 1), (2, 12, 12, 12, 1))
    val out = Features.withCci(df, "symbol", "idx", w = 3)
      .orderBy("idx").select("cci").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    // window (10,14,12): m=12, mad=(2+2+0)/3=4/3; cci=(12-12)/(.015*4/3)=0
    assert(approx(out(2).getDouble(0), 0.0))
  }

  test("withDonchian: rolling channel with min_periods") {
    val df = bars((0, 10, 5, 7, 1), (1, 12, 6, 8, 1), (2, 11, 8, 9, 1))
    val out = Features.withDonchian(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("dc_up", "dc_dn", "dc_mid").collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 12.0 && out(1).getDouble(1) == 5.0)
    assert(approx(out(1).getDouble(2), 8.5))
  }

  test("withKeltner: mid is the close EMA, bands offset by k*ATR") {
    val df = bars((0 until 6).map(i => (i.toLong, 11.0, 9.0, 10.0, 1.0)): _*)
    val out = Features.withKeltner(df, "symbol", "idx", w = 2, atrW = 2, k = 2.0)
      .orderBy("idx").select("kc_mid", "kc_up", "kc_dn").collect()
    // constant series: EMA=10, TR=2 always -> ATR=2; bands 10±4
    val last = out.last
    assert(approx(last.getDouble(0), 10.0))
    assert(approx(last.getDouble(1), 14.0))
    assert(approx(last.getDouble(2), 6.0))
  }

  test("withCmf: all closes at the high gives cmf = +1") {
    val df = bars((0, 10, 8, 10, 5), (1, 12, 9, 12, 3), (2, 11, 7, 11, 4))
    val out = Features.withCmf(df, "symbol", "idx", w = 3)
      .orderBy("idx").select("cmf").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(approx(out(2).getDouble(0), 1.0)) // mfm = +1 on every bar
  }

  test("withForceIndex: EMA of close-change times volume") {
    val df = bars((0, 0, 0, 10, 2), (1, 0, 0, 12, 3), (2, 0, 0, 11, 4))
    val out = Features.withForceIndex(df, "symbol", "idx", span = 1)
      .orderBy("idx").select("force_index").collect()
    // span=1 -> alpha=1: fi = raw = [(12-10)*3, (11-12)*4]
    assert(out(0).isNullAt(0))
    assert(approx(out(1).getDouble(0), 6.0))
    assert(approx(out(2).getDouble(0), -4.0))
  }

  test("withTrix: constant series yields 0 rate of change") {
    val df = (0 until 10).map(i => ("a", i.toLong, 5.0)).toDF("symbol", "idx", "close")
    val out = Features.withTrix(df, "symbol", "idx", "close", span = 2)
      .orderBy("idx").select("trix").collect()
    // span=2: e1 from rn>=2, e2 from rn>=3, e3 from rn>=4, trix from rn>=5
    assert(out(3).isNullAt(0))
    assert(approx(out(9).getDouble(0), 0.0))
  }

  test("withMfi: all-rising typical price gives mfi = 100") {
    val df = bars((0 until 5).map(i =>
      (i.toLong, 10.0 + i, 8.0 + i, 9.0 + i, 2.0)): _*)
    val out = Features.withMfi(df, "symbol", "idx", w = 3)
      .orderBy("idx").select("mfi").collect()
    assert(out.length == 4) // first bar dropped (no prev tp)
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(approx(out(2).getDouble(0), 100.0))
  }

  test("withDpo: shifted close minus rolling mean") {
    // w=2 -> shift = 2; constant close -> dpo = 0 once defined
    val df = bars((0 until 5).map(i => (i.toLong, 0.0, 0.0, 7.0, 1.0)): _*)
    val out = Features.withDpo(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("dpo").collect()
    assert(out(0).isNullAt(0) && out(1).isNullAt(0))
    assert(approx(out(2).getDouble(0), 0.0))
  }

  test("withPpo: constant series gives ppo = 0 after warmup") {
    val df = (0 until 40).map(i => ("a", i.toLong, 4.0)).toDF("symbol", "idx", "close")
    val out = Features.withPpo(df, "symbol", "idx", "close")
      .filter(col("ppo_hist").isNotNull)
      .select("ppo", "ppo_signal", "ppo_hist").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(approx(r.getDouble(0), 0.0) && approx(r.getDouble(2), 0.0))
    }
  }

  test("withUltimate: close pinned at the high gives uo = 100") {
    // close = high, prev_close = high - 1 < low: bp = close - min(low,pc)...
    // use monotone bars where close == high and low == close - 1
    val df = bars((0 until 30).map(i =>
      (i.toLong, 10.0 + i, 9.0 + i, 10.0 + i, 1.0)): _*)
    val out = Features.withUltimate(df, "symbol", "idx", 2, 3, 4)
      .orderBy("idx").select("ultimate").collect()
    // bp = close - min(low, pc) = (10+i) - (9+i) = 1; utr = max(high,pc)-min = 1
    val defined = out.filter(!_.isNullAt(0))
    assert(defined.nonEmpty)
    defined.foreach(r => assert(approx(r.getDouble(0), 100.0)))
  }

  test("withVortex: ratios over true-range sums, window-gated") {
    val df = bars((0 until 5).map(i =>
      (i.toLong, 10.0 + i, 9.0 + i, 9.5 + i, 1.0)): _*)
    val out = Features.withVortex(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("vi_plus", "vi_minus").collect()
    assert(out(0).isNullAt(0))
    // vmp = |high - prev_low| = 2; vmm = |low - prev_high| = 0; tr = max(1, 1.5, 0.5) = 1.5
    assert(approx(out(1).getDouble(0), (2.0 + 2.0) / 3.0 / 1.0))
    assert(approx(out(1).getDouble(1), 0.0))
  }

  test("withEom: flat-bar raws are excluded by min_periods counting") {
    val df = bars((0, 10, 8, 9, 100), (1, 10, 10, 10, 100), (2, 12, 9, 10, 100),
      (3, 13, 10, 11, 100))
    val out = Features.withEom(df, "symbol", "idx", w = 2)
      .orderBy("idx").select("eom").collect()
    // raw: idx0 null (no prev), idx1 null (flat), idx2/idx3 defined -> first eom at idx3
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && out(2).isNullAt(0))
    assert(!out(3).isNullAt(0))
  }

  test("withAdaptiveEma: seeds at first alpha, carries state over null alpha") {
    val df = Seq(
      ("a", 0L, 10.0, null.asInstanceOf[java.lang.Double]),
      ("a", 1L, 20.0, java.lang.Double.valueOf(0.5)),
      ("a", 2L, 30.0, null.asInstanceOf[java.lang.Double]),
      ("a", 3L, 40.0, java.lang.Double.valueOf(1.0)))
      .toDF("symbol", "idx", "x", "alpha")
    val out = Features.withAdaptiveEma(df, "symbol", "idx", "x", "alpha", "s")
      .orderBy("idx").select("s").collect()
    assert(out(0).isNullAt(0))
    assert(approx(out(1).getDouble(0), 20.0)) // seed = value, not blended
    assert(approx(out(2).getDouble(0), 20.0)) // null alpha carries
    assert(approx(out(3).getDouble(0), 40.0)) // alpha 1 jumps to value
  }

  test("withKama: converges to the level on a flat-then-step series") {
    // 15 bars at 10, then 15 bars at 20: er becomes 1 on the clean step,
    // sc = (2/3)^2 ~ 0.444 -> kama moves toward 20 and stays within [10,20]
    val vals = Seq.fill(15)(10.0) ++ Seq.fill(15)(20.0)
    val df = vals.zipWithIndex.map { case (v, i) => ("a", i.toLong, v) }
      .toDF("symbol", "idx", "close")
    val out = Features.withKama(df, "symbol", "idx", "close")
      .orderBy("idx").select("kama").collect()
    val defined = out.filter(!_.isNullAt(0)).map(_.getDouble(0))
    assert(defined.nonEmpty)
    assert(defined.forall(v => v >= 10.0 - 1e-9 && v <= 20.0 + 1e-9))
    assert(math.abs(defined.last - 20.0) < 1.0) // pulled to the new level
  }

  test("withChaikinOsc: close at the high drives the oscillator positive") {
    val df = bars((0 until 15).map(i =>
      (i.toLong, 10.0 + i, 8.0 + i, 10.0 + i, 5.0)): _*)
    val out = Features.withChaikinOsc(df, "symbol", "idx")
      .orderBy("idx").select("chaikin_osc").collect()
    assert(out(8).isNullAt(0)) // needs 10 bars for the slow EMA
    // ADL rises by +vol each bar (mfm = +1): fast EMA > slow EMA
    assert(out(14).getDouble(0) > 0.0)
  }

  test("savgol center weights match the classical 21-point quartic kernel sign pattern") {
    val d = Features.SavgolDesign(21, 4)
    val w = d.centerWeights
    assert(w.length == 21)
    assert(approx(w.sum, 1.0, 1e-9))                  // DC preserved
    assert(w(10) > w(9) && w(9) > w(0))               // peak at center
    // symmetric
    (0 until 10).foreach(i => assert(approx(w(i), w(20 - i), 1e-9)))
  }
}
