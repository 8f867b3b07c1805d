package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RunningEma
import org.apache.spark.sql.types.{DoubleType, StructField}
import Indicators.hsum

/** Technical-analysis feature operators (SURVEY.md §2.5 W3–W5, §2.8 F14).
  *
  * Rolling means are plain window frames (codegen'd). The EMA recurrence
  * has infinite lookback, so no bounded frame of a built-in aggregate
  * expresses it; it is a running window function
  * ([[org.apache.spark.sql.graft.RunningEma]]) that `WindowExec` updates
  * row by row over an unbounded-preceding frame, inside the same
  * partitioning and sort as the rolling columns. It is sequential *per
  * series* but all series run in parallel, which is the maximum
  * parallelism the semantics admit. The Wilder and adaptive recurrences
  * ([[withWilder]], [[withAdaptiveEma]]) are [[OrderedScan]]s: one key
  * exchange, one sort and one streaming pass.
  *
  * [[withEma]] and [[withWilder]] read a NULL or NaN input as pandas and
  * the `ta` loops read NaN; each states its rule.
  */
object Features {

  /** Simple moving average over the trailing `w` rows with pandas
    * `min_periods=w` semantics (null until `w` rows seen) — reference
    * `preprocess.py:46-51` (W3).
    */
  def sma(valCol: Column, keyCol: Column, ordCol: Column, w: Int): Column = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    when(count(valCol).over(frame) === w, avg(valCol).over(frame))
  }

  /** Exact rolling median (pandas `rolling(w).median()` with
    * `min_periods=w`) over the trailing `w` rows. `w` must be odd so the
    * median is the middle order statistic — pure SELECTION, no float
    * arithmetic, so any engine computing the same window agrees bitwise.
    * The in-memory sort is over `w` elements per row; for large `w` a
    * two-heap mapPartitions scan would replace it, but indicator windows
    * are tens of rows.
    */
  def rollingMedian(valCol: Column, keyCol: Column, ordCol: Column, w: Int): Column = {
    require(w % 2 == 1, "odd window keeps the median a pure selection")
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    when(count(valCol).over(frame) === w,
      element_at(array_sort(collect_list(valCol).over(frame)), (w + 1) / 2))
  }

  /** Rolling population standard deviation (ddof=0, as the `ta` library
    * passes to pandas) over the trailing `w` rows, null until `w` rows.
    */
  def rollingStdPop(valCol: Column, keyCol: Column, ordCol: Column, w: Int): Column = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    when(count(valCol).over(frame) === w, stddev_pop(valCol).over(frame))
  }

  /** Append EMA columns computed by the recurrence
    * `ema_t = α·x_t + (1−α)·ema_{t−1}` seeded at the first value
    * (pandas `ewm(adjust=False)`, reference `preprocess.py:52-54`, W4).
    *
    * `specs` maps output column name → (alpha, minPeriods); rows before
    * `minPeriods` non-null observations have been consumed get null
    * (pandas `min_periods` counts observations, not rows — relevant when
    * smoothing a derived series with a null head, e.g. the MACD signal).
    * A NULL or NaN input is a missing row, as in pandas' default
    * `ignore_na=False`: it emits the carried EMA, and the weight of the
    * carried EMA decays by (1−α) per row until the next observation
    * (see [[org.apache.spark.sql.graft.RunningEma]]). Without missing rows
    * the recurrence is the one above.
    *
    * Physical shape: each spec is a running window function
    * ([[org.apache.spark.sql.graft.RunningEma]]) over
    * `PARTITION BY keyCol ORDER BY ordCol`, so it shares the hash
    * partitioning and sort of every other window column of the key (the
    * `sma`/`lag`/Bollinger columns) and adds no shuffle of its own. State
    * is three values per spec and series — safe at any series length.
    */
  def withEma(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      specs: Seq[(String, Double, Int)]): DataFrame =
    df.select(col("*") +: specs.map { case (name, alpha, minPeriods) =>
      RunningEma.over(col(valCol), col(keyCol), col(ordCol), alpha, minPeriods).as(name)
    }: _*)

  /** Span-parameterized EMA (pandas `ewm(span=w)`): α = 2/(w+1). */
  def emaSpanSpec(name: String, span: Int): (String, Double, Int) =
    (name, 2.0 / (span + 1), span)

  /** Wilder-style EMA (pandas `ewm(alpha=1/w)`), used by RSI. */
  def emaAlphaSpec(name: String, w: Int): (String, Double, Int) =
    (name, 1.0 / w, w)

  /** RSI(w) per the `ta` library: up/down moves smoothed with
    * `ewm(alpha=1/w, min_periods=w, adjust=False)`, rsi = 100 − 100/(1+rs).
    */
  def withRsi(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      w: Int = 14, outCol: String = "rsi"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val diffed = df
      .withColumn("__diff", col(valCol) - lag(valCol, 1).over(win))
      // greatest() ignores nulls, which would turn the first row's null
      // diff into 0.0 and shift the whole recurrence — keep it null.
      .withColumn("__up", when(col("__diff").isNotNull, greatest(col("__diff"), lit(0.0))))
      .withColumn("__dn", when(col("__diff").isNotNull, greatest(-col("__diff"), lit(0.0))))
    val smoothed = withEma(diffed, keyCol, ordCol, "__up",
      Seq(emaAlphaSpec("__up_ema", w)))
    val smoothed2 = withEma(smoothed, keyCol, ordCol, "__dn",
      Seq(emaAlphaSpec("__dn_ema", w)))
    smoothed2
      .withColumn(outCol,
        when(col("__dn_ema") === 0.0, lit(100.0))
          .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("__up_ema") / col("__dn_ema"))))
      .drop("__diff", "__up", "__dn", "__up_ema", "__dn_ema")
  }

  /** MACD(fast=12, slow=26, signal=9): EMA_fast − EMA_slow, signal EMA of
    * the MACD line, histogram = macd − signal.
    */
  def withMacd(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame = {
    val withEmas = withEma(df, keyCol, ordCol, valCol,
      Seq(emaSpanSpec("__ema_fast", fast), emaSpanSpec("__ema_slow", slow)))
    val withLine = withEmas.withColumn("macd", col("__ema_fast") - col("__ema_slow"))
    val withSig = withEma(withLine, keyCol, ordCol, "macd",
      Seq(emaSpanSpec("macd_signal", signal)))
    withSig
      .withColumn("macd_hist", col("macd") - col("macd_signal"))
      .drop("__ema_fast", "__ema_slow")
  }

  /** Append Wilder-smoothed columns (the classical SMA-seeded recurrence
    * used by ATR/ADX: rows 1..w−1 null, row w = mean of the first w
    * values, then `s_t = (s_{t−1}·(w−1) + x_t)/w`). Like [[withEma]] this
    * is the one genuinely sequential shape — an ordered per-key scan with
    * O(#specs) state — and all `specs` columns smooth in a single pass.
    * `specs` maps input column (double) → output column.
    *
    * A NULL or NaN input is missing, as NaN in the `ta` loop: the seed is
    * the mean of the values present among the first w (pandas `mean()`
    * skips NaN; NULL when none is), and a missing value after the seed
    * makes that row and every later row of the key NULL, the NaN that the
    * loop's arithmetic carries forward.
    */
  def withWilder(df: DataFrame, keyCol: String, ordCol: String,
      specs: Seq[(String, String)], w: Int): DataFrame = {
    val valIdxs = specs.map(s => df.schema.fieldIndex(s._1)).toArray
    val nSpecs = specs.length
    OrderedScan(df, keyCol, ordCol,
        specs.map { case (_, out) => StructField(out, DoubleType, nullable = true) }) { () =>
      var n = 0L
      val acc = new Array[Double](nSpecs)
      val present = new Array[Long](nSpecs)
      (row, out) => {
        n += 1
        var j = 0
        while (j < nSpecs) {
          val x = doubleOrNaN(row, valIdxs(j))
          if (n <= w) {
            if (!x.isNaN) { acc(j) += x; present(j) += 1 }
            if (n == w) acc(j) /= present(j)
          } else acc(j) = (acc(j) * (w - 1) + x) / w
          if (n >= w && !acc(j).isNaN) out(j) = acc(j)
          j += 1
        }
      }
    }
  }

  /** A double cell as pandas holds it: NULL reads as NaN. */
  private[ohlcv] def doubleOrNaN(row: Row, i: Int): Double =
    if (row.isNullAt(i)) Double.NaN else row.getDouble(i)

  /** Drop the first `n` rows of each key in `ordCol` order, by position,
    * whatever their values. */
  private[ohlcv] def dropHeadRows(df: DataFrame, keyCol: String, ordCol: String,
      n: Int): DataFrame =
    df.withColumn("__rn", row_number().over(Window.partitionBy(keyCol).orderBy(ordCol)))
      .filter(col("__rn") > n)
      .drop("__rn")

  /** Adds `outCol`, the true range: max(high−low, |high−prevClose|,
    * |low−prevClose|), the `ta` library's `_true_range`: a row-wise pandas
    * `max` that skips a missing term, so the bar after a missing close has
    * high − low. A NULL or NaN term is missing (Spark's `greatest` would
    * rank NaN highest). NULL when every term is missing, and on each key's
    * first row (no previous close).
    */
  def withTrueRange(df: DataFrame, keyCol: String, ordCol: String, highCol: String,
      lowCol: String, closeCol: String, outCol: String): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val pc = col("__pc")
    def term(c: Column): Column = nanvl(c, lit(null).cast("double"))
    df.withColumn("__pc", lag(closeCol, 1).over(win))
      .withColumn(outCol, when(row_number().over(win) > 1,
        greatest(term(col(highCol) - col(lowCol)), term(abs(col(highCol) - pc)),
          term(abs(col(lowCol) - pc)))))
      .drop("__pc")
  }

  /** ATR(w): Wilder-smoothed true range (reference pulls it via
    * `add_all_ta_features`, `core/data/preprocess.py:11-16`). The first
    * row per key (undefined TR) is dropped from the output frame, and no
    * other. A bar whose true-range terms are all missing (see
    * [[withTrueRange]]) has a NULL true range, which [[withWilder]] reads as
    * missing: left out of the seed mean, NULL ATR from there on.
    */
  def withAtr(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      highCol: String = "high", lowCol: String = "low",
      closeCol: String = "close", outCol: String = "atr"): DataFrame = {
    val withTr = dropHeadRows(
      withTrueRange(df, keyCol, ordCol, highCol, lowCol, closeCol, "__tr"),
      keyCol, ordCol, 1)
    withWilder(withTr, keyCol, ordCol, Seq("__tr" -> outCol), w).drop("__tr")
  }

  /** On-balance volume: cumulative ±volume, negative when close dropped
    * vs the previous bar (`ta`'s convention: the first bar and flat bars
    * count positive).
    */
  def withObv(df: DataFrame, keyCol: String, ordCol: String,
      closeCol: String = "close", volCol: String = "volume",
      outCol: String = "obv"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val pc = lag(closeCol, 1).over(win)
    val signed = when(pc.isNotNull && col(closeCol) < pc, -col(volCol))
      .otherwise(col(volCol))
    val cum = Window.partitionBy(keyCol).orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, sum(signed).over(cum))
  }

  /** Stochastic oscillator: %K = 100·(close − min(low,w))/(max(high,w) −
    * min(low,w)) with min_periods=w, %D = SMA(smooth) of %K. Null %K when
    * the window is short or flat (max == min).
    */
  def withStochastic(df: DataFrame, keyCol: String, ordCol: String,
      w: Int = 14, smooth: Int = 3, highCol: String = "high",
      lowCol: String = "low", closeCol: String = "close"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val cnt = count(col(closeCol)).over(frame)
    val ll = min(col(lowCol)).over(frame)
    val hh = max(col(highCol)).over(frame)
    val k = when(cnt === w && hh > ll, (col(closeCol) - ll) / (hh - ll) * 100.0)
    val withK = df.withColumn("stoch_k", k)
    withK.withColumn("stoch_d",
      sma(col("stoch_k"), col(keyCol), col(ordCol), smooth))
  }

  /** ADX(w) — Wilder's directional movement system: ±DM gated on the
    * larger move, TR/±DM Wilder-smoothed in one pass, ±DI = 100·sDM/sTR,
    * DX = 100·|+DI − −DI|/(+DI + −DI), ADX = Wilder-smoothed DX (the DX
    * series is re-numbered so its own w-row seed starts where DX becomes
    * defined). Output keeps `di_plus`, `di_minus`, `adx`; rows where DX
    * is undefined (short head, zero sTR, both DMs zero) are dropped.
    */
  def withAdx(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      highCol: String = "high", lowCol: String = "low",
      closeCol: String = "close"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val up = col(highCol) - col("__ph")
    val dn = col("__pl") - col(lowCol)
    val base = withTrueRange(df, keyCol, ordCol, highCol, lowCol, closeCol, "__tr")
      .withColumn("__ph", lag(highCol, 1).over(win))
      .withColumn("__pl", lag(lowCol, 1).over(win))
      .withColumn("__dmp", when(up > dn && up > 0, up).otherwise(lit(0.0)))
      .withColumn("__dmm", when(dn > up && dn > 0, dn).otherwise(lit(0.0)))
      .drop("__ph", "__pl")
      .filter(col("__tr").isNotNull)
    val smoothed = withWilder(base, keyCol, ordCol,
      Seq("__tr" -> "__satr", "__dmp" -> "__sdmp", "__dmm" -> "__sdmm"), w)
    val withDx = smoothed
      .withColumn("di_plus", when(col("__satr") > 0, lit(100.0) * col("__sdmp") / col("__satr")))
      .withColumn("di_minus", when(col("__satr") > 0, lit(100.0) * col("__sdmm") / col("__satr")))
      .withColumn("__dx",
        when(col("di_plus") + col("di_minus") > 0,
          lit(100.0) * abs(col("di_plus") - col("di_minus")) / (col("di_plus") + col("di_minus"))))
      .filter(col("__dx").isNotNull)
    withWilder(withDx, keyCol, ordCol, Seq("__dx" -> "adx"), w)
      .drop("__tr", "__dmp", "__dmm", "__dx", "__satr", "__sdmp", "__sdmm")
  }

  /** Williams %R(w): −100·(max(high,w) − close)/(max(high,w) − min(low,w)),
    * min_periods=w, null when the window is flat.
    */
  def withWilliamsR(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      highCol: String = "high", lowCol: String = "low",
      closeCol: String = "close", outCol: String = "williams_r"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val cnt = count(col(closeCol)).over(frame)
    val ll = min(col(lowCol)).over(frame)
    val hh = max(col(highCol)).over(frame)
    df.withColumn(outCol,
      when(cnt === w && hh > ll, lit(-100.0) * (hh - col(closeCol)) / (hh - ll)))
  }

  /** Rate of change: 100·(x − x_{t−n})/x_{t−n}; null for the first n rows
    * per key and when the lagged value is zero.
    */
  def withRoc(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      n: Int = 12, outCol: String = "roc"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val prev = col("__prev")
    df.withColumn("__prev", lag(valCol, n).over(win))
      .withColumn(outCol, when(prev.isNotNull && prev =!= 0.0,
        lit(100.0) * (col(valCol) - prev) / prev))
      .drop("__prev")
  }

  /** CCI(w): (tp − SMA(tp,w)) / (c·MAD(tp,w)) where tp = (high+low+close)/3
    * and MAD is the mean absolute deviation around the WINDOW's own mean
    * (pandas `rolling.apply(lambda x: mean(|x − x.mean()|))`). The mean
    * rides a plain window sum — Spark's sliding frame re-accumulates rows
    * lower→upper per output row, the same left-to-right order as the
    * oracle's `list_sum`, so the doubles are bit-identical. Only MAD needs
    * the collected frame array (its deviation target is the row's own
    * window mean, which no decomposable window aggregate expresses); its
    * single sequential HOF fold again matches the oracle's list order.
    */
  def withCci(df: DataFrame, keyCol: String, ordCol: String, w: Int = 20,
      c: Double = 0.015, highCol: String = "high", lowCol: String = "low",
      closeCol: String = "close", outCol: String = "cci"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val tp = (col(highCol) + col(lowCol) + col(closeCol)) / 3.0
    val base = df.withColumn("__tp", tp)
      .withColumn("__tps", collect_list(col("__tp")).over(frame))
      .withColumn("__m", sum(col("__tp")).over(frame) / w)
    val mad = aggregate(col("__tps"), lit(0.0), (a, x) => a + abs(x - col("__m"))) / w
    base
      .withColumn("__mad", mad)
      .withColumn(outCol,
        when(size(col("__tps")) === w && col("__mad") > 0,
          (col("__tp") - col("__m")) / (lit(c) * col("__mad"))))
      .drop("__tp", "__tps", "__m", "__mad")
  }

  /** Donchian channel(w): rolling max(high) / min(low) / midpoint,
    * min_periods=w.
    */
  def withDonchian(df: DataFrame, keyCol: String, ordCol: String, w: Int = 20,
      highCol: String = "high", lowCol: String = "low"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val cnt = count(col(highCol)).over(frame)
    val up = when(cnt === w, max(col(highCol)).over(frame))
    val dn = when(cnt === w, min(col(lowCol)).over(frame))
    df.withColumn("dc_up", up)
      .withColumn("dc_dn", dn)
      .withColumn("dc_mid", (col("dc_up") + col("dc_dn")) / 2.0)
  }

  /** Keltner channel: EMA(close, span=w) midline ± k·ATR(atrW). The ATR
    * side drops each key's first bar (undefined TR), so it joins back on
    * (key, ord) — bands are null until both stats have their min_periods.
    */
  def withKeltner(df: DataFrame, keyCol: String, ordCol: String, w: Int = 20,
      atrW: Int = 10, k: Double = 2.0): DataFrame = {
    val mid = withEma(df, keyCol, ordCol, "close", Seq(emaSpanSpec("kc_mid", w)))
    val atr = withAtr(df, keyCol, ordCol, w = atrW)
      .select(col(keyCol), col(ordCol), col("atr").as("__kc_atr"))
    mid.join(atr, Seq(keyCol, ordCol), "left")
      .withColumn("kc_up", col("kc_mid") + lit(k) * col("__kc_atr"))
      .withColumn("kc_dn", col("kc_mid") - lit(k) * col("__kc_atr"))
      .drop("__kc_atr")
  }

  /** Chaikin money flow(w): Σ(mfm·volume, w) / Σ(volume, w) where
    * mfm = ((close−low) − (high−close))/(high−low) (0 on flat bars).
    * Window sums use collected-frame sequential HOF arithmetic (not the
    * engine's incremental window aggregation) so summation order is
    * deterministic and oracle-identical.
    */
  def withCmf(df: DataFrame, keyCol: String, ordCol: String, w: Int = 20,
      outCol: String = "cmf"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val mfm = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) /
        (col("high") - col("low"))).otherwise(lit(0.0))
    val base = df.withColumn("__mfv", mfm * col("volume"))
      .withColumn("__mfvs", collect_list(col("__mfv")).over(frame))
      .withColumn("__vols", collect_list(col("volume")).over(frame))
    val sumMfv = aggregate(col("__mfvs"), lit(0.0), (a, x) => a + x)
    val sumVol = aggregate(col("__vols"), lit(0.0), (a, x) => a + x)
    base
      .withColumn(outCol,
        when(size(col("__mfvs")) === w && sumVol =!= 0.0, sumMfv / sumVol))
      .drop("__mfv", "__mfvs", "__vols")
  }

  /** Force index: EMA(span) of (close − prevClose)·volume; the first bar
    * per key (no previous close) contributes a null that the EMA skips.
    */
  def withForceIndex(df: DataFrame, keyCol: String, ordCol: String,
      span: Int = 13, outCol: String = "force_index"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val pc = lag("close", 1).over(win)
    val raw = df.withColumn("__fi_raw",
      when(pc.isNotNull, (col("close") - pc) * col("volume")))
    withEma(raw, keyCol, ordCol, "__fi_raw", Seq(emaSpanSpec(outCol, span)))
      .drop("__fi_raw")
  }

  /** TRIX(span): triple-smoothed EMA's percentage rate of change,
    * 100·(e3 − e3_{t−1})/e3_{t−1}. Each EMA stage counts its own
    * min_periods from the previous stage's first emitted value, so TRIX
    * appears after 3·span − 2 bars (plus one for the lag).
    */
  def withTrix(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", span: Int = 15, outCol: String = "trix"): DataFrame = {
    val e1 = withEma(df, keyCol, ordCol, valCol, Seq(emaSpanSpec("__e1", span)))
    val e2 = withEma(e1, keyCol, ordCol, "__e1", Seq(emaSpanSpec("__e2", span)))
    val e3 = withEma(e2, keyCol, ordCol, "__e2", Seq(emaSpanSpec("__e3", span)))
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val pe3 = col("__pe3")
    e3.withColumn("__pe3", lag("__e3", 1).over(win))
      .withColumn(outCol,
        when(pe3.isNotNull && pe3 =!= 0.0, lit(100.0) * (col("__e3") - pe3) / pe3))
      .drop("__e1", "__e2", "__e3", "__pe3")
  }

  /** Money flow index(w): typical-price money flow split by tp direction,
    * MFI = 100·Σpos/(Σpos + Σneg) over the trailing w diff-rows. Rows
    * without a previous bar are dropped; null until w rows and when both
    * flows are zero. Window sums use collected-frame sequential HOF
    * arithmetic for oracle-exact summation order.
    */
  def withMfi(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      outCol: String = "mfi"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val tp = (col("high") + col("low") + col("close")) / 3.0
    val base = df.withColumn("__tp", tp)
      .withColumn("__ptp", lag("__tp", 1).over(win))
      .filter(col("__ptp").isNotNull)
      .withColumn("__pos", when(col("__tp") > col("__ptp"), col("__tp") * col("volume")).otherwise(lit(0.0)))
      .withColumn("__neg", when(col("__tp") < col("__ptp"), col("__tp") * col("volume")).otherwise(lit(0.0)))
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val withLists = base
      .withColumn("__ps", collect_list(col("__pos")).over(frame))
      .withColumn("__ns", collect_list(col("__neg")).over(frame))
    val sp = aggregate(col("__ps"), lit(0.0), (a, x) => a + x)
    val sn = aggregate(col("__ns"), lit(0.0), (a, x) => a + x)
    withLists
      .withColumn(outCol,
        when(size(col("__ps")) === w && sp + sn > 0, lit(100.0) * sp / (sp + sn)))
      .drop("__tp", "__ptp", "__pos", "__neg", "__ps", "__ns")
  }

  /** Ease of movement(w): midpoint move ÷ box ratio, SMA-smoothed.
    * dm = (high+low)/2 − (prevHigh+prevLow)/2; br = (volume/1e8)/(high−low);
    * eom = SMA_w(dm/br). Flat bars (high = low) yield null raw values,
    * which the SMA's observation count excludes.
    */
  def withEom(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      outCol: String = "eom"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val mid = (col("high") + col("low")) / 2.0
    val pmid = lag(col("high"), 1).over(win)
    val plow = lag(col("low"), 1).over(win)
    val dm = mid - (pmid + plow) / 2.0
    val raw = when(pmid.isNotNull && col("high") > col("low"),
      dm / ((col("volume") / 1.0e8) / (col("high") - col("low"))))
    val base = df.withColumn("__eom_raw", raw)
    base.withColumn(outCol,
      sma(col("__eom_raw"), col(keyCol), col(ordCol), w))
      .drop("__eom_raw")
  }

  /** Detrended price oscillator(w): close_{t−(w/2+1)} − SMA_w(close). */
  def withDpo(df: DataFrame, keyCol: String, ordCol: String, w: Int = 20,
      valCol: String = "close", outCol: String = "dpo"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val shifted = col("__shifted")
    df.withColumn("__shifted", lag(valCol, w / 2 + 1).over(win))
      .withColumn(outCol, when(shifted.isNotNull,
        shifted - sma(col(valCol), col(keyCol), col(ordCol), w)))
      .drop("__shifted")
  }

  /** Percentage price oscillator(fast, slow, signal): MACD's percentage
    * form — ppo = 100·(EMA_fast − EMA_slow)/EMA_slow, plus its signal EMA
    * and histogram.
    */
  def withPpo(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame = {
    val withEmas = withEma(df, keyCol, ordCol, valCol,
      Seq(emaSpanSpec("__ema_fast", fast), emaSpanSpec("__ema_slow", slow)))
    val withLine = withEmas.withColumn("ppo",
      when(col("__ema_slow") =!= 0.0,
        lit(100.0) * (col("__ema_fast") - col("__ema_slow")) / col("__ema_slow")))
    val withSig = withEma(withLine, keyCol, ordCol, "ppo",
      Seq(emaSpanSpec("ppo_signal", signal)))
    withSig
      .withColumn("ppo_hist", col("ppo") - col("ppo_signal"))
      .drop("__ema_fast", "__ema_slow")
  }

  /** Ultimate oscillator(7, 14, 28): buying pressure over true range at
    * three horizons, weighted 4/2/1. bp = close − min(low, prevClose);
    * tr = max(high, prevClose) − min(low, prevClose). Sums are
    * collected-frame HOF sums; null until the longest window fills.
    */
  def withUltimate(df: DataFrame, keyCol: String, ordCol: String,
      w1: Int = 7, w2: Int = 14, w3: Int = 28,
      outCol: String = "ultimate"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val base = df
      .withColumn("__pc", lag("close", 1).over(win))
      .withColumn("__bp", col("close") - least(col("low"), col("__pc")))
      .withColumn("__utr",
        greatest(col("high"), col("__pc")) - least(col("low"), col("__pc")))
      .filter(col("__pc").isNotNull)
      .drop("__pc")
    def avgAt(w: Int): (Column, Column) = {
      val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
      (collect_list(col("__bp")).over(frame), collect_list(col("__utr")).over(frame))
    }
    val (b1, t1) = avgAt(w1); val (b2, t2) = avgAt(w2); val (b3, t3) = avgAt(w3)
    val lists = base
      .withColumn("__b1", b1).withColumn("__t1", t1)
      .withColumn("__b2", b2).withColumn("__t2", t2)
      .withColumn("__b3", b3).withColumn("__t3", t3)
    val a1 = hsum(col("__b1")) / hsum(col("__t1"))
    val a2 = hsum(col("__b2")) / hsum(col("__t2"))
    val a3 = hsum(col("__b3")) / hsum(col("__t3"))
    lists.withColumn(outCol,
      when(size(col("__b3")) === w3 &&
          hsum(col("__t1")) > 0 && hsum(col("__t2")) > 0 && hsum(col("__t3")) > 0,
        lit(100.0) * (lit(4.0) * a1 + lit(2.0) * a2 + a3) / 7.0))
      .drop("__bp", "__utr", "__b1", "__t1", "__b2", "__t2", "__b3", "__t3")
  }

  /** Vortex indicator(w): VI± = Σ|high − prevLow| / ΣTR and
    * Σ|low − prevHigh| / ΣTR over the trailing w diff-rows.
    */
  def withVortex(df: DataFrame, keyCol: String, ordCol: String,
      w: Int = 14): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val base = df
      .withColumn("__ph", lag("high", 1).over(win))
      .withColumn("__pl", lag("low", 1).over(win))
      .withColumn("__pc", lag("close", 1).over(win))
      .withColumn("__vmp", abs(col("high") - col("__pl")))
      .withColumn("__vmm", abs(col("low") - col("__ph")))
      .withColumn("__vtr",
        greatest(col("high") - col("low"), abs(col("high") - col("__pc")),
          abs(col("low") - col("__pc"))))
      .filter(col("__pc").isNotNull)
      .drop("__ph", "__pl", "__pc")
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val lists = base
      .withColumn("__vps", collect_list(col("__vmp")).over(frame))
      .withColumn("__vms", collect_list(col("__vmm")).over(frame))
      .withColumn("__trs", collect_list(col("__vtr")).over(frame))
    lists
      .withColumn("vi_plus",
        when(size(col("__trs")) === w && hsum(col("__trs")) > 0,
          hsum(col("__vps")) / hsum(col("__trs"))))
      .withColumn("vi_minus",
        when(size(col("__trs")) === w && hsum(col("__trs")) > 0,
          hsum(col("__vms")) / hsum(col("__trs"))))
      .drop("__vmp", "__vmm", "__vtr", "__vps", "__vms", "__trs")
  }

  /** Adaptive-alpha EMA scan: seeds with the value at each key's first
    * row where `alphaCol` is non-null, then
    * `s_t = s_{t−1} + α_t·(x_t − s_{t−1})`; rows with null α carry the
    * previous state forward (emitted), rows before the seed emit null.
    * The recurrence coefficient is DATA-DEPENDENT per row — the shape
    * KAMA needs — so unlike [[withEma]] the α comes from a column.
    */
  def withAdaptiveEma(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, alphaCol: String, outCol: String): DataFrame = {
    val valIdx = df.schema.fieldIndex(valCol)
    val alphaIdx = df.schema.fieldIndex(alphaCol)
    OrderedScan(df, keyCol, ordCol, Seq(StructField(outCol, DoubleType, nullable = true))) { () =>
      var seeded = false
      var state = 0.0
      (row, out) => {
        if (!row.isNullAt(alphaIdx)) {
          state =
            if (seeded) state + row.getDouble(alphaIdx) * (row.getDouble(valIdx) - state)
            else row.getDouble(valIdx)
          seeded = true
        }
        if (seeded) out(0) = state
      }
    }
  }

  /** KAMA(er=10, fast=2, slow=30): Kaufman's adaptive moving average.
    * Efficiency ratio er = |close_t − close_{t−10}| / Σ|Δclose| over the
    * trailing 10 diffs; smoothing constant sc = (er·(2/3 − 2/31) +
    * 2/31)²; then the adaptive recurrence via [[withAdaptiveEma]]
    * (seeded at the first row where sc is defined; flat stretches where
    * ΣΔ = 0 carry the state forward).
    */
  def withKama(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", erW: Int = 10, fast: Int = 2, slow: Int = 30,
      outCol: String = "kama"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(erW - 1), 0)
    val c1 = 2.0 / (fast + 1) - 2.0 / (slow + 1)
    val c2 = 2.0 / (slow + 1)
    val base = df
      .withColumn("__da", abs(col(valCol) - lag(valCol, 1).over(win)))
      .withColumn("__pcw", lag(valCol, erW).over(win))
      .withColumn("__das", collect_list(col("__da")).over(frame))
    val den = aggregate(col("__das"), lit(0.0), (a, x) => a + x)
    val er = when(col("__pcw").isNotNull && size(col("__das")) === erW && den > 0,
      abs(col(valCol) - col("__pcw")) / den)
    val scBase = er * lit(c1) + lit(c2)
    val withSc = base
      .withColumn("__sc", scBase * scBase)
      .drop("__da", "__pcw", "__das")
    withAdaptiveEma(withSc, keyCol, ordCol, valCol, "__sc", outCol)
      .drop("__sc")
  }

  /** Chaikin oscillator(3, 10): EMA₃ − EMA₁₀ of the accumulation/
    * distribution line (ADL = running Σ mfm·volume, mfm as in CMF).
    */
  def withChaikinOsc(df: DataFrame, keyCol: String, ordCol: String,
      fast: Int = 3, slow: Int = 10, outCol: String = "chaikin_osc"): DataFrame = {
    val mfm = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) /
        (col("high") - col("low"))).otherwise(lit(0.0))
    val cum = Window.partitionBy(keyCol).orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withAdl = df.withColumn("__adl", sum(mfm * col("volume")).over(cum))
    val smoothed = withEma(withAdl, keyCol, ordCol, "__adl",
      Seq(emaSpanSpec("__ef", fast), emaSpanSpec("__es", slow)))
    smoothed
      .withColumn(outCol, col("__ef") - col("__es"))
      .drop("__adl", "__ef", "__es")
  }

  /** Bollinger bands(w=20, k=2) with the `ta` library's ddof=0 std. */
  def withBollinger(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      w: Int = 20, k: Double = 2.0): DataFrame = {
    val mid = sma(col(valCol), col(keyCol), col(ordCol), w)
    val sd = rollingStdPop(col(valCol), col(keyCol), col(ordCol), w)
    df.withColumn("bb_mid", mid)
      .withColumn("bb_up", mid + lit(k) * sd)
      .withColumn("bb_dn", mid - lit(k) * sd)
  }

  // --------------------------------------------------------------------
  // Savitzky–Golay smoothing (reference `preprocess.py:77-96`, W5)
  // --------------------------------------------------------------------

  /** Least-squares smoothing coefficients, computed driver-side with a tiny
    * (polyorder+1)² normal-equation solve — the classical design-matrix
    * derivation of Savitzky–Golay (public: Savitzky & Golay 1964; scipy
    * `savgol_coeffs`). `weightsAt(i)` gives the 1×window row that maps the
    * raw window to the fitted polynomial's value at in-window position `i`;
    * the interior convolution uses `weightsAt(window/2)`.
    */
  final case class SavgolDesign(window: Int, polyorder: Int) {
    require(window % 2 == 1, "window must be odd")
    require(polyorder < window)
    private val m = polyorder + 1
    // A[t][p] = t^p for t = 0..window-1
    private val a = Array.tabulate(window, m)((t, p) => math.pow(t.toDouble, p))
    // (AᵀA)⁻¹ via Gauss-Jordan on the m×m normal matrix.
    private val ata = Array.tabulate(m, m) { (i, j) =>
      var s = 0.0; var t = 0; while (t < window) { s += a(t)(i) * a(t)(j); t += 1 }; s
    }
    private val inv = invert(ata)
    // H = A (AᵀA)⁻¹ Aᵀ : window×window smoother matrix; row i = weightsAt(i).
    private val hat = Array.tabulate(window, window) { (i, j) =>
      var s = 0.0
      var p = 0
      while (p < m) {
        var q = 0
        var acc = 0.0
        while (q < m) { acc += inv(p)(q) * a(j)(q); q += 1 }
        s += a(i)(p) * acc
        p += 1
      }
      s
    }
    def weightsAt(i: Int): Array[Double] = hat(i)
    def centerWeights: Array[Double] = hat(window / 2)

    private def invert(src: Array[Array[Double]]): Array[Array[Double]] = {
      val n = src.length
      val aug = Array.tabulate(n, 2 * n)((i, j) =>
        if (j < n) src(i)(j) else if (j - n == i) 1.0 else 0.0)
      var r = 0
      while (r < n) {
        var piv = r
        var rr = r + 1
        while (rr < n) { if (math.abs(aug(rr)(r)) > math.abs(aug(piv)(r))) piv = rr; rr += 1 }
        val tmp = aug(r); aug(r) = aug(piv); aug(piv) = tmp
        val d = aug(r)(r)
        var c = 0
        while (c < 2 * n) { aug(r)(c) /= d; c += 1 }
        var r2 = 0
        while (r2 < n) {
          if (r2 != r) {
            val f = aug(r2)(r)
            var c2 = 0
            while (c2 < 2 * n) { aug(r2)(c2) -= f * aug(r)(c2); c2 += 1 }
          }
          r2 += 1
        }
        r += 1
      }
      Array.tabulate(n, n)((i, j) => aug(i)(j + n))
    }
  }

  /** Dot product of a collected window array with literal coefficients —
    * stays inside whole-stage codegen (no UDF).
    */
  private def dotLiteral(arr: Column, coeffs: Array[Double]): Column = {
    val lits = array(coeffs.map(lit): _*)
    aggregate(zip_with(arr, lits, (x, c) => x * c), lit(0.0), (acc, x) => acc + x)
  }

  /** Savitzky–Golay filter with scipy's default `mode="interp"` edge
    * handling: interior rows are the centered FIR convolution; the first
    * and last `window/2` rows evaluate the polynomial fitted to the
    * first/last `window` values (exactly scipy `_fit_edges`).
    *
    * Scale shape: interior is a bounded row-frame window; the edge fix-up
    * touches `window` rows per key via a tiny per-key aggregate that is
    * broadcast-joined back — no full-series collection anywhere.
    */
  def withSavgol(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      outCol: String, window: Int = 21, polyorder: Int = 4): DataFrame = {
    val design = SavgolDesign(window, polyorder)
    val half = window / 2
    val wAsc = Window.partitionBy(keyCol).orderBy(col(ordCol).asc)
    val wDesc = Window.partitionBy(keyCol).orderBy(col(ordCol).desc)
    val frame = wAsc.rowsBetween(-half, half)

    val base = df
      .withColumn("__ra", row_number().over(wAsc))
      .withColumn("__rd", row_number().over(wDesc))
      .withColumn("__win", collect_list(col(valCol)).over(frame))
      .withColumn("__interior", dotLiteral(col("__win"), design.centerWeights))

    // First/last `window` values per key (tiny: `window` rows/key).
    val headVals = base.filter(col("__ra") <= window)
      .groupBy(keyCol)
      .agg(transform(array_sort(collect_list(struct(col("__ra"), col(valCol)))),
        s => s.getField(valCol)).as("__head"))
    val tailVals = base.filter(col("__rd") <= window)
      .groupBy(keyCol)
      .agg(transform(array_sort(collect_list(struct(col("__ra"), col(valCol)))),
        s => s.getField(valCol)).as("__tail"))

    val edgeExprHead: Column = {
      // position in head window = __ra - 1  (0-based); weights row = that position
      val weightRows = array((0 until half).map(i => array(design.weightsAt(i).map(lit): _*)): _*)
      aggregate(
        zip_with(element_at(weightRows, col("__ra").cast("int")), col("__head"), (c, x) => c * x),
        lit(0.0), (acc, x) => acc + x)
    }
    val edgeExprTail: Column = {
      // position from the end: __rd = 1 → last row → weights row window-1
      val weightRows = array((0 until half).map(i =>
        array(design.weightsAt(window - 1 - i).map(lit): _*)): _*)
      aggregate(
        zip_with(element_at(weightRows, col("__rd").cast("int")), col("__tail"), (c, x) => c * x),
        lit(0.0), (acc, x) => acc + x)
    }

    base
      .join(broadcast(headVals), Seq(keyCol), "left")
      .join(broadcast(tailVals), Seq(keyCol), "left")
      .withColumn(outCol,
        when(col("__ra") <= half, edgeExprHead)
          .when(col("__rd") <= half, edgeExprTail)
          .otherwise(col("__interior")))
      .drop("__ra", "__rd", "__win", "__interior", "__head", "__tail")
  }
}
