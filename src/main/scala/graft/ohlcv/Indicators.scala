package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DoubleType, StructField}

/** Second technical-analysis indicator pack (SURVEY.md §2.8 F14) — the
  * remaining `add_all_ta_features` families the reference appends
  * (`core/data/preprocess.py:11-16`): VWAP, ADI, NVI, VPT, Ulcer index,
  * Aroon, WMA, mass index, KST, STC, Ichimoku, PSAR, TSI, stochastic
  * RSI, awesome oscillator, PVO. Formulas follow the public `ta` library
  * (bukosabino/ta, v0.11 semantics) / Wilder 1978 / Kaufman.
  *
  * Shapes mirror [[Features]]: bounded row-frame windows (codegen'd) for
  * rolling statistics, collected-frame sequential HOF sums where the
  * oracle must reproduce summation order bit-for-bit, and an
  * [[OrderedScan]] ONLY for the genuinely sequential recurrences (NVI's
  * gated product, PSAR's trend-flip state machine) — sequential per
  * series, parallel across series, O(1) state. EMA stages
  * (TSI, mass index, PVO, STC) are [[Features.withEma]] window columns.
  *
  * A NULL or NaN bar is missing, as NaN is to pandas and the `ta` loops:
  * the scans read a NULL as NaN, and TSI, Ulcer, NVI and PSAR state how
  * they carry a missing bar.
  */
object Indicators {

  /** Sequential left-to-right sum of a double array (a HOF fold, so the
    * addition order is the list order). */
  private[ohlcv] def hsum(c: Column): Column =
    aggregate(c, lit(0.0), (a, x) => a + x)

  /** VWAP(w=14): rolling Σ(tp·vol)/Σ(vol) over typical price
    * (high+low+close)/3, null until w rows. Sequential HOF sums.
    */
  def withVwap(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      outCol: String = "vwap"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val tp = (col("high") + col("low") + col("close")) / 3.0
    val base = df.withColumn("__tpv", tp * col("volume"))
      .withColumn("__tpvs", collect_list(col("__tpv")).over(frame))
      .withColumn("__vols", collect_list(col("volume")).over(frame))
    base.withColumn(outCol,
      when(size(col("__tpvs")) === w && hsum(col("__vols")) =!= 0.0,
        hsum(col("__tpvs")) / hsum(col("__vols"))))
      .drop("__tpv", "__tpvs", "__vols")
  }

  /** Accumulation/distribution index: running Σ clv·volume with
    * clv = ((close−low) − (high−close))/(high−low), 0 on flat bars —
    * the cumulative form of [[Features.withCmf]]'s money-flow volume.
    */
  def withAdi(df: DataFrame, keyCol: String, ordCol: String,
      outCol: String = "adi"): DataFrame = {
    val clv = when(col("high") > col("low"),
      ((col("close") - col("low")) - (col("high") - col("close"))) /
        (col("high") - col("low"))).otherwise(lit(0.0))
    val cum = Window.partitionBy(keyCol).orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, sum(clv * col("volume")).over(cum))
  }

  /** Volume-price trend: running Σ volume·(close−prevClose)/prevClose;
    * each key's first bar (no previous close) is excluded from the sum
    * and emits null.
    */
  def withVpt(df: DataFrame, keyCol: String, ordCol: String,
      outCol: String = "vpt"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val pc = col("__pc")
    val term = when(pc.isNotNull && pc =!= 0.0,
      col("volume") * (col("close") - pc) / pc)
    val cum = win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__pc", lag("close", 1).over(win))
      .withColumn("__vpt_n", count(term).over(cum))
      .withColumn(outCol, when(col("__vpt_n") > 0, sum(term).over(cum)))
      .drop("__pc", "__vpt_n")
  }

  /** Negative volume index: starts at 1000 on each key's first bar; on
    * bars whose volume DROPPED vs the previous bar the index compounds by
    * the close's percent change, otherwise it carries forward. A gated
    * sequential product — FP multiplication is not associative, so this
    * is an ordered per-key scan, exactly mirroring the oracle recursion.
    * A NULL volume or close reads as NaN, as in the `ta` loop: a missing
    * volume on this bar or the previous one fails the "dropped" test, so
    * the index carries forward.
    */
  def withNvi(df: DataFrame, keyCol: String, ordCol: String,
      start: Double = 1000.0, outCol: String = "nvi"): DataFrame = {
    val closeIdx = df.schema.fieldIndex("close")
    val volIdx = df.schema.fieldIndex("volume")
    OrderedScan(df, keyCol, ordCol, Seq(StructField(outCol, DoubleType, nullable = true))) { () =>
      var nvi = start
      var pc = 0.0
      var pv = 0.0
      var first = true
      (row, out) => {
        val c = Features.doubleOrNaN(row, closeIdx)
        val v = Features.doubleOrNaN(row, volIdx)
        if (!first && v < pv && pc != 0.0)
          nvi = nvi * (1.0 + (c - pc) / pc)
        first = false; pc = c; pv = v
        out(0) = nvi
      }
    }
  }

  /** Ulcer index(w=14): percentage drawdown from the trailing-w max,
    * ui = √(Σ dd²/w) over the trailing w drawdown rows. The first w − 1
    * rows of each key, where the max window cannot be full, are dropped.
    * As with pandas `rolling(w)`, a drawdown whose max window holds a
    * NULL close is NULL, and so is an index whose window holds a NULL
    * drawdown.
    */
  def withUlcer(df: DataFrame, keyCol: String, ordCol: String, w: Int = 14,
      valCol: String = "close", outCol: String = "ulcer"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val cnt = count(col(valCol)).over(frame)
    val rmax = max(col(valCol)).over(frame)
    val base = Features.dropHeadRows(
      df.withColumn("__dd", when(cnt === w, lit(100.0) * (col(valCol) - rmax) / rmax)),
      keyCol, ordCol, w - 1)
    val ddFrame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    base
      .withColumn("__dds", collect_list(col("__dd")).over(ddFrame))
      .withColumn(outCol,
        when(size(col("__dds")) === w,
          sqrt(aggregate(col("__dds"), lit(0.0), (a, x) => a + x * x) / w)))
      .drop("__dd", "__dds")
  }

  /** Aroon(w=25) over the close (the `ta` v0.11 form): position of the
    * first window max/min, aroon = 100·pos/w with pos 1-based from the
    * window start — `100·(argmax+1)/w` for numpy's first-occurrence
    * argmax. Null until w rows.
    */
  def withAroon(df: DataFrame, keyCol: String, ordCol: String, w: Int = 25,
      valCol: String = "close"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val base = df.withColumn("__cs", collect_list(col(valCol)).over(frame))
    base
      .withColumn("aroon_up",
        when(size(col("__cs")) === w,
          lit(100.0) * array_position(col("__cs"), array_max(col("__cs"))) / w))
      .withColumn("aroon_down",
        when(size(col("__cs")) === w,
          lit(100.0) * array_position(col("__cs"), array_min(col("__cs"))) / w))
      .withColumn("aroon_osc", col("aroon_up") - col("aroon_down"))
      .drop("__cs")
  }

  /** Weighted moving average(w=9): linear weights 1..w, newest heaviest,
    * null until w rows. The weight vector is a plan literal; the dot
    * product is a sequential zip_with+aggregate, oracle-identical.
    */
  def withWma(df: DataFrame, keyCol: String, ordCol: String, w: Int = 9,
      valCol: String = "close", outCol: String = "wma"): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val weights = array((1 to w).map(i => lit(i.toDouble)): _*)
    val denom = (w * (w + 1) / 2).toDouble
    val base = df.withColumn("__vs", collect_list(col(valCol)).over(frame))
    base.withColumn(outCol,
      when(size(col("__vs")) === w,
        aggregate(zip_with(col("__vs"), weights, (x, c) => x * c),
          lit(0.0), (a, x) => a + x) / denom))
      .drop("__vs")
  }

  /** Awesome oscillator(fast=5, slow=34): SMA_fast − SMA_slow of the
    * bar midpoint (high+low)/2, null until the slow window fills.
    * Sequential HOF sums for oracle-exact summation order.
    */
  def withAwesome(df: DataFrame, keyCol: String, ordCol: String,
      fast: Int = 5, slow: Int = 34, outCol: String = "ao"): DataFrame = {
    def frame(w: Int) =
      Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val base = df.withColumn("__mid", (col("high") + col("low")) / 2.0)
      .withColumn("__mf", collect_list(col("__mid")).over(frame(fast)))
      .withColumn("__ms", collect_list(col("__mid")).over(frame(slow)))
    base.withColumn(outCol,
      when(size(col("__ms")) === slow,
        hsum(col("__mf")) / fast - hsum(col("__ms")) / slow))
      .drop("__mid", "__mf", "__ms")
  }

  /** KST(rocs 10/15/20/30, smoothed by SMA 10/10/10/15, signal SMA 9):
    * kst = 100·(rocma₁ + 2·rocma₂ + 3·rocma₃ + 4·rocma₄) where
    * rocmaᵢ = SMA of (close − close_{t−rᵢ})/close_{t−rᵢ}. Plain window
    * averages (pandas-equivalent observation counting).
    */
  def withKst(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", sig: Int = 9): DataFrame = {
    val rocs = Seq(10, 15, 20, 30)
    val smooths = Seq(10, 10, 10, 15)
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val withRocmas = rocs.zip(smooths).zipWithIndex.foldLeft(df) {
      case (acc, ((r, n), i)) =>
        val prev = lag(valCol, r).over(win)
        val roc = when(prev.isNotNull && prev =!= 0.0, (col(valCol) - prev) / prev)
        // sma() counts observations over a row frame; roc's null head is
        // excluded by the count, matching pandas min_periods.
        acc.withColumn(s"__rm$i", Features.sma(roc, col(keyCol), col(ordCol), n))
    }
    val kst = lit(100.0) * (col("__rm0") + lit(2.0) * col("__rm1") +
      lit(3.0) * col("__rm2") + lit(4.0) * col("__rm3"))
    withRocmas
      .withColumn("kst", kst)
      .withColumn("kst_sig", Features.sma(col("kst"), col(keyCol), col(ordCol), sig))
      .drop("__rm0", "__rm1", "__rm2", "__rm3")
  }

  /** Ichimoku(9, 26, 52) with `ta`'s visual=False (unshifted) lines:
    * conversion/base/leading-span-B are rolling (max+min)/2 midpoints
    * (defined from the first row, min_periods=1 as in `ta`), span A is
    * the conversion/base midpoint.
    */
  def withIchimoku(df: DataFrame, keyCol: String, ordCol: String,
      w1: Int = 9, w2: Int = 26, w3: Int = 52): DataFrame = {
    def mid(w: Int): Column = {
      val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
      (max(col("high")).over(frame) + min(col("low")).over(frame)) / 2.0
    }
    df.withColumn("ichimoku_conv", mid(w1))
      .withColumn("ichimoku_base", mid(w2))
      .withColumn("ichimoku_a", (col("ichimoku_conv") + col("ichimoku_base")) / 2.0)
      .withColumn("ichimoku_b", mid(w3))
  }

  /** Mass index(fast=9, slow=25): double-EMA ratio of the bar range,
    * mass = Σ over the trailing `slow` rows of EMA₉(high−low)/EMA₉(EMA₉).
    * The inner EMA emits after `fast` bars, the outer after `fast` more;
    * the rolling sum needs `slow` ratio rows. Sequential HOF sum.
    */
  def withMassIndex(df: DataFrame, keyCol: String, ordCol: String,
      fast: Int = 9, slow: Int = 25, outCol: String = "mass_index"): DataFrame = {
    val rng = df.withColumn("__rng", col("high") - col("low"))
    val e1 = Features.withEma(rng, keyCol, ordCol, "__rng",
      Seq(Features.emaSpanSpec("__e1", fast)))
    val e2 = Features.withEma(e1, keyCol, ordCol, "__e1",
      Seq(Features.emaSpanSpec("__e2", fast)))
    val ratio = e2
      .withColumn("__ratio", when(col("__e2") =!= 0.0, col("__e1") / col("__e2")))
      .filter(col("__ratio").isNotNull)
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(slow - 1), 0)
    ratio
      .withColumn("__rs", collect_list(col("__ratio")).over(frame))
      .withColumn(outCol, when(size(col("__rs")) === slow, hsum(col("__rs"))))
      .drop("__rng", "__e1", "__e2", "__ratio", "__rs")
  }

  /** TSI(slow=25, fast=13): 100 · EMA_fast(EMA_slow(Δclose)) /
    * EMA_fast(EMA_slow(|Δclose|)), each stage a [[Features.withEma]]
    * column. The first stage emits after `slow` diffs, the second after
    * `fast` more. Each key's first row (no diff) is dropped, and no other:
    * a diff next to a missing close is NULL, a missing row to the EMAs.
    */
  def withTsi(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", slow: Int = 25, fast: Int = 13,
      outCol: String = "tsi"): DataFrame = {
    val win = Window.partitionBy(keyCol).orderBy(ordCol)
    val diffed = Features.dropHeadRows(
      df.withColumn("__m", col(valCol) - lag(valCol, 1).over(win)), keyCol, ordCol, 1)
      .withColumn("__am", abs(col("__m")))
    def ema(d: DataFrame, in: String, out: String, span: Int): DataFrame =
      Features.withEma(d, keyCol, ordCol, in, Seq(Features.emaSpanSpec(out, span)))
    val s1 = ema(ema(diffed, "__m", "__ms", slow), "__am", "__as", slow)
    val s2 = ema(ema(s1, "__ms", "__msf", fast), "__as", "__asf", fast)
    s2.withColumn(outCol,
      when(col("__asf").isNotNull && col("__asf") =!= 0.0,
        lit(100.0) * col("__msf") / col("__asf")))
      .drop("__m", "__am", "__ms", "__as", "__msf", "__asf")
  }

  /** Stochastic RSI(w=14, smooth 3/3): RSI's position inside its own
    * trailing-w range (0..1), then two SMA smoothings (%K, %D). Rows
    * before the RSI is defined are dropped so the range windows are
    * null-free.
    */
  def withStochRsi(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", w: Int = 14, s1: Int = 3, s2: Int = 3): DataFrame = {
    val withR = Features.withRsi(df, keyCol, ordCol, valCol, w, "__rsi")
      .filter(col("__rsi").isNotNull)
    val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(w - 1), 0)
    val cnt = count(col("__rsi")).over(frame)
    val lo = min(col("__rsi")).over(frame)
    val hi = max(col("__rsi")).over(frame)
    val sr = withR.withColumn("stochrsi",
      when(cnt === w && hi > lo, (col("__rsi") - lo) / (hi - lo)))
    sr
      .withColumn("stochrsi_k",
        Features.sma(col("stochrsi"), col(keyCol), col(ordCol), s1))
      .withColumn("stochrsi_d",
        Features.sma(col("stochrsi_k"), col(keyCol), col(ordCol), s2))
      .drop("__rsi")
  }

  /** PVO(12, 26, 9): the percentage price oscillator applied to volume —
    * 100·(EMA₁₂(vol) − EMA₂₆(vol))/EMA₂₆(vol), signal EMA₉, histogram.
    */
  def withPvo(df: DataFrame, keyCol: String, ordCol: String,
      volCol: String = "volume", fast: Int = 12, slow: Int = 26,
      signal: Int = 9): DataFrame = {
    val withEmas = Features.withEma(df, keyCol, ordCol, volCol,
      Seq(Features.emaSpanSpec("__vef", fast), Features.emaSpanSpec("__ves", slow)))
    val withLine = withEmas.withColumn("pvo",
      when(col("__ves") =!= 0.0,
        lit(100.0) * (col("__vef") - col("__ves")) / col("__ves")))
    val withSig = Features.withEma(withLine, keyCol, ordCol, "pvo",
      Seq(Features.emaSpanSpec("pvo_signal", signal)))
    withSig
      .withColumn("pvo_hist", col("pvo") - col("pvo_signal"))
      .drop("__vef", "__ves")
  }

  /** Schaff trend cycle(fast=23, slow=50, cycle=10, smooth 3/3): MACD →
    * stochastic over the trailing `cycle` MACDs → EMA₃ → stochastic of
    * that → EMA₃. Each stage drops its undefined head so the next
    * stage's windows are null-free; flat stochastic windows (max=min)
    * are dropped the same way.
    */
  def withStc(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String = "close", fast: Int = 23, slow: Int = 50,
      cycle: Int = 10, s1: Int = 3, s2: Int = 3,
      outCol: String = "stc"): DataFrame = {
    val emas = Features.withEma(df, keyCol, ordCol, valCol,
      Seq(Features.emaSpanSpec("__cf", fast), Features.emaSpanSpec("__cs", slow)))
    val macd = emas
      .withColumn("__macd", col("__cf") - col("__cs"))
      .filter(col("__macd").isNotNull)
    def stochOf(in: DataFrame, c: String, out: String): DataFrame = {
      val frame = Window.partitionBy(keyCol).orderBy(ordCol).rowsBetween(-(cycle - 1), 0)
      val cnt = count(col(c)).over(frame)
      val lo = min(col(c)).over(frame)
      val hi = max(col(c)).over(frame)
      in.withColumn(out,
        when(cnt === cycle && hi > lo, lit(100.0) * (col(c) - lo) / (hi - lo)))
        .filter(col(out).isNotNull)
    }
    val k = stochOf(macd, "__macd", "__k")
    val d = Features.withEma(k, keyCol, ordCol, "__k",
      Seq(Features.emaSpanSpec("__d", s1)))
      .filter(col("__d").isNotNull)
    val kd = stochOf(d, "__d", "__kd")
    Features.withEma(kd, keyCol, ordCol, "__kd",
      Seq(Features.emaSpanSpec(outCol, s2)))
      .drop("__cf", "__cs", "__macd", "__k", "__d", "__kd")
  }

  /** Parabolic SAR(step=0.02, maxStep=0.2) — Wilder 1978's trend-flip
    * state machine, row-for-row the `ta` library's loop: in an up-trend
    * sar moves toward the extreme high by the accelerating factor and
    * flips when the bar's low crosses it (symmetric for down-trends);
    * the non-reversal sar is clamped to the prior two bars' lows
    * (highs). Output starts at each key's third bar (the loop needs two
    * priors); `psar_up_trend` reports the regime. Ordered per-key scan —
    * the recurrence is genuinely sequential, O(1) state. A NULL high, low
    * or close reads as NaN, as in the `ta` loop: every comparison with it
    * is false, so on that bar the trend neither extends nor flips.
    */
  def withPsar(df: DataFrame, keyCol: String, ordCol: String,
      step: Double = 0.02, maxStep: Double = 0.2): DataFrame = {
    val hIdx = df.schema.fieldIndex("high")
    val lIdx = df.schema.fieldIndex("low")
    val cIdx = df.schema.fieldIndex("close")
    OrderedScan(df, keyCol, ordCol, Seq(
        StructField("psar", DoubleType, nullable = true),
        StructField("psar_up_trend", BooleanType, nullable = true))) { () =>
      var n = 0L
      var upTrend = true
      var af = step
      var uth = 0.0 // up-trend extreme high
      var dtl = 0.0 // down-trend extreme low
      var psar = 0.0
      var h1 = 0.0; var h2 = 0.0; var l1 = 0.0; var l2 = 0.0
      (row, out) => {
        val h = Features.doubleOrNaN(row, hIdx)
        val l = Features.doubleOrNaN(row, lIdx)
        val c = Features.doubleOrNaN(row, cIdx)
        n += 1
        if (n == 1) { uth = h; dtl = l }
        else if (n == 2) { psar = c }
        else {
          var reversal = false
          if (upTrend) {
            var s = psar + af * (uth - psar)
            if (l < s) {
              reversal = true; s = uth; dtl = l; af = step
            } else {
              if (h > uth) { uth = h; af = math.min(af + step, maxStep) }
              if (l2 < s) s = l2 else if (l1 < s) s = l1
            }
            psar = s
          } else {
            var s = psar - af * (psar - dtl)
            if (h > s) {
              reversal = true; s = dtl; uth = h; af = step
            } else {
              if (l < dtl) { dtl = l; af = math.min(af + step, maxStep) }
              if (h2 > s) s = h2 else if (h1 > s) s = h1
            }
            psar = s
          }
          if (reversal) upTrend = !upTrend
          out(0) = psar
          out(1) = upTrend
        }
        h2 = h1; h1 = h; l2 = l1; l1 = l
      }
    }
  }
}
