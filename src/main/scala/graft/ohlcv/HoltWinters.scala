package graft.ohlcv

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{DoubleType, StructField}

/** Holt's linear-trend exponential smoothing (Holt 1957, the classical
  * double-exponential forecaster — public knowledge; the reference's
  * ecosystem exposes it as statsmodels `Holt`), its additive seasonal
  * extension and the local-level Kalman filter. Each is an
  * [[OrderedScan]] — the recurrence is inherently ordered, exactly the
  * case SURVEY §2.10 sanctions for a raw scan. At 100 TB this is one
  * shuffle and a streaming pass; state is a few doubles per key.
  *
  * Recurrence (adjust-free, fitted level/trend emitted per row):
  * {{{
  *   l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
  *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
  * }}}
  * initialized l_1 = y_1, b_1 = 0 at each key's first non-null value.
  * Null values carry the previous state forward and emit it unchanged.
  *
  * The per-step operation ORDER is part of the contract: the q163 oracle
  * writes the identical expressions in a recursive CTE, so the smoothed
  * path is bit-identical before rounding. The Holt and Kalman steps
  * ([[HoltState.step]], [[KalmanState.step]]) are written once and also
  * drive the streaming folds of [[graft.streaming.StreamingIngest]], so a
  * stream equals the batch scan by construction (q175, q201).
  */
object HoltWinters {

  /** Holt level `l` and trend `b` after `n` observations. */
  final case class HoltState(l: Double, b: Double, n: Long) {
    def step(y: Double, alpha: Double, beta: Double): HoltState =
      if (n == 0L) HoltState(y, 0.0, 1L)
      else {
        val lNew = alpha * y + (1 - alpha) * (l + b)
        HoltState(lNew, beta * (lNew - l) + (1 - beta) * b, n + 1)
      }
  }

  /** Kalman level `x` and posterior variance `p` after `n` observations. */
  final case class KalmanState(x: Double, p: Double, n: Long) {
    def step(y: Double, qVar: Double, rVar: Double): KalmanState =
      if (n == 0L) KalmanState(y, 1.0, 1L)
      else {
        val pPred = p + qVar
        val kGain = pPred / (pPred + rVar)
        KalmanState(x + kGain * (y - x), (1 - kGain) * pPred, n + 1)
      }
  }

  private def doubles(names: String*): Seq[StructField] =
    names.map(StructField(_, DoubleType, nullable = true))

  def withHolt(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      alpha: Double, beta: Double, levelCol: String = "level",
      trendCol: String = "trend"): DataFrame = {
    val valIdx = df.schema.fieldIndex(valCol)
    OrderedScan(df, keyCol, ordCol, doubles(levelCol, trendCol)) { () =>
      var s = HoltState(0.0, 0.0, 0L)
      (row, out) => {
        if (!row.isNullAt(valIdx)) s = s.step(row.getDouble(valIdx), alpha, beta)
        if (s.n > 0) { out(0) = s.l; out(1) = s.b }
      }
    }
  }

  /** Holt–Winters ADDITIVE seasonal smoothing (Winters 1960), period `m`:
    * {{{
    *   l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    *   s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}
    * }}}
    * Seasonal state is a fixed ring of `m` doubles initialized to 0 —
    * the zero padding IS the warm-up rule (s_{t−m} reads 0 until m true
    * values exist), which the q180 oracle mirrors by carrying a
    * zero-seeded fixed-length list through its recursive CTE. First
    * observation per key: l = y, b = 0, s = 0. State per key: m + 2
    * doubles; one ordered scan. A null value carries level and trend
    * forward and emits a NULL seasonal.
    */
  def withHoltWintersSeasonal(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, alpha: Double, beta: Double, gamma: Double,
      m: Int): DataFrame = {
    require(m >= 1, s"seasonal period m must be >= 1 (got $m)")
    val valIdx = df.schema.fieldIndex(valCol)
    OrderedScan(df, keyCol, ordCol, doubles("level", "trend", "seasonal")) { () =>
      var n = 0L
      var l = 0.0
      var b = 0.0
      val ring = new Array[Double](m)
      (row, out) => {
        if (!row.isNullAt(valIdx)) {
          val y = row.getDouble(valIdx)
          val idx = (n % m).toInt
          val sPrev = ring(idx)
          if (n == 0L) { l = y; b = 0.0 }
          else {
            val lNew = alpha * (y - sPrev) + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
          }
          ring(idx) = gamma * (y - l) + (1 - gamma) * sPrev
          n += 1
          out(2) = ring(idx)
        }
        if (n > 0) { out(0) = l; out(1) = b }
      }
    }
  }

  /** Kalman filter, local-level model (Harvey 1989): process variance
    * `qVar`, observation variance `rVar`:
    * {{{
    *   P⁻ = P + q;  K = P⁻/(P⁻ + r);  x += K·(y − x);  P = (1−K)·P⁻
    * }}}
    * init x = y₁, P = 1. Two doubles of state per key, one ordered scan;
    * the q181 oracle carries (x, P) through a recursive CTE with the
    * identical operation order. Null values carry the state forward.
    */
  def withKalmanLevel(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, qVar: Double, rVar: Double): DataFrame = {
    val valIdx = df.schema.fieldIndex(valCol)
    OrderedScan(df, keyCol, ordCol, doubles("x", "p")) { () =>
      var s = KalmanState(0.0, 0.0, 0L)
      (row, out) => {
        if (!row.isNullAt(valIdx)) s = s.step(row.getDouble(valIdx), qVar, rVar)
        if (s.n > 0) { out(0) = s.x; out(1) = s.p }
      }
    }
  }
}
