package graft.ohlcv

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Holt's linear-trend exponential smoothing (Holt 1957, the classical
  * double-exponential forecaster — public knowledge; the reference's
  * ecosystem exposes it as statsmodels `Holt`). Same distributed shape as
  * [[Features.withWilder]]: repartition by key, sort within partitions,
  * one sequential mapPartitions scan — the recurrence is inherently
  * ordered, exactly the case SURVEY §2.10 sanctions for a raw scan. At
  * 100 TB this is one shuffle and a streaming pass; state is two doubles
  * per key.
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
  * path is bit-identical before rounding.
  */
object HoltWinters {

  def withHolt(df: DataFrame, keyCol: String, ordCol: String, valCol: String,
      alpha: Double, beta: Double, levelCol: String = "level",
      trendCol: String = "trend"): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField(levelCol, DoubleType, nullable = true),
      StructField(trendCol, DoubleType, nullable = true)))
    val keyIdx = inSchema.fieldIndex(keyCol)
    val valIdx = inSchema.fieldIndex(valCol)
    val sorted =
      df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(ordCol))
    sorted.mapPartitions { rows =>
      var curKey: Any = null
      var started = false
      var has = false
      var l = 0.0
      var b = 0.0
      rows.map { row =>
        val k = row.get(keyIdx)
        if (!started || k != curKey) {
          started = true; curKey = k; has = false; l = 0.0; b = 0.0
        }
        val out = new Array[Any](outSchema.length)
        var i = 0
        while (i < inSchema.length) { out(i) = row.get(i); i += 1 }
        if (!row.isNullAt(valIdx)) {
          val y = row.getDouble(valIdx)
          if (!has) { l = y; b = 0.0; has = true }
          else {
            val lNew = alpha * y + (1 - alpha) * (l + b)
            b = beta * (lNew - l) + (1 - beta) * b
            l = lNew
          }
        }
        out(inSchema.length) = if (has) java.lang.Double.valueOf(l) else null
        out(inSchema.length + 1) = if (has) java.lang.Double.valueOf(b) else null
        new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
      }
    }(Encoders.row(outSchema))
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
    * doubles; one ordered scan.
    */
  def withHoltWintersSeasonal(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, alpha: Double, beta: Double, gamma: Double,
      m: Int): DataFrame = {
    require(m >= 1, s"seasonal period m must be >= 1 (got $m)")
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("level", DoubleType, nullable = true),
      StructField("trend", DoubleType, nullable = true),
      StructField("seasonal", DoubleType, nullable = true)))
    val keyIdx = inSchema.fieldIndex(keyCol)
    val valIdx = inSchema.fieldIndex(valCol)
    val sorted =
      df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(ordCol))
    sorted.mapPartitions { rows =>
      var curKey: Any = null
      var started = false
      var n = 0L
      var l = 0.0
      var b = 0.0
      val ring = new Array[Double](m)
      rows.map { row =>
        val k = row.get(keyIdx)
        if (!started || k != curKey) {
          started = true; curKey = k; n = 0L; l = 0.0; b = 0.0
          java.util.Arrays.fill(ring, 0.0)
        }
        val out = new Array[Any](outSchema.length)
        var i = 0
        while (i < inSchema.length) { out(i) = row.get(i); i += 1 }
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
          val sNew = gamma * (y - l) + (1 - gamma) * sPrev
          ring(idx) = sNew
          n += 1
          out(inSchema.length) = java.lang.Double.valueOf(l)
          out(inSchema.length + 1) = java.lang.Double.valueOf(b)
          out(inSchema.length + 2) = java.lang.Double.valueOf(sNew)
        } else {
          out(inSchema.length) = if (n > 0) java.lang.Double.valueOf(l) else null
          out(inSchema.length + 1) = if (n > 0) java.lang.Double.valueOf(b) else null
          out(inSchema.length + 2) = null
        }
        new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
      }
    }(Encoders.row(outSchema))
  }

  /** Kalman filter, local-level model (Harvey 1989): process variance
    * `qVar`, observation variance `rVar`:
    * {{{
    *   P⁻ = P + q;  K = P⁻/(P⁻ + r);  x += K·(y − x);  P = (1−K)·P⁻
    * }}}
    * init x = y₁, P = 1. Two doubles of state per key, one ordered scan;
    * the q181 oracle carries (x, P) through a recursive CTE with the
    * identical operation order.
    */
  def withKalmanLevel(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, qVar: Double, rVar: Double): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("x", DoubleType, nullable = true),
      StructField("p", DoubleType, nullable = true)))
    val keyIdx = inSchema.fieldIndex(keyCol)
    val valIdx = inSchema.fieldIndex(valCol)
    val sorted =
      df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(ordCol))
    sorted.mapPartitions { rows =>
      var curKey: Any = null
      var started = false
      var has = false
      var x = 0.0
      var p = 0.0
      rows.map { row =>
        val k = row.get(keyIdx)
        if (!started || k != curKey) {
          started = true; curKey = k; has = false; x = 0.0; p = 0.0
        }
        val out = new Array[Any](outSchema.length)
        var i = 0
        while (i < inSchema.length) { out(i) = row.get(i); i += 1 }
        if (!row.isNullAt(valIdx)) {
          val y = row.getDouble(valIdx)
          if (!has) { x = y; p = 1.0; has = true }
          else {
            val pPred = p + qVar
            val kGain = pPred / (pPred + rVar)
            x = x + kGain * (y - x)
            p = (1 - kGain) * pPred
          }
        }
        out(inSchema.length) = if (has) java.lang.Double.valueOf(x) else null
        out(inSchema.length + 1) = if (has) java.lang.Double.valueOf(p) else null
        new org.apache.spark.sql.catalyst.expressions.GenericRow(out): Row
      }
    }(Encoders.row(outSchema))
  }
}
