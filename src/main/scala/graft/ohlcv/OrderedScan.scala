package graft.ohlcv

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** The ordered per-key scan: the one physical shape of a recurrence that
  * is truly sequential (SURVEY.md W4, §2.10) — Wilder smoothing, the
  * adaptive EMA, NVI's gated product, PSAR's trend-flip machine, Holt,
  * Holt–Winters and the Kalman level.
  *
  * One hash exchange on the key, a sort by (key, order) within each
  * partition, and one streaming `mapPartitions` pass: sequential per
  * series, parallel across series, the state of one series in memory at a
  * time. The scan starts a fresh [[Step]] at each key's first row (all
  * NULL-key rows are one series), copies the input row and appends the
  * step's fields. It imposes no NULL rule: each operator's step states how
  * it reads a missing value.
  */
object OrderedScan {

  /** One series' state, fed its rows in order: writes the row's appended
    * values into `out` (index 0 is the first appended field). A slot left
    * unwritten is NULL.
    */
  type Step = (Row, Array[Any]) => Unit

  /** Append `fields` to every row of `df`, computed by a fresh
    * `newSeries()` step per key in `ordCol` order.
    */
  def apply(df: DataFrame, keyCol: String, ordCol: String,
      fields: Seq[StructField])(newSeries: () => Step): DataFrame = {
    val nIn = df.schema.length
    val nOut = fields.length
    val outSchema = StructType(df.schema.fields ++ fields)
    val keyIdx = df.schema.fieldIndex(keyCol)
    df.repartition(col(keyCol)).sortWithinPartitions(col(keyCol), col(ordCol))
      .mapPartitions { rows =>
        var step: Step = null
        var curKey: Any = null
        val appended = new Array[Any](nOut)
        rows.map { row =>
          val k = row.get(keyIdx)
          if (step == null || k != curKey) { step = newSeries(); curKey = k }
          java.util.Arrays.fill(appended.asInstanceOf[Array[AnyRef]], null)
          step(row, appended)
          val out = new Array[Any](nIn + nOut)
          var i = 0
          while (i < nIn) { out(i) = row.get(i); i += 1 }
          System.arraycopy(appended, 0, out, nIn, nOut)
          new GenericRow(out): Row
        }
      }(Encoders.row(outSchema))
  }
}
