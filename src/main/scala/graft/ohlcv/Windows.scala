package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sliding pattern-window extraction + per-window z-scoring
  * (reference `core/data/dataset.py:13-26`, W1 + A4) and the per-key
  * train/validation split (`train.py:35-38`, M7).
  */
object Windows {

  /** Every offset i gets `value[i : i+len]` (a forward-looking row frame
    * `rowsBetween(0, len−1)`); offsets without a full window are dropped,
    * so count per key = n − len + 1 (reference `dataset.py:13-14`).
    *
    * Output columns: keyCol, start_idx (= `ordCol` of the window's first
    * row), values (ArrayType of the raw doubles), center (window mean),
    * scale (window POPULATION std — `np.std` is ddof=0), zvalues
    * (`(x − center)/(scale + 1e-8)`).
    *
    * `center`, `scale` and `zvalues` are native codegen'd kernels
    * (`graft_asum`, `graft_asumsq`, `graft_zscore`), each one sequential
    * loop over the window, so a row costs O(len) even when a consumer
    * selects only `zvalues` and the optimizer inlines `center`/`scale`
    * into it. `zvalues` is bit-identical to the `transform` lambda
    * `x -> (x − center)/(scale + eps)` (NULL elements stay NULL).
    *
    * Scale shape: one shuffle on keyCol; the 256× row amplification is
    * inherent to pattern extraction — downstream consumers should project
    * away `values` when only `zvalues` is needed.
    */
  def slidingZscored(df: DataFrame, keyCol: String, ordCol: String,
      valCol: String, len: Int, eps: Double = 1e-8): DataFrame = {
    val frame = Window.partitionBy(keyCol).orderBy("start_idx").rowsBetween(0, len - 1)
    df.select(col(keyCol), col(ordCol).as("start_idx"), col(valCol))
      .withColumn("values", collect_list(col(valCol)).over(frame))
      .filter(size(col("values")) === len)
      .drop(valCol)
      // Native single-loop expressions; same sequential fp order as the
      // aggregate-HOF formulation (bit-identical, ~10x faster per row).
      .withColumn("center",
        org.apache.spark.sql.graft.ArrayStatsExpressions.arraySum(col("values")) / len)
      .withColumn("scale",
        sqrt(org.apache.spark.sql.graft.ArrayStatsExpressions
          .arraySumSqAround(col("values"), col("center")) / len))
      .withColumn("zvalues", org.apache.spark.sql.graft.ArrayStatsExpressions
        .arrayZscore(col("values"), col("center"), col("scale"), eps))
  }

  /** Inverse of the z-score: `v·scale + center` (reference
    * `notebooks/test.ipynb:782`, F6).
    */
  def unzscore(arr: Column, center: Column, scale: Column): Column =
    transform(arr, v => v * scale + center)

  /** Per-key tail split: last `ceil(n·valRatio)` rows are validation
    * (reference `train.py:35-38` slices the tail 15%). Adds `is_val`.
    */
  def withTailSplit(df: DataFrame, keyCol: String, ordCol: String,
      valRatio: Double): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(ordCol).desc)
    val wAll = Window.partitionBy(keyCol)
    df.withColumn("__rd", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("is_val", col("__rd") <= ceil(col("__n") * valRatio))
      .drop("__rd", "__n")
  }
}
