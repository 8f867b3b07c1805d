package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core time-series relational operators (SURVEY.md §2.2–§2.5).
  *
  * All operators are lazy DataFrame transforms keyed by a series column
  * (`symbol` in the reference, `user_id` on the harness `events` table) so
  * every shuffle partitions by series key — on a 1000-executor cluster each
  * series streams through one task and no operator ever collects to the
  * driver.
  */
object TimeSeriesOps {

  /** Seconds between 2000-01-01 epoch origin (reference `preprocess.py:39`)
    * and the Unix epoch.
    */
  val Epoch2000: Long = 946684800L

  /** Dense integer time index: `(ts − 2000-01-01) / delta`
    * (reference `core/data/preprocess.py:39`, F5).
    */
  def timeIdx(ts: Column, deltaSec: Long): Column =
    floor((unix_timestamp(ts) - Epoch2000) / deltaSec).cast("long")

  /** Calendar feature pack (reference `core/data/preprocess.py:19-27`, F4).
    * `day_of_week` follows the pandas convention Monday=0 (Spark's
    * `dayofweek` is Sunday=1 — shifted here).
    */
  def withCalendar(df: DataFrame, tsCol: String): DataFrame = {
    val ts = col(tsCol)
    df.withColumn("hour", hour(ts))
      .withColumn("day", dayofmonth(ts))
      .withColumn("day_of_week", ((dayofweek(ts) + 5) % 7).cast("int"))
      .withColumn("month", month(ts))
      .withColumn("week_of_year", weekofyear(ts))
      .withColumn("year", year(ts))
  }

  /** Keep-LAST deduplication (reference `preprocess.py:69`, `cdd.py:109`,
    * A2): among rows sharing `keys`, keep the one with the greatest
    * `arrival` (arrival order must be an explicit column — Spark's
    * `dropDuplicates` keeps an arbitrary row, which is NOT the reference
    * semantics). Ties on `arrival` are broken arbitrarily; fabricate a
    * unique arrival index at ingest to avoid them.
    */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], arrival: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(arrival.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Bar-interval inference (reference `preprocess.py:30-37`, A3): the mode
    * of consecutive-timestamp deltas must cover ≥ `minFreq` of rows, else
    * the series is too irregular to index. Returns the mode in seconds.
    *
    * Driver-side result (two scalars) — the heavy work (lag + count) is
    * distributed; only the tiny per-delta histogram is collected.
    */
  def inferIntervalSeconds(df: DataFrame, keyCol: String, tsCol: String,
      minFreq: Double = 0.99): Long = {
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    val deltas = df
      .select(col(keyCol), col(tsCol))
      .withColumn("__delta", unix_timestamp(col(tsCol)) - lag(unix_timestamp(col(tsCol)), 1).over(w))
      .filter(col("__delta").isNotNull)
      .groupBy("__delta").count()
      .orderBy(col("count").desc, col("__delta"))
      .limit(2)
      .collect()
    require(deltas.nonEmpty, "need at least 2 rows per series to infer interval")
    val total = df.count() // upper bound fine: freq check is a sanity gate
    val mode = deltas.head.getLong(0)
    val freq = deltas.head.getLong(1).toDouble / math.max(1, total - 1)
    require(freq >= minFreq,
      s"interval mode $mode covers only $freq of rows (< $minFreq)")
    mode
  }

  /** Right-closed / right-labeled tumbling bucket label
    * (pandas `resample(closed="right", label="right")`, A1): a timestamp
    * exactly on a bucket edge belongs to THAT edge's label, i.e. bucket
    * interval is `(label − Δ, label]` — hence `ceil`, not Spark's
    * left-closed `window()`.
    */
  def bucketRight(ts: Column, deltaSec: Long): Column =
    // Cast to double keeps fractional seconds (unix_timestamp truncates,
    // which would pull an on-boundary-plus-epsilon row into the previous
    // bucket).
    timestamp_seconds(ceil(ts.cast("double") / lit(deltaSec.toDouble)).cast("long") * deltaSec)

  /** OHLCV resample (reference `preprocess.py:99-122`, A1): per right-closed
    * bucket: open→first, high→max, low→min, close→last, volume→sum, with
    * first/last meaning earliest/latest by timestamp inside the bucket.
    * When `emitEmpty`, interior gap buckets are emitted with null open,
    * high, low and close (pandas emits NaN rows for empty buckets).
    *
    * A NULL or NaN value is missing, as NaN is to pandas' `first`, `last`,
    * `max`, `min` and `sum`: open and close are the earliest and latest
    * present values of the bucket, the other three skip it, and a price
    * column with no present value in the bucket aggregates to NULL. Volume
    * is pandas' `sum` with `min_count=0`: 0 for an empty or all-missing
    * bucket.
    */
  def resampleOhlcv(df: DataFrame, keyCol: String, tsCol: String, deltaSec: Long,
      open: String = "open", high: String = "high", low: String = "low",
      close: String = "close", volume: String = "volume",
      emitEmpty: Boolean = true): DataFrame = {
    val bucketed = df.withColumn("__bucket", bucketRight(col(tsCol), deltaSec))
    def present(c: String): Column = when(!isnan(col(c)), col(c))
    // min_by/max_by skip a row whose ordering is NULL.
    def presentAt(c: String): Column = when(present(c).isNotNull, col(tsCol))
    val agged = bucketed
      .groupBy(col(keyCol), col("__bucket").as(tsCol))
      .agg(
        min_by(col(open), presentAt(open)).as(open),
        max(present(high)).as(high),
        min(present(low)).as(low),
        max_by(col(close), presentAt(close)).as(close),
        coalesce(sum(present(volume)), lit(0)).as(volume))
    if (!emitEmpty) agged
    else {
      // Dense bucket scaffold per key: sequence-join (J1 machinery), chunked
      // so no single array exceeds `chunk` elements at 100 TB key spans.
      val spans = agged.groupBy(keyCol)
        .agg(min(unix_timestamp(col(tsCol))).as("__lo"), max(unix_timestamp(col(tsCol))).as("__hi"))
      val scaffold = denseLongs(spans, keyCol, "__lo", "__hi", deltaSec)
        .withColumn(tsCol, timestamp_seconds(col("__v"))).drop("__v")
      scaffold.join(agged, Seq(keyCol, tsCol), "left")
        .withColumn(volume, coalesce(col(volume), lit(0)))
    }
  }

  /** Largest number of indices one generated array holds. */
  val GapChunk: Int = 8192

  /** Per-key dense long range [loCol, hiCol] step `step`, generated in
    * ≤`chunk`-element bursts so generated arrays stay bounded regardless of
    * key span (a naive single `sequence(lo, hi)` materializes the whole
    * range in one row — fatal for a year of seconds).
    * Output: (keyCol, __v:long).
    */
  def denseLongs(spans: DataFrame, keyCol: String, loCol: String, hiCol: String,
      step: Long, chunk: Int = GapChunk): DataFrame = {
    val stride = step * chunk
    spans
      .withColumn("__chunk", explode(sequence(col(loCol), col(hiCol), lit(stride))))
      .withColumn("__v", explode(sequence(
        col("__chunk"),
        least(col(hiCol), col("__chunk") + lit(stride - step)),
        lit(step))))
      .select(col(keyCol), col("__v"))
  }

  /** Gap fill + forward fill (reference `dataset.py:32-43`, J1+W2): make
    * `idxCol` dense per key over [min, max], then ffill every column in
    * `fillCols` with the last non-null earlier value. Columns come out as
    * key, idx, then the others in input order; a gap row's non-fill
    * columns are NULL.
    *
    * One ordered window pass per key: it forward-fills the present rows
    * and reads the next present index, and each row then emits itself and
    * the gap rows up to that index, carrying its filled values. Gap rows
    * are generated in bursts of at most [[GapChunk]] indices, as in
    * [[denseLongs]], so no array grows with the gap. Rows with a NULL idx
    * are dropped; a duplicate (key, idx) is kept twice; a NULL key never
    * matches the dense index, so its range comes out once per index with
    * every other column NULL.
    */
  def gapFillFfill(df: DataFrame, keyCol: String, idxCol: String,
      fillCols: Seq[String]): DataFrame = {
    val key = col(keyCol)
    val idx = col(idxCol)
    val rest = df.columns.toSeq.filterNot(c => c == keyCol || c == idxCol)
    val w = Window.partitionBy(keyCol).orderBy(idxCol)
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val next = lead(idx, 1).over(w)
    val present = df.filter(idx.isNotNull)
      .select(key +: idx +: next.as("__next") +: rest.map { c =>
        val v = when(key.isNotNull, col(c))
        (if (fillCols.contains(c)) last(v, ignoreNulls = true).over(upTo) else v).as(c)
      }: _*)
      .filter(key.isNotNull || col("__next").isNull || col("__next") =!= idx)
    val end = greatest(idx, col("__next") - 1)
    present
      .withColumn("__chunk", explode(sequence(idx, end, lit(GapChunk.toLong))))
      .withColumn("__v", explode(sequence(col("__chunk"), least(end, col("__chunk") + (GapChunk - 1)))))
      .select(key +: col("__v").as(idxCol) +: rest.map { c =>
        if (fillCols.contains(c)) col(c) else when(col("__v") === idx, col(c)).as(c)
      }: _*)
  }

  /** Forward fill (W2): `last(c, ignoreNulls)` over an unbounded-preceding
    * row frame per key.
    */
  def ffill(df: DataFrame, keyCol: String, ordCol: String,
      fillCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ordCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fillCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Warm-up filter (reference `preprocess.py:63-67`, P2): drop the first
    * `days` days per key. The per-key minimum is computed with a window
    * aggregate, not a driver collect, so the plan stays fully distributed.
    */
  def dropWarmup(df: DataFrame, keyCol: String, tsCol: String, days: Int): DataFrame = {
    val w = Window.partitionBy(keyCol)
    df.withColumn("__min_ts", min(col(tsCol)).over(w))
      .filter(col(tsCol) >= col("__min_ts") + expr(s"INTERVAL $days DAYS"))
      .drop("__min_ts")
  }

  /** Head-fraction filter (reference `train.py:32`, P3): drop the first
    * `floor(n·frac)` rows per key in `ordCol` order (positional semantics
    * need the explicit ordering).
    */
  def dropHeadFraction(df: DataFrame, keyCol: String, ordCol: String,
      frac: Double): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(ordCol)
    val wAll = Window.partitionBy(keyCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .filter(col("__rn") > floor(col("__n") * frac))
      .drop("__rn", "__n")
  }

  /** Trim first and last row per key (reference `preprocess.py:118-119`,
    * P7 `drop_ends` after resample).
    */
  def trimEnds(df: DataFrame, keyCol: String, ordCol: String): DataFrame = {
    val asc = Window.partitionBy(keyCol).orderBy(col(ordCol).asc)
    val desc = Window.partitionBy(keyCol).orderBy(col(ordCol).desc)
    df.withColumn("__ra", row_number().over(asc))
      .withColumn("__rd", row_number().over(desc))
      .filter(col("__ra") > 1 && col("__rd") > 1)
      .drop("__ra", "__rd")
  }

  /** Numeric-column projection (reference `dataset.py:9`
    * `select_dtypes("number")`, P5): keep `protect` plus every numeric
    * column — schema-driven, no data pass.
    */
  def selectNumeric(df: DataFrame, protect: Seq[String] = Nil): DataFrame = {
    val keep = df.schema.fields.filter(f =>
      protect.contains(f.name) ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
    df.select(keep.map(f => col(f.name)).toIndexedSeq: _*)
  }

  /** Data-dependent column prune (reference `preprocess.py:71`, P6/A5):
    * keep columns whose non-null fraction exceeds `threshold`. Two passes:
    * one distributed aggregate for the fractions (a single tiny row to the
    * driver), then a plain `select` — the only driver-side data is one
    * double per column.
    */
  def pruneNullColumns(df: DataFrame, threshold: Double = 0.85,
      protect: Seq[String] = Nil): DataFrame = {
    val candidates = df.columns.filterNot(protect.contains)
    if (candidates.isEmpty) df
    else {
      val fracs = df.agg(
        avg(col(candidates.head).isNotNull.cast("double")).as(candidates.head),
        candidates.tail.map(c => avg(col(c).isNotNull.cast("double")).as(c)): _*
      ).head()
      val keep = df.columns.filter { c =>
        protect.contains(c) || fracs.getAs[Double](c) > threshold
      }
      df.select(keep.map(col): _*)
    }
  }
}
