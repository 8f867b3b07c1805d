package graft.streaming

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType,
  ShortType, StructField, StructType, TimestampType}
import graft.ohlcv.HoltWinters.{HoltState, KalmanState}

/** Structured-Streaming mappings of the reference's incremental-ingest
  * semantics (SURVEY.md §2.9; reference `core/data/cdd.py:100-110` — the
  * cursor refetch + concat + dedup-keep-last merge loop, which in the
  * reference is dead code but defines the upsert contract).
  *
  * Batch and stream share the same operator definitions: the tumbling
  * aggregation below is the streaming twin of
  * [[graft.ohlcv.TimeSeriesOps.resampleOhlcv]] (left-closed `window()`
  * semantics are Spark's streaming-native bucketing; the right-closed
  * pandas-exact variant stays a batch concern in `foreachBatch`).
  */
object StreamingIngest {

  /** File-source stream of OHLCV-shaped events. */
  def readEvents(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Watermarked late-data dedup (A2's streaming form): drop duplicate
    * `keys` arriving within the watermark horizon. Spark's
    * `dropDuplicatesWithinWatermark` keeps the FIRST arrival — the
    * keep-last refinement happens in the sink merge ([[foreachBatchUpsert]])
    * exactly like the reference's concat-then-keep-last.
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String,
      watermark: String, keys: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming tumbling-window OHLCV aggregation with watermark:
    * open/close via min_by/max_by on event time, high/low/volume as plain
    * aggregates. Append-mode capable (emits a bucket once the watermark
    * passes its end). `tieCol` breaks event-time ties for open/close
    * deterministically (struct ordering is lexicographic) — without it
    * two events sharing a timestamp make min_by/max_by pick arbitrarily.
    */
  def tumblingOhlcv(events: DataFrame, tsCol: String, valCol: String,
      keyCol: String, width: String, watermark: String,
      tieCol: Option[String] = None): DataFrame = {
    val ord = tieCol match {
      case Some(t) => struct(col(tsCol), col(t))
      case None => struct(col(tsCol))
    }
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), window(col(tsCol), width))
      .agg(
        min_by(col(valCol), ord).as("open"),
        max(col(valCol)).as("high"),
        min(col(valCol)).as("low"),
        max_by(col(valCol), ord).as("close"),
        sum(col(valCol)).as("volume"),
        count(lit(1)).as("n_events"))
      .select(col(keyCol), col("window.start").as("bucket_start"),
        col("window.end").as("bucket_end"), col("open"), col("high"),
        col("low"), col("close"), col("volume"), col("n_events"))
  }

  /** Sliding-window mean (W1's streaming shape): 256-width / 1-slide in
    * the reference; width/slide parameterized here.
    */
  def slidingMean(events: DataFrame, tsCol: String, valCol: String,
      keyCol: String, width: String, slide: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), window(col(tsCol), width, slide))
      .agg(avg(col(valCol)).as("mean_value"), count(lit(1)).as("n_events"))
      .select(col(keyCol), col("window.start").as("bucket_start"),
        col("mean_value"), col("n_events"))

  /** The keyed fold behind [[streamingEma]], [[streamingHolt]] and
    * [[streamingKalman]]: per key, the state `S` is carried across
    * micro-batches by `flatMapGroupsWithState`; each batch's rows are
    * ordered by (ts, tie) inside the group, folded through `step` from the
    * stored state (`zero` for a new key), and emit one row per event:
    * (key, ts) then `emit(state)` as the double columns `outCols`. `step`
    * gets the value as read, None for a NULL, and applies its own
    * operator's rule for a missing value.
    *
    * Type contract: `keyCol` and `tieCol` must be integral (they are cast
    * to long — the output `key` is LongType regardless of input width);
    * `tsCol` may be a timestamp (folded at µs resolution) or any integral
    * column. Non-integral keys would need a Row-encoder groupByKey — not
    * plumbed, so the schema states the long contract honestly. Requires
    * per-key event-time order across batches (true for append-only
    * time-series ingest).
    */
  private def keyedFold[S <: Product : TypeTag](op: String, events: DataFrame,
      keyCol: String, tsCol: String, tieCol: String, value: Column,
      outCols: Seq[String], zero: S)(step: (S, Option[Double]) => S)(
      emit: S => Seq[Any]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // Normalize the event time to a sortable long (µs for real
    // timestamps; raw long columns — e.g. nanos-shimmed parquet — pass
    // through unchanged).
    val tsLong = events.schema(tsCol).dataType match {
      case TimestampType => unix_micros(col(tsCol))
      case _ => col(tsCol).cast("long")
    }
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    Seq(keyCol, tieCol).foreach { c =>
      require(integral(events.schema(c).dataType),
        s"$op: column '$c' must be integral (got " +
          s"${events.schema(c).dataType.simpleString}); long keys are the " +
          "plumbed contract")
    }
    val outSchema = StructType(Seq(StructField("key", LongType), StructField("ts", LongType)) ++
      outCols.map(StructField(_, DoubleType)))
    events
      .select(col(keyCol).cast("long").as("key"), tsLong.as("ts"),
        col(tieCol).cast("long").as("tie"), value.cast("double").as("v"))
      .as[(Long, Long, Long, Option[Double])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, Long, Option[Double])], state: GroupState[S]) =>
          var s = state.getOption.getOrElse(zero)
          val out = rows.toSeq.sortBy(r => (r._2, r._3)).map { case (_, ts, _, v) =>
            s = step(s, v)
            Row.fromSeq(key +: ts +: emit(s))
          }
          state.update(s)
          out.iterator
      }(Encoders.product[S], Encoders.row(outSchema))
  }

  /** Streaming EMA — the custom-state streaming twin of
    * [[graft.ohlcv.Features.withEma]] (W4). The state is
    * [[org.apache.spark.sql.graft.RunningEma]]'s buffer (ema, w, n),
    * carried across micro-batches and updated by the same rule in the same
    * operation order: a NULL or NaN bar is missing and decays the weight
    * `w` of the carried EMA, as pandas' `ignore_na=False` does. So the
    * output equals the batch EMA over the full series bit for bit however
    * the input is split into micro-batches (oracle-checked as q106).
    * Key/tie contract as [[keyedFold]].
    */
  final case class EmaState(ema: Double, w: Double, n: Long)

  def streamingEma(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, alpha: Double, minPeriods: Int): DataFrame =
    keyedFold("streamingEma", events, keyCol, tsCol, tieCol, col(valCol), Seq("ema"),
        EmaState(Double.NaN, 1.0, 0L)) { (s, v) =>
      val seeded = !s.ema.isNaN
      v.filterNot(_.isNaN) match {
        case Some(x) =>
          val decayed = s.w * (1 - alpha)
          val ema =
            if (!seeded) x
            else if (s.w == 1.0) alpha * x + (1 - alpha) * s.ema
            else (decayed * s.ema + alpha * x) / (decayed + alpha)
          EmaState(ema, 1.0, s.n + 1)
        case None => EmaState(s.ema, if (seeded) s.w * (1 - alpha) else s.w, s.n)
      }
    } { s => Seq(if (!s.ema.isNaN && s.n >= minPeriods) s.ema else null) }

  /** Streaming Holt linear-trend smoothing: the q163 batch recurrence
    * carried as [[HoltState]] across micro-batches — the same step as
    * [[graft.ohlcv.HoltWinters.withHolt]], so one AvailableNow pass over a
    * parquet stream equals the batch scan bit-for-bit (oracle q175).
    * `level`/`trend` are NULL until `minPeriods` observations. A NULL
    * value is skipped and NaN taken as a value, as in the batch scan.
    */
  def streamingHolt(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, alpha: Double, beta: Double,
      minPeriods: Int): DataFrame =
    keyedFold("streamingHolt", events, keyCol, tsCol, tieCol, col(valCol),
        Seq("level", "trend"), HoltState(0.0, 0.0, 0L)) { (s, v) =>
      v.fold(s)(s.step(_, alpha, beta))
    } { s => if (s.n >= minPeriods) Seq(s.l, s.b) else Seq(null, null) }

  /** Streaming Kalman local-level filter: the q181 recurrence carried as
    * [[KalmanState]] across micro-batches — the same step as
    * [[graft.ohlcv.HoltWinters.withKalmanLevel]], so an AvailableNow pass
    * equals the batch scan bit-for-bit (oracle q201). A NULL value is
    * skipped and NaN taken as a value, as in the batch scan.
    */
  def streamingKalman(events: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valCol: String, qVar: Double, rVar: Double): DataFrame =
    keyedFold("streamingKalman", events, keyCol, tsCol, tieCol, col(valCol),
        Seq("x", "p"), KalmanState(0.0, 0.0, 0L)) { (s, v) =>
      v.fold(s)(s.step(_, qVar, rVar))
    } { s => if (s.n > 0) Seq(s.x, s.p) else Seq(null, null) }

  /** The reference's cache-merge upsert (`cdd.py:108-110`): each
    * micro-batch unions with the sink table and keeps the newest row per
    * key — batch A2 applied inside `foreachBatch`, giving exactly-once
    * upsert semantics onto a parquet table.
    */
  def foreachBatchUpsert(stream: DataFrame, sinkDir: String, keys: Seq[String],
      arrivalCol: String, checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // Crash recovery: if a previous batch died between the two renames
        // below, the live table is the __old copy (sinkDir missing) — the
        // re-run batch merges against it, so no committed row is ever lost.
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val dst = new org.apache.hadoop.fs.Path(sinkDir)
        val oldP = new org.apache.hadoop.fs.Path(sinkDir + "__old")
        val existing =
          if (fs.exists(dst)) spark.read.parquet(sinkDir)
          else if (fs.exists(oldP)) spark.read.parquet(sinkDir + "__old")
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], batch.schema)
        val merged = graft.ohlcv.TimeSeriesOps.dedupKeepLast(
          existing.unionByName(batch), keys, col(arrivalCol))
        // Write to a temp dir then swap — parquet sinks can't be read and
        // overwritten in the same job. The swap renames the old table
        // ASIDE first (never delete-then-rename): at every instant one of
        // sinkDir / sinkDir__old holds a complete committed table.
        val tmp = sinkDir + "__tmp"
        merged.write.mode("overwrite").parquet(tmp)
        fs.delete(oldP, true) // stale backup from an earlier batch
        if (fs.exists(dst)) fs.rename(dst, oldP)
        fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
        fs.delete(oldP, true)
        ()
      }
}
