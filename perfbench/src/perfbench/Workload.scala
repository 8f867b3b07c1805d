package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ohlcv.{Ingest, TimeSeriesOps}

/** One timed operation and whether its output checks passed. */
final case class Op(kind: String, seconds: Double, failures: Seq[String]) {
  def ok: Boolean = failures.isEmpty
}

/** The result of one pass: its timed operations plus quality figures. */
final case class Pass(ops: Seq[Op], quality: Map[String, Double] = Map.empty) {
  def seconds: Double = ops.map(_.seconds).sum
}

/** A workload: generated inputs, one-time preparation (counted in
  * `setup_s`), and a pass that is repeated for the measured time.
  */
trait Workload {
  def name: String
  /** Write the inputs under `dir`. Not timed. */
  def generate(dir: File): Unit
  /** One-time preparation on a fresh session. Timed as part of `setup_s`. */
  def setup(spark: SparkSession): Unit = ()
  /** Release whatever `setup` and the passes hold. */
  def teardown(): Unit = ()
  /** Whether one untimed pass runs before the measured ones. */
  def warmup: Boolean = true
  /** Measured passes per run (per mode in a traced run), even past `--seconds`. */
  def minPasses: Int = 3
  /** One unit of work; checks run outside the timed region of each op. */
  def pass(tr: Tracer, check: Boolean): Pass
  /** Metrics only this workload defines, from its passes (report only). */
  def summary(passes: Seq[Pass]): Seq[(String, Double, String)] = Nil
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `checks`, turning a thrown exception into a failure message. */
  def checking(checks: => Seq[String]): Seq[String] =
    try checks
    catch { case e: Throwable => Seq(s"check raised ${e.getClass.getSimpleName}: ${e.getMessage}") }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** The ingest and clean layers shared by both forecast workloads. */
object OhlcvLayers {
  val SeqLen = 256
  val PredWindow = 192
  val EmbedDim = 64
  val Bar = 3600L

  /** Keep-last dedup over every page of every symbol, in arrival order:
    * a later page wins, and within a page a later line wins.
    */
  def ingest(spark: SparkSession, pages: Seq[(String, Seq[String])]): DataFrame = {
    val frames = for ((sym, files) <- pages; (f, i) <- files.zipWithIndex)
      yield Ingest.readCsv(spark, f, sym).withColumn("file_seq", lit(i))
    TimeSeriesOps.dedupKeepLast(frames.reduce(_ unionByName _), Seq("symbol", "datetime"),
      struct(col("file_seq"), col("ingest_order")))
  }

  /** Hourly resample, then a dense hourly index with every column carried
    * forward over missing hours. Output: user_id, idx, open, high, low,
    * close, volume.
    */
  def clean(raw: DataFrame): DataFrame = {
    val hourly = TimeSeriesOps.resampleOhlcv(raw, "symbol", "datetime", Bar, emitEmpty = false)
      .withColumn("idx", (unix_timestamp(col("datetime")) / Bar).cast("long"))
      .drop("datetime")
    TimeSeriesOps.gapFillFfill(hourly, "symbol", "idx", Seq("open", "high", "low", "close", "volume"))
      .select(col("symbol").as("user_id"), col("idx"), col("open"), col("high"),
        col("low"), col("close"), col("volume"))
  }

  /** Generate every symbol's history and write it as exchange pages. */
  def writeCorpus(dir: File, seed: Long, symbols: Int, bars: Int, pages: Int)
      : (Seq[SymbolHistory], Seq[(String, Seq[String])]) = {
    val hs = (0 until symbols).map(OhlcvGen.history(seed, _, bars))
    (hs, hs.map(h => h.symbol -> OhlcvGen.writePages(h, dir, pages, seed)))
  }

  /** Per-symbol expected window counts from the true series. */
  def expectedWindows(h: SymbolHistory, from: Int, until: Int): (Long, Long) =
    OhlcvGen.windowCounts(h.filledClose, from, until, SeqLen)

  def countsBy(df: DataFrame, key: String): Map[String, Long] =
    df.groupBy(key).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def compareCounts(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] =
    want.toSeq.sortBy(_._1).collect {
      case (k, n) if got.getOrElse(k, 0L) != n => s"$what[$k]: got ${got.getOrElse(k, 0L)}, want $n"
    } ++ (got.keySet -- want.keySet).toSeq.map(k => s"$what: unexpected key $k")
}
