package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.storage.StorageLevel

import graft.Flagship
import graft.ohlcv.{Encode, Features, Forecast, Windows}

/** The paper's batch evaluation, end to end: exchange pages on disk →
  * keep-last dedup → hourly resample and gap fill → TA features (written
  * out) → per-symbol tail split → z-scored windows → PCA fit and
  * projection → per-symbol L1 top-k → follow-on ensemble → MAE summary.
  */
final class ForecastEval(seed: Long, symbols: Int, bars: Int, pages: Int,
    corruptTopK: Boolean) extends Workload {
  import OhlcvLayers._

  val name = "forecast_eval"
  val ValRatio = 0.15
  val Stride = 64
  val K = 5
  private val checkedQueries = 4
  // A cold pass takes longer than a run's measured time on four cores.
  override val warmup = false
  override val minPasses = 1

  private var spark: SparkSession = _
  private var histories: Seq[SymbolHistory] = Nil
  private var layout: Seq[(String, Seq[String])] = Nil
  private var featuresOut: String = _
  private var passNo = 0
  // Plain-Scala corpus embeddings per (symbol, PCA matrix), for the top-k check.
  private val truthCache = mutable.Map.empty[(String, Int), Array[(Int, Array[Double])]]
  // Encoder check failures per PCA matrix: a refit of the same data is checked once.
  private val encoderChecked = mutable.Map.empty[Int, Seq[String]]

  def generate(dir: File): Unit = {
    val (hs, l) = writeCorpus(new File(dir, "ohlcv"), seed, symbols, bars, pages)
    histories = hs
    layout = l
    featuresOut = new File(dir, "features").getPath
  }

  override def setup(s: SparkSession): Unit = spark = s

  private def features(series: DataFrame) = {
    val k = col("user_id")
    val o = col("idx")
    val smas = Seq(50, 100, 200).foldLeft(series) { (d, w) =>
      d.withColumn(s"sma_$w", Features.sma(col("close"), k, o, w))
    }
    val emas = Features.withEma(smas, "user_id", "idx", "close",
      Seq(50, 100, 200).map(w => Features.emaSpanSpec(s"ema_$w", w)))
    Features.withBollinger(Features.withMacd(Features.withRsi(emas, "user_id", "idx", "close"),
      "user_id", "idx", "close"), "user_id", "idx", "close")
  }

  def pass(tr: Tracer, check: Boolean): Pass = {
    passNo += 1
    val lvl = StorageLevel.MEMORY_AND_DISK
    val t0 = System.nanoTime()
    val raw = tr.cut("ingest")(ingest(spark, layout))
    val series = tr.cut("clean")(clean(raw))
    val feats = tr.cut("features")(features(series))
    tr.act("features")(feats.write.mode("overwrite").parquet(featuresOut))
    val closes = series.select("user_id", "idx", "close")
    val split = Windows.withTailSplit(closes, "user_id", "idx", ValRatio)
    val trainS = split.filter(!col("is_val")).drop("is_val")
    val valS = split.filter(col("is_val")).drop("is_val")
    val trainW = tr.cut("windows")(Windows.slidingZscored(trainS, "user_id", "idx", "close", SeqLen))
    // Only the window-count check reads the validation windows on their
    // own; the pipeline derives them inside embeddedWindows.
    val valW = Windows.slidingZscored(valS, "user_id", "idx", "close", SeqLen)
    // As in the flagship: persist the embedded frames and count them, the
    // count doubling as the query-count hint.
    val (m, trainE, valE, valCount) = tr.act("encode") {
      val m = Encode.pcaMatrix(trainW.filter(col("scale") > 1e-6), "zvalues", SeqLen, EmbedDim)
      val te = Flagship.embeddedWindows(trainS, SeqLen, EmbedDim, Some(m)).persist(lvl)
      val ve = Flagship.embeddedWindows(valS, SeqLen, EmbedDim, Some(m)).persist(lvl)
      val trainCount = te.count()
      val valCount = ve.count()
      tr.addRows("encode", trainCount + valCount)
      tr.noteShape(te); tr.noteShape(ve)
      (m, te, ve, valCount)
    }
    val top = tr.cut("search") {
      Forecast.evaluateSplit(trainE, valE, "user_id", SeqLen, PredWindow, Stride, K, "l1",
        queryCountHint = Some(valCount / Stride + 1024))
    }
    val scored = tr.cut("forecast") {
      Forecast.forecastAndScoreSplit(top, trainE, valE, "user_id", SeqLen, PredWindow,
        broadcastTop = true)
    }
    val summary = tr.act("forecast")(Forecast.errorSummary(scored).head())
    val seconds = (System.nanoTime() - t0) / 1e9

    if (tr.enabled) searchRatio(tr, top)
    val failures = if (!check) Nil else Workload.checking {
      val topRows = top.collect()
      checkWindows(trainW, valW, trainE, valE) ++ checkEncoder(m) ++ checkTopK(topRows, m) ++
        checkForecast(topRows, summary)
    }
    trainE.unpersist(blocking = true)
    valE.unpersist(blocking = true)
    Pass(Seq(Op("eval", seconds, failures)),
      if (summary.isNullAt(0)) Map.empty else Map("forecast_mae" -> summary.getDouble(0)))
  }

  private def searchRatio(tr: Tracer, top: DataFrame): Unit = {
    val results = top.count().toDouble
    Internals.cachedPlan(top).flatMap(Internals.distanceInputRows(_, "dist"))
      .foreach(pairs => tr.noteExtra("search.pairs_per_result", pairs / math.max(1.0, results)))
  }

  /** Window counts per symbol and segment equal n − 256 + 1 before the
    * constant-window filter, and the true non-constant count after it.
    */
  private def checkWindows(trainW: DataFrame, valW: DataFrame, trainE: DataFrame,
      valE: DataFrame): Seq[String] = {
    val want = histories.map { h =>
      val n = h.length
      val nVal = math.ceil(n * ValRatio).toInt
      (h.symbol, expectedWindows(h, 0, n - nVal), expectedWindows(h, n - nVal, n))
    }
    val full = passNo == 1
    (if (full) compareCounts("train windows", countsBy(trainW, "user_id"), want.map(w => w._1 -> w._2._1).toMap) ++
      compareCounts("val windows", countsBy(valW, "user_id"), want.map(w => w._1 -> w._3._1).toMap)
    else Nil) ++
      compareCounts("train embedded", countsBy(trainE, "user_id"), want.map(w => w._1 -> w._2._2).toMap) ++
      compareCounts("val embedded", countsBy(valE, "user_id"), want.map(w => w._1 -> w._3._2).toMap)
  }

  /** The PCA matrix has orthonormal rows and captures as much variance of
    * the true non-constant train windows as their top 64 eigenvalues: its
    * residual variance exceeds the optimum by at most 0.1 % of the
    * optimum.
    */
  private def checkEncoder(m: Array[Array[Double]]): Seq[String] = {
    val mHash = java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
    encoderChecked.getOrElseUpdate(mHash, {
      val fails = mutable.ArrayBuffer.empty[String]
      if (m.length != EmbedDim || m.exists(_.length != SeqLen))
        fails += s"PCA matrix is ${m.length} x ${m.headOption.map(_.length).getOrElse(0)}"
      else {
        val gram = for (i <- m.indices; j <- m.indices) yield
          math.abs(m(i).zip(m(j)).map { case (a, b) => a * b }.sum - (if (i == j) 1.0 else 0.0))
        if (gram.max > 1e-6) fails += f"PCA rows are not orthonormal (max |M·Mᵀ − I| ${gram.max}%.3g)"
        val windows = histories.flatMap { h =>
          val xs = h.filledClose
          val trainN = h.length - math.ceil(h.length * ValRatio).toInt
          (0 to trainN - SeqLen).map(Truth.zscore(xs, _, SeqLen)).collect {
            case (z, _, sc) if sc > 1e-6 => z
          }
        }
        val cov = Truth.covariance(windows)
        val total = cov.indices.map(i => cov(i)(i)).sum
        val best = Truth.eigenvalues(cov).sorted.reverse.take(EmbedDim).sum
        val got = m.map { row =>
          val cr = cov.map(c => c.zip(row).map { case (a, b) => a * b }.sum)
          cr.zip(row).map { case (a, b) => a * b }.sum
        }.sum
        val excess = (best - got) / (total - best)
        if (!(math.abs(excess) <= 1e-3))
          fails += f"PCA captures variance $got%.6f of $total%.6f, the optimum is $best%.6f " +
            f"(excess residual ${excess * 100}%.3g %% of the optimum)"
      }
      fails.toSeq
    })
  }

  /** The error summary's mean equals the mean over queries of a plain-Scala
    * forecast MAE from the true series, with the program's rank-1 and
    * rank-2 matches (which [[checkTopK]] checks).
    */
  private def checkForecast(rows: Array[Row], summary: Row): Seq[String] = {
    val want = rows.groupBy(r => (r.getString(0), r.getLong(1))).toSeq.flatMap { case ((sym, qStart), rs) =>
      val h = histories.find(_.symbol == sym).get
      val xs = h.filledClose
      val n = h.length
      val trainN = n - math.ceil(n * ValRatio).toInt
      def kept(s: Int, from: Int, until: Int) =
        s >= from && s + SeqLen <= until && Truth.zscore(xs, s, SeqLen)._3 > 1e-6
      def start(rank: Int) = rs.find(_.getInt(8) == rank).map(r => (r.getLong(5) - h.firstHour).toInt)
      val q = (qStart - h.firstHour).toInt
      Truth.forecastMae(xs, q, start(1), start(2), SeqLen, PredWindow,
        s => kept(s + SeqLen, 0, trainN), kept(q + SeqLen, trainN, n))
    }.filterNot(_.isNaN)
    if (want.isEmpty) Seq("no query has a forecast to score")
    else {
      val mean = want.sum / want.length
      if (summary.isNullAt(0) || !(math.abs(summary.getDouble(0) - mean) <= 1e-9 * math.max(1.0, mean)))
        Seq(f"error summary mean ${if (summary.isNullAt(0)) Double.NaN else summary.getDouble(0)}%.12g, " +
          f"want $mean%.12g over ${want.length} queries")
      else Nil
    }
  }

  /** A seeded sample of queries: the program's top-k equals a plain-Scala
    * brute-force L1 search over the true series, projected with the PCA
    * matrix the program returned, ties broken by start_idx.
    */
  private def checkTopK(rows0: Array[Row], m: Array[Array[Double]]): Seq[String] = {
    // Columns: q_key, q_start, q_center, q_scale, user_id, start_idx, center, scale, rank
    val byQuery0 = rows0.groupBy(r => (r.getString(0), r.getLong(1)))
    if (byQuery0.isEmpty) return Seq("search returned no rows")
    val r = new java.util.SplittableRandom(seed * 31 + passNo)
    val keys = byQuery0.keys.toSeq.sortBy(identity)
    val sample = Seq.fill(checkedQueries)(keys(r.nextInt(keys.length))).distinct
    // The self-test's corrupted result: one top-k row of a checked query dropped.
    val byQuery =
      if (corruptTopK) byQuery0.updated(sample.head, byQuery0(sample.head).filter(_.getInt(8) != 1))
      else byQuery0
    val mHash = java.util.Arrays.deepHashCode(m.asInstanceOf[Array[AnyRef]])
    val fails = mutable.ArrayBuffer.empty[String]
    for ((sym, qStart) <- sample) {
      val h = histories.find(_.symbol == sym).get
      val xs = h.filledClose
      val n = h.length
      val trainN = n - math.ceil(n * ValRatio).toInt
      val corpus = truthCache.getOrElseUpdate((sym, mHash), {
        // Non-constant train windows with a full follow-on among them.
        val kept = (0 to trainN - SeqLen).flatMap { s =>
          val (z, _, sc) = Truth.zscore(xs, s, SeqLen)
          if (sc > 1e-6) Some((s, Truth.project(z, m))) else None
        }
        val maxStart = kept.last._1
        kept.filter(_._1 <= maxStart - SeqLen).toArray
      })
      val q = Truth.project(Truth.zscore(xs, (qStart - h.firstHour).toInt, SeqLen)._1, m)
      val dist = corpus.map { case (s, e) => (Truth.l1(e, q), s) }.sortBy(identity)
      val want = dist.take(K)
      val got = byQuery((sym, qStart)).sortBy(_.getInt(8))
      if (got.length != want.length)
        fails += s"top-k for $sym@$qStart has ${got.length} rows, want ${want.length}"
      else got.zip(want).zipWithIndex.foreach { case ((g, (wd, ws)), i) =>
        val gs = (g.getLong(5) - h.firstHour).toInt
        if (g.getString(4) != sym || g.getInt(8) != i + 1) fails += s"top-k row $g out of place"
        else if (gs != ws) {
          val gd = dist.find(_._2 == gs).map(_._1).getOrElse(Double.NaN)
          if (!(math.abs(gd - wd) <= 1e-9 * math.max(1.0, wd)))
            fails += s"top-k for $sym@$qStart rank ${i + 1}: got start $gs (L1 $gd), want $ws (L1 $wd)"
        }
      }
    }
    fails.toSeq
  }

  override def summary(passes: Seq[Pass]): Seq[(String, Double, String)] =
    Seq(("forecast_mae", Workload.median(passes.flatMap(_.quality.get("forecast_mae"))), "z-units"))
}
