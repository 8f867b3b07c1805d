package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ohlcv.{Encode, Forecast, TimeSeriesOps, Windows}

/** The flagship end-to-end pipeline (reference SURVEY.md §3.2) re-pointed
  * at the harness `events` table: per-user hourly series → gap-fill +
  * ffill → sliding z-scored windows → latent encoding → k-NN similarity
  * search → follow-on fetch → scale transfer → top-2 ensemble → MAE.
  *
  * One lazy plan end-to-end: the reference's sequential per-query Python
  * loop becomes a single broadcast-join pass over all queries at once.
  */
object Flagship {

  val SeqLen = 48
  val PredWindow = 24
  val Stride = 12
  val TopK = 3
  val EmbedDim = 12

  /** Dense per-user hourly close series (gap-filled, forward-filled),
    * indexed by hourly time_idx.
    */
  def filledSeries(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("open", col("value")).withColumn("high", col("value"))
      .withColumn("low", col("value")).withColumn("close", col("value"))
      .withColumn("volume", col("value"))
    val hourly = TimeSeriesOps.resampleOhlcv(ev, "user_id", "ts", 3600, emitEmpty = true)
      .withColumn("idx", (unix_timestamp(col("ts")) / 3600).cast("long"))
    TimeSeriesOps.ffill(hourly, "user_id", "idx", Seq("close"))
      .select("user_id", "idx", "close")
  }

  /** Sliding z-scored windows with latent embeddings (mean-pool encoder).
    * Degenerate (near-constant) windows are dropped: they only arise from
    * long forward-filled gaps, and their ~0 scale makes the 1e-8 z-score
    * epsilon explode both search distances and MAE.
    */
  def embeddedWindows(series: DataFrame, seqLen: Int = SeqLen,
      embedDim: Int = EmbedDim,
      projection: Option[Array[Array[Double]]] = None): DataFrame = {
    projection match {
      case Some(m) =>
        // Learned linear encoder (PCA / any trained projection): e = z·Mᵀ
        // in one matrix–vector kernel that carries M as a single plan
        // constant — each component is the sequential dot the oracle's
        // list_dot_product computes over the same matrix rows.
        require(m.length == embedDim && m.head.length == seqLen,
          s"projection must be $embedDim x $seqLen")
        Windows.slidingZscored(series, "user_id", "idx", "close", seqLen)
          .filter(col("scale") > 1e-6)
          .withColumn("embedding", Encode.linearProject(col("zvalues"), m))
          .drop("zvalues")
      case None =>
        require(seqLen % embedDim == 0)
        val bucket = seqLen / embedDim
        // Fused mean-pool: each embedding bucket sums (x−c)/(s+1e-8) straight
        // off the raw window in one codegen'd loop — the z array is never
        // materialized. Bit-identical to meanPool(zvalues) (same per-element
        // formula and summation order).
        val embedding = array((0 until embedDim).map { i =>
          org.apache.spark.sql.graft.ArrayStatsExpressions.arrayZSliceSum(
            col("values"), col("center"), col("scale"), i * bucket, bucket) / bucket
        }: _*)
        Windows.slidingZscored(series, "user_id", "idx", "close", seqLen)
          .drop("zvalues")
          .filter(col("scale") > 1e-6)
          .withColumn("embedding", embedding)
    }
  }

  /** Per-query forecast MAE (one row per evaluation query).
    *
    * The embedded-windows frame feeds seven consumers across
    * evaluate/forecastAndScore (corpus, queries, bounds, follow-ons,
    * targets) — persist + materialize it once. The frame belongs to the
    * running query's [[Cached]] scope, so each variant (l1, cosine,
    * summary, PCA, LSH) builds and releases its own copy.
    */
  def scoredQueries(s: SparkSession, dir: String, metric: String = "l1",
      seqLen: Int = SeqLen, predWindow: Int = PredWindow, stride: Int = Stride,
      k: Int = TopK, embedDim: Int = EmbedDim,
      lshPlanes: Option[Array[Array[Double]]] = None,
      projection: Option[Array[Array[Double]]] = None): DataFrame = {
    val wins = Cached.persist(
      embeddedWindows(filledSeries(s, dir), seqLen, embedDim, projection))
    // The materializing count doubles as the broadcast-decision hint — no
    // extra planning-time action. Post-stride queries ≈ winCount/stride;
    // the per-key stride remainder adds ≤1 per key (1024 slack covers any
    // realistic key cardinality relative to the 2^18 broadcast limit).
    val winCount = wins.count()
    val queryHint = winCount / stride + 1024
    val top = Forecast.evaluate(wins, "user_id", seqLen, predWindow, stride, k, metric,
      lshPlanes, queryCountHint = Some(queryHint))
    // broadcastTop under the same bound that broadcasts the query side
    // (round-18, §3.1): the top frame is ≤ k rows per query, and the
    // hint removes two windows-sized exchanges in forecastAndScore.
    Forecast.forecastAndScore(top, wins, "user_id", seqLen, predWindow,
      broadcastTop = queryHint <= (1L << 18))
  }

  /** The reference's actual evaluation protocol (test.ipynb cell 20):
    * per-key tail split of the SERIES; windows built within each segment
    * (never spanning the boundary); queries from the validation windows
    * against the disjoint train corpus — no overlap leakage.
    */
  def scoredQueriesSplit(series: DataFrame, metric: String = "l1",
      seqLen: Int = SeqLen, predWindow: Int = PredWindow, stride: Int = Stride,
      k: Int = TopK, embedDim: Int = EmbedDim, valRatio: Double = 0.15): DataFrame = {
    val split = Windows.withTailSplit(series, "user_id", "idx", valRatio)
    val trainWins = Cached.persist(embeddedWindows(
      split.filter(!col("is_val")).drop("is_val"), seqLen, embedDim))
    val valWins = Cached.persist(embeddedWindows(
      split.filter(col("is_val")).drop("is_val"), seqLen, embedDim))
    trainWins.count()
    val valCount = valWins.count()
    val queryHint = valCount / stride + 1024
    val top = Forecast.evaluateSplit(trainWins, valWins, "user_id",
      seqLen, predWindow, stride, k, metric,
      queryCountHint = Some(queryHint))
    Forecast.forecastAndScoreSplit(top, trainWins, valWins, "user_id", seqLen,
      predWindow, broadcastTop = queryHint <= (1L << 18))
  }

  /** A6 error summary — the driver's smoke entry (rows > 0), using the
    * leakage-free split protocol.
    */
  def forecastMae(s: SparkSession, dir: String): DataFrame =
    Forecast.errorSummary(scoredQueriesSplit(filledSeries(s, dir)))
}
