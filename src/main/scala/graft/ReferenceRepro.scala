package graft

import org.apache.spark.sql.functions._

import graft.ohlcv.{Encode, Forecast, Ingest, TimeSeriesOps, Windows}

/** Reproduce the reference's evaluation harness (notebooks/test.ipynb
  * `evaluate(256, 192, …)`, BASELINE.md) on the reference's own corpus
  * with the engine's deterministic mean-pool encoder standing in for the
  * VAE (SURVEY.md §7.4 #8: weights are out of scope, so the published
  * MAE is a ballpark anchor, not an assertion target).
  *
  * Usage: runMain graft.ReferenceRepro [metric] [all] [pca|whiten]
  *   - default: BTC-USD only (the notebook's configuration)
  *   - `all`: union of all 7 symbol CSVs, searched as ONE index space
  *     across symbols (the reference's ConcatDataset semantics, U2).
  *   - `pca`: LEARNED linear encoder instead of mean-pool — PCA fitted
  *     by Encode.pcaMatrix on the TRAIN windows' z-arrays only (the same
  *     leakage-free discipline as the reference's encoder, which is
  *     trained on train data), then applied to both sides. This is the
  *     q204 encoder at the reference's own geometry (256→64).
  *   - `whiten`: the whitened-PCA variant (Encode.whitenedPcaMatrix) —
  *     same fit discipline, components scaled to unit projection
  *     variance (isotropic latent space).
  */
object ReferenceRepro {
  def main(args: Array[String]): Unit = {
    val metric = args.headOption.getOrElse("l1")
    val allSymbols = args.contains("all")
    val useWhiten = args.contains("whiten")
    val usePca = args.contains("pca") || useWhiten
    val spark = Session.get()

    val SeqLen = 256
    val Pred = 192
    val Stride = 64 // seq_len // 4, reference test.ipynb:803
    val K = 5
    val Dim = 64
    val dataDir = "/root/reference/data/bitstamp"

    val symbols =
      if (allSymbols)
        new java.io.File(dataDir).list().filter(_.endsWith("_1h.csv")).sorted
          .map(f => f.stripSuffix("_1h.csv") -> s"$dataDir/$f").toSeq
      else Seq("BTC-USD" -> s"$dataDir/BTC-USD_1h.csv")

    val bars = symbols.map { case (sym, p) => Ingest.readCsv(spark, p, sym) }
      .reduce(_ unionByName _) // U2 multi-symbol corpus union
    val deduped = TimeSeriesOps.dedupKeepLast(bars, Seq("symbol", "datetime"),
      col("ingest_order"))
      .withColumn("idx", TimeSeriesOps.timeIdx(col("datetime"), 3600))
    val series = TimeSeriesOps.gapFillFfill(
      deduped.select(col("symbol").as("user_id"), col("idx"), col("close")),
      "user_id", "idx", Seq("close"))

    // Reference protocol: tail split per symbol; with `all`, matches may
    // come from any symbol (one concatenated index space).
    val split = Windows.withTailSplit(series, "user_id", "idx", 0.15)
    val projection =
      if (!usePca) None
      else {
        val zwins = Windows.slidingZscored(
          split.filter(!col("is_val")).drop("is_val"),
          "user_id", "idx", "close", SeqLen)
          .filter(col("scale") > 1e-6)
          .select(col("zvalues").cast("array<double>").as("z"))
        if (useWhiten)
          Some(Encode.whitenedPcaMatrix(zwins, "z", SeqLen, Dim, sampleFraction = None))
        else
          Some(Encode.pcaMatrix(zwins, "z", SeqLen, Dim, sampleFraction = None))
      }
    val trainWins = Cached.persist(Flagship.embeddedWindows(
      split.filter(!col("is_val")).drop("is_val"), SeqLen, Dim, projection))
    val valWins = Cached.persist(Flagship.embeddedWindows(
      split.filter(col("is_val")).drop("is_val"), SeqLen, Dim, projection))
    val trainCount = trainWins.count()
    val valCount = valWins.count()
    println(s"== train windows: $trainCount, val windows: $valCount")
    val top = Forecast.evaluateSplit(trainWins, valWins, "user_id",
      SeqLen, Pred, Stride, K, metric, crossKey = allSymbols,
      queryCountHint = Some(valCount / Stride + 1024))
    val scored = Forecast.forecastAndScoreSplit(top, trainWins, valWins,
      "user_id", SeqLen, Pred)
    println(s"== scored queries: ${scored.count()}")
    val summary = Forecast.errorSummary(scored).head()
    println(f"== metric=$metric MAE mean=${summary.getDouble(0)}%.4f " +
      f"std=${summary.getDouble(1)}%.4f  (reference VAE baseline: L1 2.61/2.45, " +
      "L2 2.77/2.96, cosine 2.74/2.88)")
    spark.stop()
  }
}
