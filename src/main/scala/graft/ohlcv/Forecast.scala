package graft.ohlcv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The flagship forecast query (reference `notebooks/test.ipynb` cells
  * 16–23, SURVEY.md §3.2): for each query window, find top-k similar
  * historical windows, fetch each match's follow-on window, transfer the
  * scale, ensemble the top 2, and score MAE against the true follow-on.
  *
  * Everything is one lazy plan over (windows ⨝ embeddings) — the reference
  * loops queries sequentially in Python; here all queries evaluate in one
  * broadcast-join pass.
  */
object Forecast {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Scale transfer (F7, `test.ipynb:813,820`): re-standardize the
    * follow-on by the MATCH window's (center, scale), yielding the
    * forecast in the query's z-space.
    */
  def rescale(followValues: Column, matchCenter: Column, matchScale: Column,
      eps: Double = 1e-8): Column =
    transform(followValues, v => (v - matchCenter) / (matchScale + lit(eps)))

  /** Top-2 ensemble (F8, `test.ipynb:822-823`): element-wise mean of the
    * two best forecasts, truncated to the shorter length.
    */
  def ensemble2(a: Column, b: Column): Column = {
    val l = least(size(a), size(b))
    zip_with(slice(a, lit(1), l), slice(b, lit(1), l), (x, y) => (x + y) / 2.0)
  }

  /** Mean absolute error between two arrays (A7, `test.ipynb:892`). */
  def mae(pred: Column, target: Column): Column = {
    val l = least(size(pred), size(target))
    aggregate(zip_with(slice(pred, lit(1), l), slice(target, lit(1), l), (p, t) => abs(p - t)),
      lit(0.0), (acc, x) => acc + x) / l
  }

  /** End-to-end evaluation (reference `evaluate`, `test.ipynb:799-836`):
    *
    *  1. embed all corpus windows (O3-truncated so follow-ons exist),
    *  2. queries = every `stride`-th validation window,
    *  3. k-NN top-`k` per query (self-match excluded),
    *  4. follow-on + rescale + top-2 ensemble,
    *  5. per-query MAE vs the query's own follow-on in its z-space.
    *
    * Input `embedded`: (key, start_idx, values, center, scale, embedding).
    * Returns one row per query: (key, start_idx, mae_err).
    */
  def evaluate(embedded: DataFrame, keyCol: String, seqLen: Int,
      predWindow: Int, stride: Int, k: Int, metricName: String,
      lshPlanes: Option[Array[Array[Double]]] = None,
      queryCountHint: Option[Long] = None): DataFrame =
    evaluateSplit(embedded, embedded, keyCol, seqLen, predWindow, stride, k,
      metricName, excludeSelf = true, lshPlanes = lshPlanes,
      queryCountHint = queryCountHint)

  /** Split-corpus form (the reference's actual protocol,
    * `test.ipynb` cell 20: queries come from the VALIDATION windows,
    * matches from the disjoint TRAIN windows — no overlap leakage).
    * `excludeSelf` only matters when both sides are the same frame.
    */
  /** With `crossKey`, matches may come from ANY series key — the
    * reference's multi-symbol union corpus searched as one index space
    * (U2, `train.py:42-43` ConcatDataset consumed at `test.ipynb:812`).
    */
  /** With `lshPlanes`, candidate generation is bucketed: both sides get a
    * random-hyperplane signature over the embedding and the join adds an
    * equality on it — the sub-linear search path the reference asks for
    * (`README.md:155`), with the exact metric re-ranking inside each
    * bucket. Queries whose bucket holds no candidate drop out (standard
    * ANN recall semantics); `planes` trades recall for bucket size.
    *
    * Broadcast bound: the query side is broadcast to every executor (the
    * reference protocol evaluates hundreds-to-thousands of queries, a
    * few hundred bytes each — well under any broadcast threshold). That
    * stops holding for a 100×-scale evaluation grid, so when the query
    * count exceeds `broadcastQueryLimit` (default 2^18 ≈ tens of MB at
    * embedDim 12) the broadcast hint is dropped. Over the limit the KEYED
    * path stays EXACT — the join already carries the key equi-condition,
    * so it simply becomes a shuffled equi-join with identical rows. Only
    * `crossKey = true` (no equi-condition to shuffle on) switches to the
    * q101 shape: hyperplane-LSH signatures on both sides and a shuffled
    * equi-join on the signature — bucketed candidate generation with the
    * exact metric re-rank, at standard ANN recall semantics. Because that
    * switch changes semantics (a query whose bucket holds no candidate
    * drops out), it is loudly logged when the planes are auto-derived;
    * callers wanting a deterministic bucketing pass `lshPlanes`, which
    * makes the fallback physical-only on every path.
    *
    * `queryCountHint`: a cheap caller-side estimate of the POST-STRIDE
    * query count (the flagship derives it from the window count it
    * already materializes on its persisted frame: `winCount / stride`
    * plus slack for the ≤1-per-key stride remainder). When given, the
    * broadcast decision costs no planning-time action. The branch is a
    * join-strategy heuristic: on the keyed path a wrong hint only trades
    * broadcast for a shuffled (still exact) join or vice versa; on the
    * crossKey path an overestimate can trip the ANN switch, so crossKey
    * callers should overestimate only knowingly. Without a hint the
    * operator falls back to counting `queries0` — cheap iff the caller
    * persisted the window frame.
    */
  def evaluateSplit(corpusWins: DataFrame, queryWins: DataFrame, keyCol: String,
      seqLen: Int, predWindow: Int, stride: Int, k: Int, metricName: String,
      excludeSelf: Boolean = false, crossKey: Boolean = false,
      lshPlanes: Option[Array[Array[Double]]] = None,
      broadcastQueryLimit: Long = 1L << 18,
      queryCountHint: Option[Long] = None): DataFrame = {
    val maxIdx = corpusWins.groupBy(keyCol).agg(max("start_idx").as("__max_idx"))
    // O3: corpus windows must have a full follow-on window after them.
    val corpus0 = corpusWins.join(broadcast(maxIdx), Seq(keyCol))
      .filter(col("start_idx") <= col("__max_idx") - seqLen)
      .select(col(keyCol), col("start_idx"), col("center"), col("scale"), col("embedding"))
    val qBounds = queryWins.groupBy(keyCol)
      .agg(min("start_idx").as("__min_idx"), max("start_idx").as("__qmax_idx"))
    val queries0 = queryWins.join(broadcast(qBounds), Seq(keyCol))
      .filter(((col("start_idx") - col("__min_idx")) % stride === 0) &&
        col("start_idx") <= col("__qmax_idx") - seqLen)
      .select(col(keyCol).as("q_key"), col("start_idx").as("q_start"),
        col("center").as("q_center"), col("scale").as("q_scale"),
        col("embedding").as("q_embedding"))

    val useBroadcast =
      queryCountHint.getOrElse(queries0.count()) <= broadcastQueryLimit
    // Over-limit: keyed path needs no planes (exact shuffled equi-join);
    // crossKey without caller planes auto-derives them — an exact→ANN
    // semantics switch, so warn loudly.
    val effPlanes =
      if (useBroadcast || !crossKey) lshPlanes
      else lshPlanes.orElse {
        log.warn(s"evaluateSplit: query count exceeds broadcastQueryLimit=" +
          s"$broadcastQueryLimit with crossKey=true and no lshPlanes; " +
          "auto-deriving hyperplane signatures — semantics switch from exact " +
          "k-NN to ANN (bucketed candidates, standard recall). Pass lshPlanes " +
          "to control the bucketing, or raise broadcastQueryLimit for exact.")
        val dim = corpusWins.select(size(col("embedding")).as("d")).head.getInt(0)
        Some(Encode.randomProjectionMatrix(dim, 8, 101L))
      }
    val (corpus, queries) = effPlanes match {
      case Some(mat) => (
        corpus0.withColumn("__sig", graft.sim.Lsh.hyperplaneSignature(col("embedding"), mat)),
        queries0.withColumn("__q_sig", graft.sim.Lsh.hyperplaneSignature(col("q_embedding"), mat)))
      case None => (corpus0, queries0)
    }
    val sigCond = effPlanes.map(_ => col("__sig") === col("__q_sig"))
    val hint: DataFrame => DataFrame = if (useBroadcast) broadcast else identity
    val crossed0 =
      if (crossKey) sigCond match {
        case Some(c) => corpus.join(hint(queries), c)
        // Unreachable when !useBroadcast: effPlanes is always defined
        // there, so the over-limit path never cross-joins unbucketed.
        case None => corpus.crossJoin(hint(queries))
      }
      else corpus.join(hint(queries),
        sigCond.foldLeft(col(keyCol) === col("q_key"))(_ && _))
    val crossed = (if (excludeSelf) crossed0.filter(col("start_idx") =!= col("q_start"))
      else crossed0)
      .withColumn("dist", Search.metric(metricName)(col("embedding"), col("q_embedding")))
    val w = Window.partitionBy("q_key", "q_start")
      .orderBy(col("dist").asc, col("start_idx").asc)
    val top = crossed.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
    top.select(col("q_key"), col("q_start"), col("q_center"), col("q_scale"),
      col(keyCol), col("start_idx"), col("center"), col("scale"), col("rank"))
  }

  /** Steps 4–5 of [[evaluate]] applied to its top-k output: fetch
    * follow-ons for the top-2 matches and the query itself, rescale,
    * ensemble, and score — returns (q_key, q_start, mae_err).
    */
  def forecastAndScore(topMatches: DataFrame, windows: DataFrame, keyCol: String,
      seqLen: Int, predWindow: Int, broadcastTop: Boolean = false): DataFrame =
    forecastAndScoreSplit(topMatches, windows, windows, keyCol, seqLen,
      predWindow, broadcastTop)

  /** Split form: match follow-ons come from the corpus windows, target
    * follow-ons from the query windows (identical when both frames are
    * the same — the single-corpus wrapper above).
    *
    * `broadcastTop` (round-18, guide §3.1/§2.4): the top-matches frame
    * is ≤ k rows per query while both follow-on frames are WINDOWS-sized
    * — without the hint the planner sort-merge-joins them, shuffling and
    * sorting the corpus-sized follow frames twice (q204 before-plan:
    * Exchange(102)/Exchange(118) both hashpartitioning over the windows
    * frame). When the caller knows the query count is under the same
    * bound that lets [[evaluateSplit]] broadcast the query side, hinting
    * the small side turns both joins into broadcast-hash joins and the
    * follow frames stream straight off the persisted windows cache —
    * zero corpus-sized exchanges. Row-identical either way (same inner
    * equi-joins); only the physical strategy moves.
    */
  def forecastAndScoreSplit(topMatches: DataFrame, corpusWins: DataFrame,
      queryWins: DataFrame, keyCol: String, seqLen: Int, predWindow: Int,
      broadcastTop: Boolean = false): DataFrame = {
    def followOf(wins: DataFrame) = wins.select(
      col(keyCol).as("f_key"),
      col("start_idx").as("f_start"),
      slice(col("values"), 1, predWindow).as("follow_values"))
    val follow = followOf(corpusWins)
    val followQ = followOf(queryWins)
    val hint: DataFrame => DataFrame = if (broadcastTop) broadcast else identity

    // Match-side follow-ons, rescaled into each match's own z-space.
    val matches = hint(topMatches.filter(col("rank") <= 2))
      .join(follow, col(keyCol) === col("f_key") &&
        (col("start_idx") + seqLen) === col("f_start"), "inner")
      .withColumn("forecast", rescale(col("follow_values"), col("center"), col("scale")))
    val perQuery = matches.groupBy("q_key", "q_start", "q_center", "q_scale")
      .agg(
        // ≤1 non-null per group, so first(ignoreNulls) is deterministic.
        first(when(col("rank") === 1, col("forecast")), ignoreNulls = true).as("f1"),
        first(when(col("rank") === 2, col("forecast")), ignoreNulls = true).as("f2"))
      .withColumn("forecast",
        when(col("f2").isNull, col("f1")).otherwise(ensemble2(col("f1"), col("f2"))))

    // Query-side target follow-on, rescaled into the QUERY's z-space.
    val withTarget = hint(perQuery)
      .join(followQ, col("q_key") === col("f_key") &&
        (col("q_start") + seqLen) === col("f_start"), "inner")
      .withColumn("target", rescale(col("follow_values"), col("q_center"), col("q_scale")))
    withTarget.select(col("q_key"), col("q_start"),
      mae(col("forecast"), col("target")).as("mae_err"))
  }

  /** A6: mean / population-std of the per-query errors. */
  def errorSummary(scored: DataFrame): DataFrame =
    scored.agg(avg("mae_err").as("err_mean"), stddev_pop("mae_err").as("err_std"))
}
