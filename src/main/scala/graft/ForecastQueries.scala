package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{hourlyResampled, HourlyCloseCte, Q}
import graft.Rounding.{pround, sqlRound}
import graft.ohlcv.HoltWinters

/** Classical forecasting / risk analytics over the hourly bars — the
  * statsmodels-adjacent surface a user of the reference pipeline reaches
  * for next (ref: core/forecast's eval loop): Holt double-exponential
  * smoothing, drawdown, autocorrelation, market beta and return/risk
  * summaries. All are one-shuffle plans: the bar resample shuffles on
  * user_id and every subsequent window/aggregate reuses that
  * partitioning.
  */
object ForecastQueries {

  private def w = Window.partitionBy("user_id").orderBy("bucket_s")

  /** Deterministic Rademacher (±1) sign matrix (splitmix64 bits) for
    * integer-exact sign-random-projection signatures: dots against ±1
    * entries stay BIGINT-exact, so the cohort hash is order-free and
    * engine-portable — no float fold anywhere in the blocking key.
    */
  private def rademacherSigns(dim: Int, planes: Int): Array[Array[Long]] =
    Array.tabulate(planes, dim)((b, i) =>
      if (((graft.ohlcv.Encode.splitmix(b * 7919L + i + 1L) >>> 17) & 1L) == 1L) 1L else -1L)

  private val forecasting: Seq[Q] = Seq(
    // Holt linear-trend smoothing (α=.5, β=.25 — exactly representable,
    // so the oracle's folded constants are bit-identical): fitted level,
    // trend and one-step forecast per bar, via one ordered scan per key.
    Q("q163_holt",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        HoltWinters.withHolt(hc, "user_id", "bucket_s", "close",
            alpha = 0.5, beta = 0.25)
          .select(col("user_id"), col("bucket_s"),
            pround(col("level"), 4).as("level"),
            pround(col("trend"), 4).as("trend"),
            pround(col("level") + col("trend"), 4).as("yhat"))
          .orderBy("user_id", "bucket_s")
      },
      // Same recurrence, same operation order, carried as (l, b) columns
      // through a recursive CTE.
      Some(s"""WITH RECURSIVE $HourlyCloseCte,
              |ord AS (SELECT user_id, bucket_s, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM agg),
              |rec AS (
              |  SELECT user_id, bucket_s, close, rn,
              |    close AS l, CAST(0 AS DOUBLE) AS b FROM ord WHERE rn = 1
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
              |    0.5 * o.close + (1 - 0.5) * (r.l + r.b),
              |    0.25 * ((0.5 * o.close + (1 - 0.5) * (r.l + r.b)) - r.l)
              |      + (1 - 0.25) * r.b
              |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
              |SELECT user_id, bucket_s, ${sqlRound("l", 4)} AS level,
              |  ${sqlRound("b", 4)} AS trend, ${sqlRound("l + b", 4)} AS yhat
              |FROM rec ORDER BY user_id, bucket_s""".stripMargin)),

    // Maximum drawdown per user: running peak then min(close/peak − 1).
    // Pure window + aggregate — no fp-order sensitivity (max/min/divide
    // are order-independent), so no co-moment rounding risk.
    Q("q164_drawdown",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
        hc.withColumn("runmax", max(col("close")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("dd", col("close") / col("runmax") - 1)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            pround(max(col("close")), 6).as("peak"),
            pround(min(col("dd")), 6).as("max_drawdown"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |dd AS (SELECT user_id, close,
              |    close / max(close) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS dd
              |  FROM agg)
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
              |  ${sqlRound("max(close)", 6)} AS peak,
              |  ${sqlRound("min(dd)", 6)} AS max_drawdown
              |FROM dd GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Autocorrelation of the close at lags 1–3 per user (the ACF panel an
    // AR-order pick reads). corr() skips null pairs in both engines, so
    // the first k bars fall out of lag-k identically.
    Q("q165_acf",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        hc.withColumn("l1", lag(col("close"), 1).over(w))
          .withColumn("l2", lag(col("close"), 2).over(w))
          .withColumn("l3", lag(col("close"), 3).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            pround(corr(col("close"), col("l1")), 6).as("acf1"),
            pround(corr(col("close"), col("l2")), 6).as("acf2"),
            pround(corr(col("close"), col("l3")), 6).as("acf3"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |lagged AS (SELECT user_id, close,
              |    lag(close, 1) OVER w AS l1, lag(close, 2) OVER w AS l2,
              |    lag(close, 3) OVER w AS l3
              |  FROM agg WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s))
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
              |  ${sqlRound("corr(close, l1)", 6)} AS acf1,
              |  ${sqlRound("corr(close, l2)", 6)} AS acf2,
              |  ${sqlRound("corr(close, l3)", 6)} AS acf3
              |FROM lagged GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Market beta per user: the "market" is the cross-sectional mean
    // close per hour; β = covar_pop(close, mkt) / var_pop(mkt) over the
    // user's observed hours. One extra tiny aggregate + broadcast-sized
    // join on bucket_s.
    Q("q166_beta",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        // The market mean is folded over integer micro-units so both
        // engines hand the SAME doubles to the covariance (a raw double
        // avg differs at 1e-16 with aggregation order and can flip the
        // rounded beta).
        val mkt = hc
          .withColumn("c_q", floor(col("close") * 1e6 + 0.5).cast("long"))
          .groupBy("bucket_s")
          .agg((sum(col("c_q")).cast("double") / count(lit(1)) / 1e6).as("mkt"))
        hc.join(broadcast(mkt), "bucket_s")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            pround(covar_pop(col("close"), col("mkt")) /
              var_pop(col("mkt")), 6).as("beta"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |mkt AS (SELECT bucket_s,
              |    CAST(sum(CAST(floor(close * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
              |      / count(*) / 1e6 AS mkt
              |  FROM agg GROUP BY bucket_s)
              |SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_bars,
              |  ${sqlRound("covar_pop(a.close, m.mkt) / var_pop(m.mkt)", 6)} AS beta
              |FROM agg a JOIN mkt m USING (bucket_s)
              |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin)),

    // Return/risk summary per user: hourly log returns → mean, population
    // volatility, annualized Sharpe (rf = 0, 8760 hourly bars/year).
    Q("q167_risk",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
        hc.withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_rets"),
            pround(avg(col("r")), 6).as("mean_r"),
            pround(stddev_pop(col("r")), 6).as("vol"),
            pround(when(stddev_pop(col("r")) > 0,
              avg(col("r")) / stddev_pop(col("r")) * sqrt(lit(8760.0))), 6)
              .as("sharpe"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id,
              |    ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s)) AS r
              |  FROM (SELECT * FROM agg WHERE close > 0))
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_rets,
              |  ${sqlRound("avg(r)", 6)} AS mean_r,
              |  ${sqlRound("stddev_pop(r)", 6)} AS vol,
              |  ${sqlRound(
                  "CASE WHEN stddev_pop(r) > 0 THEN avg(r) / stddev_pop(r) * sqrt(8760.0) END",
                  6)} AS sharpe
              |FROM r WHERE r IS NOT NULL
              |GROUP BY user_id ORDER BY user_id""".stripMargin)))

  private val backtest: Seq[Q] = Seq(
    // Walk-forward backtest of two leakage-free one-step forecasters —
    // naive (last close) and SMA(5) — over every bar past the warm-up.
    // Both predictions are strict-history window frames (1..5 PRECEDING,
    // never CURRENT ROW), the distributed form of the reference's
    // stride-eval loop; MAE folds per user in one aggregate.
    Q("q169_walkforward",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        // All cross-row folds run over integer micro-units (exact, so
        // the engines' different summation orders cannot move a rounding
        // boundary): the SMA is an integer sum / 5, and both MAEs sum
        // quantized absolute errors.
        val hist = w.rowsBetween(-5, -1)
        hc.withColumn("c_q", floor(col("close") * 1e6 + 0.5).cast("long"))
          .withColumn("naive", lag(col("close"), 1).over(w))
          .withColumn("sma5",
            when(count(col("close")).over(hist) === 5,
              sum(col("c_q")).over(hist).cast("double") / 5 / 1e6))
          .filter(col("sma5").isNotNull)
          .withColumn("en_q",
            floor(abs(col("close") - col("naive")) * 1e6 + 0.5).cast("long"))
          .withColumn("es_q",
            floor(abs(col("close") - col("sma5")) * 1e6 + 0.5).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_eval"),
            pround(sum(col("en_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mae_naive"),
            pround(sum(col("es_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mae_sma5"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |q AS (SELECT user_id, bucket_s, close,
              |    CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS c_q FROM agg),
              |p AS (SELECT user_id, close,
              |    lag(close, 1) OVER w AS naive,
              |    CASE WHEN count(close) OVER h = 5
              |      THEN CAST(sum(c_q) OVER h AS DOUBLE) / 5 / 1e6 END AS sma5
              |  FROM q
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s),
              |    h AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING))
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(abs(close - naive) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e6",
                  6)} AS mae_naive,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(abs(close - sma5) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e6",
                  6)} AS mae_sma5
              |FROM p WHERE sma5 IS NOT NULL
              |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Classical seasonal decomposition (decompose(model="additive")):
    // trend = centered 24-bar moving average, seasonal = per-(user,
    // hour-of-day) mean of the detrended series, residual = remainder.
    // Two window passes over one user_id shuffle — the seasonal mean is
    // a window over (user, hod), not a join.
    Q("q170_seasonal",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          .withColumn("hod", ((col("bucket_s") % 86400) / 3600).cast("long"))
        val cw = w.rowsBetween(-12, 11)
        val sw = Window.partitionBy("user_id", "hod")
        // The trend is ROUNDED before detrending: the two engines'
        // sliding-window summation strategies differ at ~1e-13, and the
        // seasonal mean would amplify that onto rounding boundaries.
        // Rounding first makes the detrended series bit-identical.
        hc.withColumn("trend",
            pround(when(count(col("close")).over(cw) === 24,
              avg(col("close")).over(cw)), 6))
          .filter(col("trend").isNotNull)
          .withColumn("det", col("close") - col("trend"))
          // Seasonal mean over integer micro-units: a BIGINT sum is
          // order-independent, unlike a double sum, so the two engines'
          // aggregation orders cannot produce off-by-one roundings.
          .withColumn("det_q", floor(col("det") * 1e6 + 0.5).cast("long"))
          .withColumn("seasonal",
            sum(col("det_q")).over(sw).cast("double") /
              count(lit(1)).over(sw) / 1e6)
          .select(col("user_id"), col("bucket_s"), col("trend"),
            pround(col("seasonal"), 6).as("seasonal"),
            pround(col("det") - col("seasonal"), 6).as("resid"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH $HourlyCloseCte,
              |t AS (SELECT user_id, bucket_s, close,
              |    (bucket_s % 86400) // 3600 AS hod,
              |    ${sqlRound(
                   "CASE WHEN count(close) OVER c = 24 THEN avg(close) OVER c END",
                   6)} AS trend
              |  FROM agg
              |  WINDOW c AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
              |dt AS (SELECT user_id, bucket_s, hod, trend, close - trend AS det,
              |    CAST(floor((close - trend) * 1e6 + 0.5) AS BIGINT) AS det_q
              |  FROM t WHERE trend IS NOT NULL),
              |sz AS (SELECT user_id, bucket_s, trend, det,
              |    CAST(sum(det_q) OVER p AS DOUBLE) / count(*) OVER p / 1e6 AS seasonal
              |  FROM dt WINDOW p AS (PARTITION BY user_id, hod))
              |SELECT user_id, bucket_s, trend,
              |  ${sqlRound("seasonal", 6)} AS seasonal,
              |  ${sqlRound("det - seasonal", 6)} AS resid
              |FROM sz ORDER BY user_id, bucket_s""".stripMargin)))

  private val panel: Seq[Q] = Seq(
    // Event study (MacKinlay 1997's CAR panel, public): the average
    // hourly log return at offsets −3..+3 around each purchase event.
    // Shape: explode 7 offsets per event, equi-join on (user, bucket) —
    // one shuffle; the per-offset mean folds over integer micro-units so
    // the cross-row summation order can't move a rounding boundary.
    Q("q171_event_study",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("r_q", floor(col("r") * 1e9 + 0.5).cast("long"))
          .select("user_id", "bucket_s", "r_q")
        val ev = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            (ceil(col("ts").cast("double") / 3600) * 3600).cast("long")
              .as("ebucket"))
        ev.withColumn("off", explode(expr("sequence(-3, 3)")))
          .withColumn("bucket_s", col("ebucket") + col("off") * 3600L)
          .join(hc, Seq("user_id", "bucket_s"))
          .groupBy("off")
          .agg(count(lit(1)).as("n_obs"),
            pround(sum(col("r_q")).cast("double") / count(lit(1)) / 1e9, 6)
              .as("avg_r"))
          .orderBy("off")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s))) * 1e9 + 0.5) AS BIGINT) AS r_q
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |ev AS (SELECT user_id,
              |    CAST(ceil(epoch(ts) / 3600) * 3600 AS BIGINT) AS ebucket
              |  FROM events WHERE event_type = 'purchase'),
              |x AS (SELECT ev.user_id, u AS off, ev.ebucket + u * 3600 AS bucket_s
              |  FROM ev, UNNEST(range(-3, 4)) AS t(u))
              |SELECT x.off, CAST(count(*) AS BIGINT) AS n_obs,
              |  ${sqlRound("CAST(sum(r.r_q) AS DOUBLE) / count(*) / 1e9", 6)} AS avg_r
              |FROM x JOIN r ON x.user_id = r.user_id AND x.bucket_s = r.bucket_s
              |WHERE r.r_q IS NOT NULL
              |GROUP BY x.off ORDER BY x.off""".stripMargin)),

    // Winsorized cleaning stats per event type: exact p01/p99 fences
    // (both engines interpolate quantiles identically on identical
    // sorted data; fences are ROUNDED before use so a 1-ulp
    // interpolation difference cannot flip a clip decision), clipped
    // mean over micro-units, and the clipped-row count.
    Q("q172_winsorize",
      (s, d) => {
        val e = Tables.events(s, d).select("event_type", "value")
        val fences = e.groupBy("event_type")
          .agg(pround(expr("percentile(value, 0.01)"), 6).as("p01"),
            pround(expr("percentile(value, 0.99)"), 6).as("p99"))
        e.join(broadcast(fences), "event_type")
          .withColumn("clipped",
            least(greatest(col("value"), col("p01")), col("p99")))
          .withColumn("c_q", floor(col("clipped") * 1e6 + 0.5).cast("long"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum((col("value") < col("p01") || col("value") > col("p99"))
              .cast("long")).as("n_clipped"),
            first(col("p01")).as("p01"), first(col("p99")).as("p99"),
            pround(sum(col("c_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mean_winsorized"))
          .orderBy("event_type")
      },
      Some(s"""WITH f AS (SELECT event_type,
              |    ${sqlRound("quantile_cont(value, 0.01)", 6)} AS p01,
              |    ${sqlRound("quantile_cont(value, 0.99)", 6)} AS p99
              |  FROM events GROUP BY event_type),
              |c AS (SELECT e.event_type, e.value, f.p01, f.p99,
              |    least(greatest(e.value, f.p01), f.p99) AS clipped
              |  FROM events e JOIN f USING (event_type))
              |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN value < p01 OR value > p99 THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_clipped,
              |  any_value(p01) AS p01, any_value(p99) AS p99,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(clipped * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e6",
                  6)} AS mean_winsorized
              |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // AR(1) fit-and-forecast with a leakage-free 80/20 tail split (the
    // reference's train/val discipline): μ and φ come from the TRAIN
    // head only (Yule-Walker: φ = covar_pop/var_pop of consecutive
    // returns), are rounded before use, then score the held-out tail
    // with x̂_t = μ + φ·(x_{t−1} − μ).
    Q("q174_ar1_forecast",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
          .withColumn("rprev", lag(col("r"), 1).over(w))
          .withColumn("cut", floor(col("n") * 0.8).cast("long"))
        val fit = hc.filter(col("rn") <= col("cut") && col("rprev").isNotNull)
          .groupBy("user_id")
          .agg(pround(avg(col("r")), 6).as("mu"),
            pround(covar_pop(col("r"), col("rprev")) / var_pop(col("rprev")), 6)
              .as("phi"))
        hc.filter(col("rn") > col("cut") && col("rprev").isNotNull)
          .join(fit, "user_id")
          .withColumn("err",
            abs(col("r") - (col("mu") + col("phi") * (col("rprev") - col("mu")))))
          .withColumn("e_q", floor(col("err") * 1e9 + 0.5).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_eval"), first(col("mu")).as("mu"),
            first(col("phi")).as("phi"),
            pround(sum(col("e_q")).cast("double") / count(lit(1)) / 1e9, 6)
              .as("mae"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    ln(close) - ln(lag(close, 1) OVER uw) AS r
              |  FROM (SELECT * FROM agg WHERE close > 0) WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |rr AS (SELECT user_id, bucket_s, r,
              |    row_number() OVER uw AS rn,
              |    count(*) OVER (PARTITION BY user_id) AS n,
              |    lag(r, 1) OVER uw AS rprev
              |  FROM r WHERE r IS NOT NULL
              |  WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |fit AS (SELECT user_id,
              |    ${sqlRound("avg(r)", 6)} AS mu,
              |    ${sqlRound("covar_pop(r, rprev) / var_pop(rprev)", 6)} AS phi
              |  FROM rr
              |  WHERE rn <= CAST(floor(n * 0.8) AS BIGINT) AND rprev IS NOT NULL
              |  GROUP BY user_id),
              |ev AS (SELECT rr.user_id,
              |    abs(rr.r - (f.mu + f.phi * (rr.rprev - f.mu))) AS err,
              |    f.mu, f.phi
              |  FROM rr JOIN fit f USING (user_id)
              |  WHERE rr.rn > CAST(floor(rr.n * 0.8) AS BIGINT)
              |    AND rr.rprev IS NOT NULL)
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_eval,
              |  any_value(mu) AS mu, any_value(phi) AS phi,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(err * 1e9 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e9",
                  6)} AS mae
              |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin)))

  private val streamed: Seq[Q] = Seq(
    // Streaming Holt: the q163 recurrence running INSIDE Structured
    // Streaming with (level, trend, n) state across micro-batches
    // (flatMapGroupsWithState), one AvailableNow pass over the raw event
    // stream — checked against the same recursive-CTE formulation the
    // batch operator passes. Same µs-truncation-before-fold discipline
    // as q106 (the oracle orders by µs-resolution TIMESTAMP).
    Q("q175_stream_holt",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        val stream = StreamHarness.eventStream(s, d)
        val holt = StreamingIngest.streamingHolt(stream, "user_id", "ts_us",
          "event_id", "value", alpha = 0.5, beta = 0.25, minPeriods = 10)
        StreamHarness.runMemory(holt, "q175") { t =>
          t.filter(col("level").isNotNull)
            .select(col("key").as("user_id"), col("ts").as("ts_us"),
              pround(col("level"), 6).as("level"),
              pround(col("trend"), 6).as("trend"))
            .orderBy("user_id", "ts_us")
        }
      },
      Some(s"""WITH RECURSIVE ord AS (
              |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
              |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              |  FROM events),
              |rec AS (
              |  SELECT user_id, ts_us, value, rn,
              |    value AS l, CAST(0 AS DOUBLE) AS b FROM ord WHERE rn = 1
              |  UNION ALL
              |  SELECT o.user_id, o.ts_us, o.value, o.rn,
              |    0.5 * o.value + (1 - 0.5) * (r.l + r.b),
              |    0.25 * ((0.5 * o.value + (1 - 0.5) * (r.l + r.b)) - r.l)
              |      + (1 - 0.25) * r.b
              |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
              |SELECT user_id, ts_us, ${sqlRound("l", 6)} AS level,
              |  ${sqlRound("b", 6)} AS trend
              |FROM rec WHERE rn >= 10 ORDER BY user_id, ts_us""".stripMargin)))

  // ------------------------------------------------------------------
  // Pair-correlation cores (q177 exact / q207 cohort-LSH screen); their
  // recall at the significance bar is in SCALING.md "Recall at the
  // significance bar (round 7)".
  // ------------------------------------------------------------------

  /** Quantized hourly log returns: (user_id, bucket_s, r_q). */
  private def pairReturns(s: SparkSession, d: String): DataFrame =
    hourlyResampled(s, d, emitEmpty = false)
      .select("user_id", "bucket_s", "close")
      // Zero prices break log-returns (DuckDB ln(0) errors; Spark
      // log(0) is NULL) — both engines drop them before the lag.
      .filter(col("close") > 0)
      .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
      .filter(col("r").isNotNull)
      .withColumn("r_q", floor(col("r") * 1e6 + 0.5).cast("long"))
      .select("user_id", "bucket_s", "r_q")

  /** Result-preserving support floor: a pair needs n ≥ minSupport shared
    * hours and n ≤ min(|u|, |v|), so users with fewer than minSupport
    * returns can never appear in any output pair — prune them BEFORE
    * pairing. Keyed on user_id, the partitioning the lag window already
    * established, so the floor join adds no extra shuffle stage.
    */
  private def denseUsers(r0: DataFrame, minSupport: Int): DataFrame = {
    val support = r0.groupBy("user_id")
      .agg(count(lit(1)).as("__cnt")).filter(col("__cnt") >= minSupport)
      .select("user_id")
    r0.join(support, "user_id")
  }

  /** Exact integer co-moments → Pearson corr → deterministic top-k. */
  private def pairTopCorr(pairs: DataFrame, minSupport: Int, k: Int): DataFrame =
    pairs.groupBy("u", "v")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .filter(col("n") >= minSupport)
      .withColumn("corr", pround(
        (col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6))
      .orderBy(col("corr").desc, col("u").asc, col("v").asc).limit(k)
      .select("u", "v", "n", "corr")

  /** Exact all-pairs Pearson screen (q177's core), parameterized by the
    * support floor so the recall harness can raise it to the
    * significance bar (n ≥ 24) at scale.
    */
  private[graft] def pairCorrExact(s: SparkSession, d: String,
      minSupport: Int = 8, k: Int = 20): DataFrame = {
    val r = denseUsers(pairReturns(s, d), minSupport)
    val pairs = r.as("a").join(r.as("b"),
        col("a.bucket_s") === col("b.bucket_s") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"),
        col("a.r_q").as("x"), col("b.r_q").as("y"))
    pairTopCorr(pairs, minSupport, k)
  }

  /** Planes per cohort table for U users at target bucket size B: the
    * smallest P with 2^P ≥ ⌈U/B⌉, floored at 4. 2^P cohorts per table
    * keep E|cohort| ≈ B constant as U grows, so q207's pair fan-out
    * T·Σ|cohort|² ≈ T·U·B stays LINEAR in U, while a random pair's
    * per-table collision probability 2^-P = B/U vanishes with U.
    *
    * B defaults to 1 (2^P ≥ U), NOT the 8 the bucket metaphor suggests:
    * the screen's dominant cost is candidate pairs × series length, and
    * random-collision pairs ≈ C(U,2)·T·2^-P ≈ U·T·B/2 — every unit of B
    * multiplies the candidate list, and each candidate drags its whole
    * return series through the co-moment join. Measured at sf0.1
    * (U = 1500, series ≈ 670 buckets): B=8 (P=8) admits ~68k random
    * pairs → 25.4 s; B=1 (P=11) admits ~9k → the fan-out constant is
    * T/2 pairs per user. Truly-correlated pairs are unaffected — equal
    * profiles hash together at any P. Pinned by CohortPlanesSpec.
    */
  private[graft] def cohortPlanes(users: Long, targetBucket: Long = 1L): Int = {
    require(users >= 1 && targetBucket >= 1, "users and targetBucket must be >= 1")
    val q = (users + targetBucket - 1) / targetBucket
    val p = if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.max(4, p)
  }

  /** q207's derived P(U) per sf dir, for its dynamic oracle. */
  private[graft] val CohortPlaneCounts = new Fits.Slot[Int]

  /** Cohort-LSH pair-correlation screen (q207's core): T signature
    * tables of P sign-projections each; candidates are cohort
    * collisions; the exact integer-co-moment correlation scores only
    * candidates. Parameterized so the recall harness can raise the
    * support floor and sweep P.
    */
  /** Dense quantized-return rows with the time-folded dimension column —
    * stage 1 of [[pairCorrLsh]] (stage walls: PLANS.md "Round 10 —
    * q207_pair_corr_lsh stage profile + trim").
    */
  private[graft] def lshDense(s: SparkSession, d: String, minSupport: Int,
      dim: Int): DataFrame =
    denseUsers(pairReturns(s, d), minSupport)
      .withColumn("dim", expr(s"cast((bucket_s div 3600) % $dim as int)"))

  /** Per-(user, table) cohort signatures — stage 2 of [[pairCorrLsh]].
    * One tiny row per (user, table): candidate generation never touches
    * the fact rows — OR-amplification across T tables recovers the
    * recall a single 2^P-bucket table loses.
    */
  private[graft] def lshSigs(r: DataFrame, p: Int, t: Int, dim: Int): DataFrame = {
    val signs = rademacherSigns(dim, p * t)
    val sigCols = (0 until p * t).map(b =>
      sum(element_at(array(signs(b).map(lit): _*), col("dim") + 1) * col("r_q"))
        .as(s"__s$b"))
    r.groupBy("user_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("user_id"), explode(array((0 until t).map { tt =>
        struct(lit(tt).as("t"),
          (0 until p).map(b =>
            when(col(s"__s${tt * p + b}") >= 0, lit(1L << b)).otherwise(lit(0L)))
            .reduce(_ + _).as("sig"))
      }: _*)).as("ts"))
      .select(col("user_id"), col("ts.t").as("t"), col("ts.sig").as("sig"))
  }

  /** Distinct colliding user pairs — stage 3 of [[pairCorrLsh]]. */
  private[graft] def lshCand(sigs: DataFrame): DataFrame =
    sigs.as("a").join(sigs.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()

  private[graft] def pairCorrLsh(s: SparkSession, d: String,
      minSupport: Int = 8, p: Int = 10, t: Int = 16, dim: Int = 64,
      k: Int = 20): DataFrame = {
    // The dense-returns subtree (scan → resample → lag window → support
    // prune) feeds FOUR plan consumers (both signature self-join sides
    // via sigs, ra, rb); without a persist Spark computes it four times
    // (no ReusedExchange fires — the consumers sit under different join
    // operators; measured 4.1 s → 2.0 s standalone at sf0.1, PLANS.md
    // "Round 10 — q207_pair_corr_lsh stage profile + trim"). Both frames
    // are small: r is the pruned per-(user, hour) return table, sigs is
    // U × T rows. The eager sigs.count() materializes both in one tiny
    // job so the main job's concurrent consumers can't race the cache
    // fill.
    val r = Cached.persist(lshDense(s, d, minSupport, dim))
    val sigs = Cached.persist(lshSigs(r, p, t, dim))
    sigs.count()
    val cand = lshCand(sigs)
    val ra = r.select(col("user_id").as("u"), col("bucket_s"), col("r_q").as("x"))
    val rb = r.select(col("user_id").as("v"), col("bucket_s"), col("r_q").as("y"))
    val pairs = broadcast(cand).join(ra, "u").join(rb, Seq("v", "bucket_s"))
    pairTopCorr(pairs, minSupport, k)
  }

  /** DuckDB mirror of [[pairCorrLsh]] for the given parameters. */
  private def pairCorrLshSql(minSupport: Int, p: Int, t: Int = 16,
      dim: Int = 64, k: Int = 20): String = {
    val signs = rademacherSigns(dim, p * t)
    def sigSql(b: Int): String = {
      val lst = signs(b).mkString("[", ", ", "]")
      s"(CASE WHEN sum($lst[((bucket_s // 3600) % $dim) + 1] * r_q) >= 0 THEN ${1L << (b % p)} ELSE 0 END)"
    }
    val tables = (0 until t).map { tt =>
      s"""SELECT user_id, $tt AS t,
         |    ${(0 until p).map(b => sigSql(tt * p + b)).mkString(" + ")} AS sig
         |  FROM rr GROUP BY user_id""".stripMargin
    }.mkString("\n|  UNION ALL\n|  ")
    s"""WITH $HourlyCloseCte,
       |r AS (SELECT user_id, bucket_s,
       |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
       |      ORDER BY bucket_s))) * 1e6 + 0.5) AS BIGINT) AS r_q
       |  FROM (SELECT * FROM agg WHERE close > 0)),
       |rr0 AS (SELECT user_id, bucket_s, r_q FROM r WHERE r_q IS NOT NULL),
       |dense AS (SELECT user_id FROM rr0 GROUP BY user_id
       |  HAVING count(*) >= $minSupport),
       |rr AS (SELECT rr0.* FROM rr0 JOIN dense USING (user_id)),
       |sg AS ($tables),
       |cand AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
       |  FROM sg a JOIN sg b
       |  ON a.t = b.t AND a.sig = b.sig AND a.user_id < b.user_id),
       |p AS (SELECT c.u, c.v, ra.r_q AS x, rb.r_q AS y
       |  FROM cand c
       |  JOIN rr ra ON ra.user_id = c.u
       |  JOIN rr rb ON rb.user_id = c.v AND rb.bucket_s = ra.bucket_s),
       |m AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
       |    CAST(sum(x * y) AS BIGINT) AS sxy,
       |    CAST(sum(x * x) AS BIGINT) AS sxx,
       |    CAST(sum(y * y) AS BIGINT) AS syy
       |  FROM p GROUP BY u, v HAVING count(*) >= $minSupport)
       |SELECT u, v, n, ${sqlRound(
         """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
            sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
              (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""",
         6)} AS corr
       |FROM m ORDER BY corr DESC, u ASC, v ASC LIMIT $k""".stripMargin
  }

  private val crossSection: Seq[Q] = Seq(
    // Most-correlated user pairs: Pearson corr of hourly log returns on
    // shared hours, computed from EXACT integer co-moments (quantized
    // returns; the five sums are BIGINTs, the corr formula is the only
    // float math) — deterministic on any engine or aggregation order.
    // Shape: support-floor prune → self-equi-join on bucket_s (the
    // cross-sectional blocking key) → pair aggregation → top-20
    // TakeOrdered. The SUPPORT FLOOR is result-preserving: a pair needs
    // n ≥ 8 shared hours, and n ≤ min(|u|, |v|), so users with fewer
    // than 8 returns can never appear in the output — dropping them
    // BEFORE the pair join prunes the sparse long tail (most of a real
    // corpus) from the quadratic fan-out without changing a single row.
    // The pair space over the surviving dense users remains inherently
    // quadratic — exact all-pairs correlation admits no sub-quadratic
    // plan — hence the `scaleLimited` annotation pointing at q207's
    // cohort-LSH screen as the 100×-scale path (SCALING.md: 26.6× vs
    // 5.1× wall-clock at 10× users).
    Q("q177_pair_corr",
      (s, d) => pairCorrExact(s, d, minSupport = 8),
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s))) * 1e6 + 0.5) AS BIGINT) AS r_q
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |rr0 AS (SELECT user_id, bucket_s, r_q FROM r WHERE r_q IS NOT NULL),
              |dense AS (SELECT user_id FROM rr0 GROUP BY user_id
              |  HAVING count(*) >= 8),
              |rr AS (SELECT rr0.* FROM rr0 JOIN dense USING (user_id)),
              |p AS (SELECT a.user_id AS u, b.user_id AS v,
              |    a.r_q AS x, b.r_q AS y
              |  FROM rr a JOIN rr b
              |  ON a.bucket_s = b.bucket_s AND a.user_id < b.user_id),
              |m AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n,
              |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
              |    CAST(sum(x * y) AS BIGINT) AS sxy,
              |    CAST(sum(x * x) AS BIGINT) AS sxx,
              |    CAST(sum(y * y) AS BIGINT) AS syy
              |  FROM p GROUP BY u, v HAVING count(*) >= 8)
              |SELECT u, v, n, ${sqlRound(
                 """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))""",
                 6)} AS corr
              |FROM m ORDER BY corr DESC, u ASC, v ASC LIMIT 20""".stripMargin),
      scaleLimited = Some("q207_pair_corr_lsh")),

    // The SCALE PATH for q177 (SCALING.md: q177's all-pairs join is the
    // one measured curve-up, 26× wall-clock at 10× users): users first
    // hash into cohorts by the SIGN of Rademacher (±1) projections of
    // their time-folded quantized-return profile — exact BIGINT dots, so
    // the signature is order-free and bit-identical on any engine — and
    // the exact integer-co-moment correlation runs only WITHIN cohorts
    // (pairCorrLsh). Pair fan-out drops from C(U,2) to T·Σ|cohort|², and
    // P is DERIVED FROM THE CORPUS at run time: P(U) = cohortPlanes(U)
    // holds 2^P ≥ U, so the random-pair fan-out stays LINEAR in U at
    // ~T/2 candidates per user while a random pair's per-table collision
    // probability 2^-P ≤ 1/U vanishes — a constant P does neither (the
    // P=4 lesson: 64% of random pairs collided somewhere across 16
    // tables; the B=8 lesson: at U=1500 even E|cohort| ≈ 8 admits ~68k
    // random pairs whose series-length join cost dwarfs the signatures).
    // The dynamic oracle embeds the derived P, so the hash check covers
    // the P(U) wiring itself. Standard ANN recall semantics: pairs are
    // scored iff hashed together — sustained co-movement collides by
    // construction; recall measured at 10× with the support floor raised
    // to n ≥ 24 (where exact truth is signal, not 8-sample accidents) is
    // in SCALING.md "Recall at the significance bar (round 7)".
    Q("q207_pair_corr_lsh",
      (s, d) => {
        // One cheap column-pruned distinct-count of users — the screen's
        // only planning action (parameter learning, like q204's PCA fit).
        val users = Tables.events(s, d).select("user_id").distinct().count()
        val p = cohortPlanes(users)
        CohortPlaneCounts.put(d, p)
        pairCorrLsh(s, d, minSupport = 8, p = p)
      },
      oracle = None,
      oracleDyn = Some(() =>
        CohortPlaneCounts.oracle("q207")(p => pairCorrLshSql(minSupport = 8, p = p)))),

    // Lo–MacKinlay variance-ratio test statistic VR(q) = var(q-period
    // returns)/(q·var(1-period)) per user for q ∈ {2, 4} — the classic
    // random-walk diagnostic. Both variances come from exact integer
    // sums of quantized returns (population form), so VR is
    // order-independent; the q-period return is a strict window sum of
    // the SAME quanta, never a recomputed float.
    Q("q178_variance_ratio",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("r_q", floor(col("r") * 1e6 + 0.5).cast("long"))
        def varExact(sumC: org.apache.spark.sql.Column,
            sumSq: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
          (n.cast("double") * sumSq.cast("double") -
            sumC.cast("double") * sumC.cast("double")) /
            (n.cast("double") * n.cast("double"))
        val agg1 = r.groupBy("user_id")
          .agg(count(lit(1)).as("n1"), sum(col("r_q")).as("s1"),
            sum(col("r_q") * col("r_q")).as("ss1"))
        def aggQ(q: Int) = {
          val frame = w.rowsBetween(-(q - 1), 0)
          r.withColumn("cnt", count(col("r_q")).over(frame))
            .withColumn("rq", sum(col("r_q")).over(frame))
            .filter(col("cnt") === q)
            .groupBy("user_id")
            .agg(count(lit(1)).as(s"n$q"), sum(col("rq")).as(s"s$q"),
              sum(col("rq") * col("rq")).as(s"ss$q"))
        }
        agg1.join(aggQ(2), "user_id").join(aggQ(4), "user_id")
          .select(col("user_id"), col("n1"),
            pround(varExact(col("s2"), col("ss2"), col("n2")) /
              (lit(2.0) * varExact(col("s1"), col("ss1"), col("n1"))) / 1.0, 6)
              .as("vr2"),
            pround(varExact(col("s4"), col("ss4"), col("n4")) /
              (lit(4.0) * varExact(col("s1"), col("ss1"), col("n1"))) / 1.0, 6)
              .as("vr4"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s))) * 1e6 + 0.5) AS BIGINT) AS r_q
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |rr AS (SELECT user_id, bucket_s, r_q FROM r WHERE r_q IS NOT NULL),
              |win AS (SELECT user_id, bucket_s, r_q,
              |    count(r_q) OVER f2 AS c2, CAST(sum(r_q) OVER f2 AS BIGINT) AS q2,
              |    count(r_q) OVER f4 AS c4, CAST(sum(r_q) OVER f4 AS BIGINT) AS q4
              |  FROM rr
              |  WINDOW f2 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
              |    f4 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
              |a1 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n1,
              |    CAST(sum(r_q) AS BIGINT) AS s1,
              |    CAST(sum(r_q * r_q) AS BIGINT) AS ss1
              |  FROM rr GROUP BY user_id),
              |a2 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n2,
              |    CAST(sum(q2) AS BIGINT) AS s2, CAST(sum(q2 * q2) AS BIGINT) AS ss2
              |  FROM win WHERE c2 = 2 GROUP BY user_id),
              |a4 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n4,
              |    CAST(sum(q4) AS BIGINT) AS s4, CAST(sum(q4 * q4) AS BIGINT) AS ss4
              |  FROM win WHERE c4 = 4 GROUP BY user_id)
              |SELECT a1.user_id, n1,
              |  ${sqlRound(
                 """((CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) /
                     (CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE))) /
                    (2.0 * ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
                     (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))) / 1.0""",
                 6)} AS vr2,
              |  ${sqlRound(
                 """((CAST(n4 AS DOUBLE) * CAST(ss4 AS DOUBLE) - CAST(s4 AS DOUBLE) * CAST(s4 AS DOUBLE)) /
                     (CAST(n4 AS DOUBLE) * CAST(n4 AS DOUBLE))) /
                    (4.0 * ((CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) /
                     (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)))) / 1.0""",
                 6)} AS vr4
              |FROM a1 JOIN a2 USING (user_id) JOIN a4 USING (user_id)
              |ORDER BY a1.user_id""".stripMargin)))

  private val stateSpace: Seq[Q] = Seq(
    // Holt–Winters additive seasonal (period 24h). The seasonal ring's
    // zero seed IS the warm-up rule, and the oracle reproduces the ring
    // as a fixed-length list sliding through the recursive CTE — so the
    // smoothed path (level, trend, seasonal) is bit-identical before
    // rounding. α/β/γ are binary-exact.
    Q("q180_holt_winters",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        HoltWinters.withHoltWintersSeasonal(hc, "user_id", "bucket_s", "close",
            alpha = 0.5, beta = 0.25, gamma = 0.25, m = 24)
          .select(col("user_id"), col("bucket_s"),
            pround(col("level"), 4).as("level"),
            pround(col("trend"), 4).as("trend"),
            pround(col("seasonal"), 4).as("seasonal"))
          .orderBy("user_id", "bucket_s")
      },
      Some {
        val lNew = "0.5 * (o.close - r.slist[1]) + (1 - 0.5) * (r.l + r.b)"
        s"""WITH RECURSIVE $HourlyCloseCte,
           |ord AS (SELECT user_id, bucket_s, close,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM agg),
           |rec AS (
           |  SELECT user_id, bucket_s, close, rn, close AS l,
           |    CAST(0 AS DOUBLE) AS b,
           |    [CAST(0 AS DOUBLE) FOR x IN range(24)] AS slist
           |  FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
           |    $lNew,
           |    0.25 * (($lNew) - r.l) + (1 - 0.25) * r.b,
           |    r.slist[2:] ||
           |      [0.25 * (o.close - ($lNew)) + (1 - 0.25) * r.slist[1]]
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
           |SELECT user_id, bucket_s, ${sqlRound("l", 4)} AS level,
           |  ${sqlRound("b", 4)} AS trend,
           |  ${sqlRound("slist[24]", 4)} AS seasonal
           |FROM rec ORDER BY user_id, bucket_s""".stripMargin
      }),

    // Kalman filter, local-level model: filtered level and posterior
    // variance per bar, (x, P) carried through the recursive CTE with
    // the identical gain/update operation order.
    Q("q181_kalman",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        HoltWinters.withKalmanLevel(hc, "user_id", "bucket_s", "close",
            qVar = 0.01, rVar = 1.0)
          .select(col("user_id"), col("bucket_s"),
            pround(col("x"), 6).as("x"), pround(col("p"), 6).as("p"))
          .orderBy("user_id", "bucket_s")
      },
      Some {
        val k = "((r.p + CAST(0.01 AS DOUBLE)) / ((r.p + CAST(0.01 AS DOUBLE)) + CAST(1 AS DOUBLE)))"
        s"""WITH RECURSIVE $HourlyCloseCte,
           |ord AS (SELECT user_id, bucket_s, close,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM agg),
           |rec AS (
           |  SELECT user_id, bucket_s, close, rn,
           |    close AS x, CAST(1 AS DOUBLE) AS p FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
           |    r.x + $k * (o.close - r.x),
           |    (1 - $k) * (r.p + CAST(0.01 AS DOUBLE))
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
           |SELECT user_id, bucket_s, ${sqlRound("x", 6)} AS x,
           |  ${sqlRound("p", 6)} AS p
           |FROM rec ORDER BY user_id, bucket_s""".stripMargin
      }))

  private val detection: Seq[Q] = Seq(
    // One-sided CUSUM changepoint scores (Page 1954) on standardized
    // hourly returns. The textbook recurrence S_t = max(0, S_{t−1} + z_t
    // − k) has the closed form S_t = C_t − min(0, min_{j≤t} C_j) with
    // C_t = Σ(z_i − k) — so the whole detector is a running sum + running
    // min, pure window frames, NO sequential scan. All folds are over
    // exact integer micro-units (z quantized, k=0.5 exactly 500000), so
    // both engines see identical scores. μ/σ come from the 80% train
    // head, rounded before use (leakage-free).
    Q("q182_cusum",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
        val fit = r.filter(col("rn") <= floor(col("n") * 0.8).cast("long"))
          .groupBy("user_id")
          .agg(pround(avg(col("r")), 6).as("mu"),
            pround(stddev_pop(col("r")), 6).as("sigma"))
          .filter(col("sigma") > 0)
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        r.join(broadcast(fit), "user_id")
          .withColumn("z_q",
            floor((col("r") - col("mu")) / col("sigma") * 1e6 + 0.5).cast("long"))
          .withColumn("c", sum(col("z_q") - 500000L).over(cum))
          .withColumn("s_pos",
            (col("c") - least(lit(0L), min(col("c")).over(cum))).cast("double") / 1e6)
          .filter(col("s_pos") > 5.0)
          .select(col("user_id"), col("bucket_s"),
            pround(col("s_pos"), 6).as("s_pos"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    ln(close) - ln(lag(close, 1) OVER uw) AS r
              |  FROM (SELECT * FROM agg WHERE close > 0) WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |rr AS (SELECT user_id, bucket_s, r,
              |    row_number() OVER uw AS rn,
              |    count(*) OVER (PARTITION BY user_id) AS n
              |  FROM r WHERE r IS NOT NULL
              |  WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |fit AS (SELECT user_id, ${sqlRound("avg(r)", 6)} AS mu,
              |    ${sqlRound("stddev_pop(r)", 6)} AS sigma
              |  FROM rr WHERE rn <= CAST(floor(n * 0.8) AS BIGINT)
              |  GROUP BY user_id HAVING ${sqlRound("stddev_pop(r)", 6)} > 0),
              |zz AS (SELECT rr.user_id, rr.bucket_s,
              |    CAST(floor((rr.r - f.mu) / f.sigma * 1e6 + 0.5) AS BIGINT) AS z_q
              |  FROM rr JOIN fit f USING (user_id)),
              |c1 AS (SELECT user_id, bucket_s,
              |    CAST(sum(z_q - 500000) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
              |  FROM zz),
              |cc AS (SELECT user_id, bucket_s, c,
              |    CAST(min(c) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cmin
              |  FROM c1)
              |SELECT user_id, bucket_s,
              |  ${sqlRound("CAST(c - least(CAST(0 AS BIGINT), cmin) AS DOUBLE) / 1e6", 6)} AS s_pos
              |FROM cc WHERE CAST(c - least(CAST(0 AS BIGINT), cmin) AS DOUBLE) / 1e6 > 5.0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    // Kalman innovation anomalies: the normalized innovation squared
    // (NIS) of each bar under the q181 filter; NIS > 9 (3σ) flags the
    // bar. Every input is a bit-identical Kalman output or an exact lag,
    // so the flag set is deterministic.
    Q("q183_kalman_anomaly",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        HoltWinters.withKalmanLevel(hc, "user_id", "bucket_s", "close",
            qVar = 0.01, rVar = 1.0)
          .withColumn("x_prev", lag(col("x"), 1).over(w))
          .withColumn("p_prev", lag(col("p"), 1).over(w))
          .filter(col("x_prev").isNotNull)
          .withColumn("nis",
            (col("close") - col("x_prev")) * (col("close") - col("x_prev")) /
              (col("p_prev") + 0.01 + 1.0))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            sum((col("nis") > 9.0).cast("long")).as("n_anomalies"),
            pround(max(col("nis")), 6).as("max_nis"))
          .orderBy("user_id")
      },
      Some {
        val k = "((r.p + CAST(0.01 AS DOUBLE)) / ((r.p + CAST(0.01 AS DOUBLE)) + CAST(1 AS DOUBLE)))"
        s"""WITH RECURSIVE $HourlyCloseCte,
           |ord AS (SELECT user_id, bucket_s, close,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM agg),
           |rec AS (
           |  SELECT user_id, bucket_s, close, rn,
           |    close AS x, CAST(1 AS DOUBLE) AS p FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
           |    r.x + $k * (o.close - r.x),
           |    (1 - $k) * (r.p + CAST(0.01 AS DOUBLE))
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1),
           |inn AS (SELECT user_id, bucket_s, close,
           |    lag(x, 1) OVER uw AS x_prev, lag(p, 1) OVER uw AS p_prev
           |  FROM rec WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
           |nis AS (SELECT user_id,
           |    (close - x_prev) * (close - x_prev) / (p_prev + 0.01 + 1.0) AS nis
           |  FROM inn WHERE x_prev IS NOT NULL)
           |SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
           |  CAST(sum(CASE WHEN nis > 9.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           |  ${sqlRound("max(nis)", 6)} AS max_nis
           |FROM nis GROUP BY user_id ORDER BY user_id""".stripMargin
      }))

  private val mining2: Seq[Q] = Seq(
    // Market-basket pair mining (Agrawal–Srikant A-priori, level 2):
    // baskets are (user, day) event-type sets; emit co-occurring pairs
    // with support ≥ 20 and their lift. Counts are exact integers and
    // lift is one double formula over them, so the panel is
    // engine-exact. Shape: distinct → self-equi-join on the basket key
    // (bounded fan-out: ≤ |types|² per basket) → pair aggregate.
    Q("q192_basket_pairs",
      (s, d) => {
        val b = Tables.events(s, d)
          .select(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("event_type")).distinct()
        val nb = b.select("user_id", "day").distinct().agg(count(lit(1)).as("nb"))
        val singles = b.groupBy("event_type").agg(count(lit(1)).as("c1"))
        val pairs = b.as("x").join(b.as("y"),
            col("x.user_id") === col("y.user_id") &&
              col("x.day") === col("y.day") &&
              col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("a"), col("y.event_type").as("b"))
          .agg(count(lit(1)).as("support"))
          .filter(col("support") >= 20)
        pairs
          .join(broadcast(singles.select(col("event_type").as("a"),
            col("c1").as("ca"))), "a")
          .join(broadcast(singles.select(col("event_type").as("b"),
            col("c1").as("cb"))), "b")
          .crossJoin(broadcast(nb))
          .select(col("a"), col("b"), col("support"),
            pround(col("support").cast("double") * col("nb") /
              (col("ca").cast("double") * col("cb")), 6).as("lift"))
          .orderBy(col("a"), col("b"))
      },
      Some(s"""WITH b AS (SELECT DISTINCT user_id,
              |    strftime(ts, '%Y-%m-%d') AS day, event_type FROM events),
              |nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM
              |  (SELECT DISTINCT user_id, day FROM b)),
              |s1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c1
              |  FROM b GROUP BY event_type),
              |p AS (SELECT x.event_type AS a, y.event_type AS b,
              |    CAST(count(*) AS BIGINT) AS support
              |  FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
              |    AND x.event_type < y.event_type
              |  GROUP BY 1, 2 HAVING count(*) >= 20)
              |SELECT p.a, p.b, p.support,
              |  ${sqlRound(
                  "CAST(p.support AS DOUBLE) * nb.nb / (CAST(sa.c1 AS DOUBLE) * CAST(sb.c1 AS DOUBLE))",
                  6)} AS lift
              |FROM p JOIN s1 sa ON sa.event_type = p.a
              |JOIN s1 sb ON sb.event_type = p.b
              |CROSS JOIN nb
              |ORDER BY p.a, p.b""".stripMargin)),

    // Wald–Wolfowitz runs test on return signs — is the sign sequence
    // random? R, n₊, n₋ are exact integer counts; E[R], Var[R] and z are
    // one double formula over them (identical literals both sides).
    // Zero returns are excluded on both sides.
    Q("q193_runs_test",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull && col("r") =!= 0.0)
          .withColumn("sgn", (col("r") > 0).cast("int"))
          .withColumn("chg",
            (col("sgn") =!= lag(col("sgn"), 1).over(w)).cast("long"))
        r.groupBy("user_id")
          .agg(sum(col("sgn").cast("long")).as("n_pos"),
            sum((lit(1) - col("sgn")).cast("long")).as("n_neg"),
            (sum(coalesce(col("chg"), lit(0L))) + 1).as("runs"))
          .filter(col("n_pos") > 0 && col("n_neg") > 0)
          .withColumn("e_runs",
            lit(1.0) + lit(2.0) * col("n_pos") * col("n_neg") /
              (col("n_pos") + col("n_neg")).cast("double"))
          .withColumn("v_runs",
            (lit(2.0) * col("n_pos") * col("n_neg") *
              (lit(2.0) * col("n_pos") * col("n_neg") - col("n_pos") - col("n_neg"))) /
              ((col("n_pos") + col("n_neg")).cast("double") *
                (col("n_pos") + col("n_neg")).cast("double") *
                (col("n_pos") + col("n_neg") - 1).cast("double")))
          .filter(col("v_runs") > 0)
          .select(col("user_id"), col("n_pos"), col("n_neg"), col("runs"),
            pround((col("runs").cast("double") - col("e_runs")) /
              sqrt(col("v_runs")), 6).as("z"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    ln(close) - ln(lag(close, 1) OVER uw) AS r
              |  FROM (SELECT * FROM agg WHERE close > 0) WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |sg AS (SELECT user_id, bucket_s,
              |    CASE WHEN r > 0 THEN 1 ELSE 0 END AS sgn
              |  FROM r WHERE r IS NOT NULL AND r <> 0),
              |ch AS (SELECT user_id, sgn,
              |    CASE WHEN sgn <> lag(sgn, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s) THEN 1 ELSE 0 END AS chg
              |  FROM sg),
              |ag AS (SELECT user_id,
              |    CAST(sum(sgn) AS BIGINT) AS n_pos,
              |    CAST(sum(1 - sgn) AS BIGINT) AS n_neg,
              |    CAST(sum(coalesce(chg, 0)) + 1 AS BIGINT) AS runs
              |  FROM ch GROUP BY user_id
              |  HAVING sum(sgn) > 0 AND sum(1 - sgn) > 0),
              |st AS (SELECT user_id, n_pos, n_neg, runs,
              |    1.0 + 2.0 * n_pos * n_neg / CAST(n_pos + n_neg AS DOUBLE) AS e_runs,
              |    (2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n_pos - n_neg)) /
              |      (CAST(n_pos + n_neg AS DOUBLE) * CAST(n_pos + n_neg AS DOUBLE) *
              |       CAST(n_pos + n_neg - 1 AS DOUBLE)) AS v_runs
              |  FROM ag)
              |SELECT user_id, n_pos, n_neg, runs,
              |  ${sqlRound("(CAST(runs AS DOUBLE) - e_runs) / sqrt(v_runs)", 6)} AS z
              |FROM st WHERE v_runs > 0 ORDER BY user_id""".stripMargin)))

  private val cv: Seq[Q] = Seq(
    // GROUPED 5-fold cross-validation assignment + per-fold scoring: the
    // fold is a pure integer hash of the GROUP key (user), so all of a
    // user's rows land in one fold — the leakage rule time-series CV
    // must obey — and the assignment reproduces on any cluster layout.
    // Scored metric: the naive forecaster's MAE per fold, folded over
    // exact micro-unit quanta.
    Q("q194_group_kfold",
      (s, d) => {
        import graft.text.TextOps
        hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          .withColumn("naive", lag(col("close"), 1).over(w))
          .filter(col("naive").isNotNull)
          .withColumn("fold",
            TextOps.md5Hash60(concat(lit("fold:"),
              col("user_id").cast("string"))) % 5)
          .withColumn("e_q",
            floor(abs(col("close") - col("naive")) * 1e6 + 0.5).cast("long"))
          .groupBy("fold")
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_obs"),
            pround(sum(col("e_q")).cast("double") / count(lit(1)) / 1e6, 6)
              .as("mae_naive"))
          .orderBy("fold")
      },
      Some(s"""WITH $HourlyCloseCte,
              |p AS (SELECT user_id, close,
              |    lag(close, 1) OVER (PARTITION BY user_id ORDER BY bucket_s) AS naive
              |  FROM agg),
              |f AS (SELECT user_id, close, naive,
              |    ${graft.VectorTextQueries.sqlHash60("'fold:' || CAST(user_id AS VARCHAR)")} % 5 AS fold
              |  FROM p WHERE naive IS NOT NULL)
              |SELECT fold, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              |  CAST(count(*) AS BIGINT) AS n_obs,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(abs(close - naive) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e6",
                  6)} AS mae_naive
              |FROM f GROUP BY fold ORDER BY fold""".stripMargin)))

  private val strategy: Seq[Q] = Seq(
    // Vectorized long/flat SMA-crossover backtest WITH transaction
    // costs — the whole strategy loop as window frames: the signal is an
    // INTEGER cross-multiplication (4·Σ₃c_q > Σ₁₂c_q ⇔ SMA3 > SMA12, no
    // float division anywhere), positions shift one bar forward
    // (leakage-free), trades are |Δposition| counts, and PnL folds
    // position-gated quantized returns. Gross/net/turnover are all
    // ratios and products of exact integers.
    Q("q196_sma_backtest",
      (s, d) => {
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("c_q", floor(col("close") * 1e6 + 0.5).cast("long"))
          .withColumn("r_q",
            floor((log(col("close")) - log(lag(col("close"), 1).over(w))) * 1e9 + 0.5)
              .cast("long"))
        val f3 = w.rowsBetween(-2, 0)
        val f12 = w.rowsBetween(-11, 0)
        hc.withColumn("pos",
            when(count(col("c_q")).over(f12) === 12 &&
              sum(col("c_q")).over(f3) * 4 > sum(col("c_q")).over(f12), 1L)
              .otherwise(0L))
          .withColumn("pos_prev", lag(col("pos"), 1, 0L).over(w))
          .withColumn("trade", abs(col("pos") - col("pos_prev")))
          .withColumn("pnl_q",
            when(col("pos_prev") === 1 && col("r_q").isNotNull, col("r_q"))
              .otherwise(lit(0L)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            sum(col("trade")).as("n_trades"),
            pround(sum(col("pnl_q")).cast("double") / 1e9, 6).as("gross_ret"),
            pround(sum(col("pnl_q")).cast("double") / 1e9 -
              sum(col("trade")).cast("double") * 0.001, 6).as("net_ret"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |q AS (SELECT user_id, bucket_s, close,
              |    CAST(floor(close * 1e6 + 0.5) AS BIGINT) AS c_q,
              |    CAST(floor((ln(close) - ln(lag(close, 1) OVER uw)) * 1e9 + 0.5)
              |      AS BIGINT) AS r_q
              |  FROM (SELECT * FROM agg WHERE close > 0) WINDOW uw AS (PARTITION BY user_id ORDER BY bucket_s)),
              |sg AS (SELECT user_id, bucket_s, r_q,
              |    CASE WHEN count(c_q) OVER f12 = 12
              |      AND CAST(sum(c_q) OVER f3 AS BIGINT) * 4 >
              |          CAST(sum(c_q) OVER f12 AS BIGINT)
              |      THEN 1 ELSE 0 END AS pos
              |  FROM q
              |  WINDOW f3 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
              |    f12 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)),
              |tr AS (SELECT user_id, r_q, pos,
              |    coalesce(lag(pos, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s), 0) AS pos_prev
              |  FROM sg)
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
              |  CAST(sum(abs(pos - pos_prev)) AS BIGINT) AS n_trades,
              |  ${sqlRound(
                  "CAST(sum(CASE WHEN pos_prev = 1 AND r_q IS NOT NULL THEN r_q ELSE 0 END) AS DOUBLE) / 1e9",
                  6)} AS gross_ret,
              |  ${sqlRound(
                  "CAST(sum(CASE WHEN pos_prev = 1 AND r_q IS NOT NULL THEN r_q ELSE 0 END) AS DOUBLE) / 1e9" +
                  " - CAST(sum(abs(pos - pos_prev)) AS DOUBLE) * 0.001",
                  6)} AS net_ret
              |FROM tr GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Calendar-effect panel: pooled mean hourly return by day-of-week
    // (the "Monday effect" diagnostic). Day-of-week from epoch-day
    // integer arithmetic (day 0 = Thursday → +4 mod 7 puts Monday=0,
    // matching the engine's F4 convention), mean over exact nano-quanta.
    Q("q197_calendar_effect",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r_q",
            floor((log(col("close")) - log(lag(col("close"), 1).over(w))) * 1e9 + 0.5)
              .cast("long"))
          .filter(col("r_q").isNotNull)
        r.withColumn("dow", ((floor(col("bucket_s") / 86400) + 3) % 7).cast("long"))
          .groupBy("dow")
          .agg(count(lit(1)).as("n_obs"),
            pround(sum(col("r_q")).cast("double") / count(lit(1)) / 1e9, 6)
              .as("mean_r"))
          .orderBy("dow")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s))) * 1e9 + 0.5) AS BIGINT) AS r_q
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |x AS (SELECT (CAST(floor(bucket_s / 86400) AS BIGINT) + 3) % 7 AS dow,
              |    r_q FROM r WHERE r_q IS NOT NULL)
              |SELECT dow, CAST(count(*) AS BIGINT) AS n_obs,
              |  ${sqlRound("CAST(sum(r_q) AS DOUBLE) / count(*) / 1e9", 6)} AS mean_r
              |FROM x GROUP BY dow ORDER BY dow""".stripMargin)),

    // Population-stability-index drift monitor: value distribution of
    // each event type, first half of the span vs second (split at the
    // integer midpoint day), 10 equi-width buckets with Laplace
    // smoothing so empty buckets are defined — PSI = Σ (p−q)·ln(p/q)
    // where p, q are ratios of exact integers and each term is
    // quantized before the fold. The 100 TB shape: one scan, one
    // (type, period, bucket) aggregate; the dense grid join is
    // |types|·20 rows.
    Q("q198_psi_drift",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("day", floor(unix_micros(col("ts")) / 86400e6).cast("long"))
        // floor() explicitly: a bare DOUBLE→BIGINT cast truncates in Spark
        // but rounds in DuckDB, so x.5 midpoints would split differently.
        val span = e.agg(floor((min(col("day")) + max(col("day"))) / 2)
          .cast("long").as("mid"))
        val counted = e.crossJoin(broadcast(span))
          .withColumn("period",
            when(col("day") < col("mid"), "ref").otherwise(lit("cur")))
          .withColumn("bucket",
            least(greatest(floor(col("value") / 50).cast("long"), lit(0L)), lit(9L)))
          .groupBy("event_type", "period", "bucket")
          .agg(count(lit(1)).as("c"))
        val grid = e.select("event_type").distinct()
          .withColumn("period", explode(array(lit("ref"), lit("cur"))))
          .withColumn("bucket", explode(expr("sequence(0L, 9L)")))
        val filled = grid.join(counted, Seq("event_type", "period", "bucket"), "left")
          .withColumn("c", coalesce(col("c"), lit(0L)))
        val tot = filled.groupBy("event_type", "period").agg(sum(col("c")).as("n"))
        filled.join(tot, Seq("event_type", "period"))
          .withColumn("p",
            (col("c") + 1).cast("double") / (col("n") + 10).cast("double"))
          .groupBy("event_type", "bucket")
          .agg(max(when(col("period") === "ref", col("p"))).as("pr"),
            max(when(col("period") === "cur", col("p"))).as("qr"))
          .withColumn("t_q",
            floor((col("pr") - col("qr")) * log(col("pr") / col("qr")) * 1e9 + 0.5)
              .cast("long"))
          .groupBy("event_type")
          .agg(pround(sum(col("t_q")).cast("double") / 1e9, 6).as("psi"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (SELECT event_type, value,
              |    CAST(floor(epoch_us(ts) / 86400e6) AS BIGINT) AS day FROM events),
              |m AS (SELECT CAST(floor((min(day) + max(day)) / 2) AS BIGINT) AS mid FROM e),
              |lab AS (SELECT event_type,
              |    CASE WHEN day < (SELECT mid FROM m) THEN 'ref' ELSE 'cur' END AS period,
              |    least(greatest(CAST(floor(value / 50) AS BIGINT), 0), 9) AS bucket
              |  FROM e),
              |cnt AS (SELECT event_type, period, bucket,
              |    CAST(count(*) AS BIGINT) AS c FROM lab GROUP BY 1, 2, 3),
              |grid AS (SELECT et.event_type, pp.period, bb.bucket
              |  FROM (SELECT DISTINCT event_type FROM e) et,
              |    (SELECT unnest(['ref', 'cur']) AS period) pp,
              |    (SELECT unnest(range(10)) AS bucket) bb),
              |f AS (SELECT g.event_type, g.period, g.bucket,
              |    coalesce(cnt.c, 0) AS c
              |  FROM grid g LEFT JOIN cnt
              |    ON cnt.event_type = g.event_type AND cnt.period = g.period
              |    AND cnt.bucket = g.bucket),
              |t AS (SELECT event_type, period, CAST(sum(c) AS BIGINT) AS n
              |  FROM f GROUP BY 1, 2),
              |pr AS (SELECT f.event_type, f.bucket, f.period,
              |    CAST(f.c + 1 AS DOUBLE) / CAST(t.n + 10 AS DOUBLE) AS p
              |  FROM f JOIN t ON t.event_type = f.event_type AND t.period = f.period),
              |wide AS (SELECT event_type, bucket,
              |    max(CASE WHEN period = 'ref' THEN p END) AS pr,
              |    max(CASE WHEN period = 'cur' THEN p END) AS qr
              |  FROM pr GROUP BY 1, 2),
              |tq AS (SELECT event_type,
              |    CAST(floor((pr - qr) * ln(pr / qr) * 1e9 + 0.5) AS BIGINT) AS t_q
              |  FROM wide)
              |SELECT event_type, ${sqlRound("CAST(sum(t_q) AS DOUBLE) / 1e9", 6)} AS psi
              |FROM tq GROUP BY event_type ORDER BY event_type""".stripMargin)))

  private val portfolio: Seq[Q] = Seq(
    // Inverse-volatility portfolio: weights 1/σ from each user's
    // (rounded) vol, hourly portfolio return = Σwᵢrᵢ/Σwᵢ over the users
    // present that hour. Both numerator terms and weights are quantized
    // before the cross-user fold, so the weighted mean is order-proof.
    Q("q199_ivol_portfolio",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
        val vols = r.groupBy("user_id")
          .agg(pround(stddev_pop(col("r")), 6).as("vol"))
          .filter(col("vol") > 0)
          .withColumn("w", lit(1.0) / col("vol"))
        r.join(broadcast(vols), "user_id")
          .withColumn("wr_q", floor(col("w") * col("r") * 1e9 + 0.5).cast("long"))
          .withColumn("w_q", floor(col("w") * 1e6 + 0.5).cast("long"))
          .groupBy("bucket_s")
          .agg(count(lit(1)).as("n_users"),
            pround((sum(col("wr_q")).cast("double") / 1e9) /
              (sum(col("w_q")).cast("double") / 1e6), 6).as("port_r"))
          .orderBy("bucket_s")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s)) AS r
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |rr AS (SELECT user_id, bucket_s, r FROM r WHERE r IS NOT NULL),
              |v AS (SELECT user_id, ${sqlRound("stddev_pop(r)", 6)} AS vol
              |  FROM rr GROUP BY user_id HAVING ${sqlRound("stddev_pop(r)", 6)} > 0),
              |x AS (SELECT rr.bucket_s,
              |    CAST(floor((1.0 / v.vol) * rr.r * 1e9 + 0.5) AS BIGINT) AS wr_q,
              |    CAST(floor((1.0 / v.vol) * 1e6 + 0.5) AS BIGINT) AS w_q
              |  FROM rr JOIN v USING (user_id))
              |SELECT bucket_s, CAST(count(*) AS BIGINT) AS n_users,
              |  ${sqlRound(
                  "(CAST(sum(wr_q) AS DOUBLE) / 1e9) / (CAST(sum(w_q) AS DOUBLE) / 1e6)",
                  6)} AS port_r
              |FROM x GROUP BY bucket_s ORDER BY bucket_s""".stripMargin)),

    // Drawdown duration: the longest underwater streak (bars below the
    // running peak) per user, plus the number of new peaks — pure
    // integer window machinery (streak id = running count of peak
    // events), zero fp anywhere.
    Q("q200_underwater",
      (s, d) => {
        val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hc = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          .withColumn("runmax", max(col("close")).over(cum))
          .withColumn("uw", (col("close") < col("runmax")).cast("long"))
          .withColumn("sid", sum(lit(1L) - col("uw")).over(cum))
        val streaks = hc.filter(col("uw") === 1)
          .groupBy("user_id", "sid").agg(count(lit(1)).as("len"))
        hc.groupBy("user_id")
          .agg(count(lit(1)).as("n_bars"),
            sum(lit(1L) - col("uw")).as("n_peaks"))
          .join(streaks.groupBy("user_id")
            .agg(max(col("len")).as("max_underwater_bars")), Seq("user_id"), "left")
          .withColumn("max_underwater_bars",
            coalesce(col("max_underwater_bars"), lit(0L)))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |m AS (SELECT user_id, bucket_s, close,
              |    max(close) OVER cw AS runmax
              |  FROM agg WINDOW cw AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |u AS (SELECT user_id, bucket_s,
              |    CASE WHEN close < runmax THEN 1 ELSE 0 END AS uw
              |  FROM m),
              |sid AS (SELECT user_id, bucket_s, uw,
              |    CAST(sum(1 - uw) OVER cw AS BIGINT) AS sid
              |  FROM u WINDOW cw AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
              |st AS (SELECT user_id, sid.sid, CAST(count(*) AS BIGINT) AS len
              |  FROM sid WHERE uw = 1 GROUP BY user_id, sid.sid),
              |agg2 AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_bars,
              |    CAST(sum(1 - uw) AS BIGINT) AS n_peaks
              |  FROM sid GROUP BY user_id),
              |mx AS (SELECT user_id, CAST(max(len) AS BIGINT) AS max_underwater_bars
              |  FROM st GROUP BY user_id)
              |SELECT a.user_id, a.n_bars, a.n_peaks,
              |  coalesce(mx.max_underwater_bars, 0) AS max_underwater_bars
              |FROM agg2 a LEFT JOIN mx USING (user_id)
              |ORDER BY a.user_id""".stripMargin)))

  private val streamed2: Seq[Q] = Seq(
    // Streaming Kalman: the q181 filter as cross-batch
    // flatMapGroupsWithState state over the raw event stream, one
    // AvailableNow pass == the recursive-CTE formulation (same harness
    // as q106/q175: µs truncation before the fold).
    Q("q201_stream_kalman",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        val stream = StreamHarness.eventStream(s, d)
        val kf = StreamingIngest.streamingKalman(stream, "user_id", "ts_us",
          "event_id", "value", qVar = 0.01, rVar = 1.0)
        StreamHarness.runMemory(kf, "q201") { t =>
          t.select(col("key").as("user_id"), col("ts").as("ts_us"),
            pround(col("x"), 6).as("x"), pround(col("p"), 6).as("p"))
            .orderBy("user_id", "ts_us")
        }
      },
      Some {
        val k = "((r.p + CAST(0.01 AS DOUBLE)) / ((r.p + CAST(0.01 AS DOUBLE)) + CAST(1 AS DOUBLE)))"
        s"""WITH RECURSIVE ord AS (
           |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events),
           |rec AS (
           |  SELECT user_id, ts_us, value, rn,
           |    value AS x, CAST(1 AS DOUBLE) AS p FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.ts_us, o.value, o.rn,
           |    r.x + $k * (o.value - r.x),
           |    (1 - $k) * (r.p + CAST(0.01 AS DOUBLE))
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
           |SELECT user_id, ts_us, ${sqlRound("x", 6)} AS x, ${sqlRound("p", 6)} AS p
           |FROM rec ORDER BY user_id, ts_us""".stripMargin
      }),

    // Event impact on volatility: mean |hourly return| in the hour AFTER
    // a purchase vs each user's baseline mean |return| — the
    // event-study companion measuring second-moment impact. Exact
    // micro-unit folds throughout; impact_ratio is one division of two
    // order-free means.
    Q("q202_event_vol_impact",
      (s, d) => {
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("a_q", floor(abs(col("r")) * 1e9 + 0.5).cast("long"))
          .select("user_id", "bucket_s", "a_q")
        val ev = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"),
            ((ceil(col("ts").cast("double") / 3600) * 3600).cast("long") + 3600L)
              .as("bucket_s"))
          .distinct()
        val base = r.groupBy("user_id")
          .agg(count(lit(1)).as("n_all"), sum(col("a_q")).as("s_all"))
        val after = r.join(ev, Seq("user_id", "bucket_s"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_after"), sum(col("a_q")).as("s_after"))
        after.join(base, "user_id")
          .select(col("user_id"), col("n_after"),
            pround(col("s_after").cast("double") / col("n_after") / 1e9, 6)
              .as("mean_abs_after"),
            pround(col("s_all").cast("double") / col("n_all") / 1e9, 6)
              .as("mean_abs_base"),
            pround((col("s_after").cast("double") / col("n_after")) /
              (col("s_all").cast("double") / col("n_all")), 6).as("impact_ratio"))
          .orderBy("user_id")
      },
      Some(s"""WITH $HourlyCloseCte,
              |r AS (SELECT user_id, bucket_s,
              |    CAST(floor(abs(ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
              |      ORDER BY bucket_s))) * 1e9 + 0.5) AS BIGINT) AS a_q
              |  FROM (SELECT * FROM agg WHERE close > 0)),
              |rr AS (SELECT user_id, bucket_s, a_q FROM r WHERE a_q IS NOT NULL),
              |ev AS (SELECT DISTINCT user_id,
              |    CAST(ceil(epoch(ts) / 3600) * 3600 AS BIGINT) + 3600 AS bucket_s
              |  FROM events WHERE event_type = 'purchase'),
              |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_all,
              |    CAST(sum(a_q) AS BIGINT) AS s_all FROM rr GROUP BY user_id),
              |af AS (SELECT rr.user_id, CAST(count(*) AS BIGINT) AS n_after,
              |    CAST(sum(rr.a_q) AS BIGINT) AS s_after
              |  FROM rr JOIN ev ON rr.user_id = ev.user_id AND rr.bucket_s = ev.bucket_s
              |  GROUP BY rr.user_id)
              |SELECT af.user_id, af.n_after,
              |  ${sqlRound("CAST(s_after AS DOUBLE) / n_after / 1e9", 6)} AS mean_abs_after,
              |  ${sqlRound("CAST(s_all AS DOUBLE) / n_all / 1e9", 6)} AS mean_abs_base,
              |  ${sqlRound(
                  "(CAST(s_after AS DOUBLE) / n_after) / (CAST(s_all AS DOUBLE) / n_all)",
                  6)} AS impact_ratio
              |FROM af JOIN b USING (user_id) ORDER BY af.user_id""".stripMargin)))

  /** Double literal that round-trips bitwise through SQL parsing. */
  private def dl(x: Double): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s.toLowerCase else s
  }

  private val training: Seq[Q] = Seq(
    // M4's Spark analog (SURVEY §2.11 previously declared it out of
    // scope; this delivers the semantics): the AdaBelief optimizer
    // (Zhuang et al. 2020, public) driving data-parallel training of a
    // linear next-hour-return model. Each epoch broadcasts the scalar
    // weights into the plan as literals and ALL-REDUCES the gradient
    // across partitions — M5/DDP's exact communication shape, realized
    // as one DataFrame aggregation per epoch (driver sees two BIGINTs).
    // Determinism by construction: per-row gradient terms quantize to
    // 1e-9-unit BIGINTs before the sum (order-free, engine-exact); the
    // AdaBelief update is scalar double arithmetic with dyadic-exact
    // hyperparameters (β1=.5, β2=.75, lr=.0625) mirrored expression-
    // for-expression by the oracle's unrolled epoch CTEs, with bias
    // corrections inlined as shared literals. The full 5-epoch weight
    // TRAJECTORY is hash-checked, not just the final fit.
    Q("q210_adabelief",
      (s, d) => {
        val epochs = 5
        val r = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
          // Zero prices break log-returns (DuckDB ln(0) errors; Spark
          // log(0) is NULL) — both engines drop them before the lag.
          .filter(col("close") > 0)
          .withColumn("r", log(col("close")) - log(lag(col("close"), 1).over(w)))
          .filter(col("r").isNotNull)
          .withColumn("rq", floor(col("r") * 1e6 + 0.5).cast("long"))
        val pairs = Cached.persist(r
          .withColumn("yq", lead(col("rq"), 1).over(w))
          .filter(col("yq").isNotNull)
          .select((col("rq").cast("double") / 1e6).as("x"),
            (col("yq").cast("double") / 1e6).as("y")))
        val n = pairs.count()
        var (wt, bt, mw, mb, sw, sb) = (0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
        val traj = (1 to epochs).map { t =>
          val e = (lit(wt) * col("x") + lit(bt)) - col("y")
          val sums = pairs.agg(
            sum(floor(col("x") * e * 1e9 + 0.5).cast("long")).as("stw"),
            sum(floor(e * 1e9 + 0.5).cast("long")).as("stb")).head()
          val gw = sums.getLong(0).toDouble * 2 / n.toDouble / 1e9
          val gb = sums.getLong(1).toDouble * 2 / n.toDouble / 1e9
          val bc1 = 1.0 - math.pow(0.5, t)
          val bc2 = 1.0 - math.pow(0.75, t)
          mw = 0.5 * mw + 0.5 * gw
          mb = 0.5 * mb + 0.5 * gb
          val dw = gw - mw
          val db = gb - mb
          sw = 0.75 * sw + 0.25 * (dw * dw) + 1e-16
          sb = 0.75 * sb + 0.25 * (db * db) + 1e-16
          wt = wt - 0.0625 * (mw / bc1) / (math.sqrt(sw / bc2) + 1e-8)
          bt = bt - 0.0625 * (mb / bc1) / (math.sqrt(sb / bc2) + 1e-8)
          (t, wt, bt, gw, gb)
        }
        import s.implicits._
        traj.toDF("epoch", "w", "b", "gw", "gb")
          .select(col("epoch"), pround(col("w"), 9).as("w"),
            pround(col("b"), 9).as("b"), pround(col("gw"), 9).as("gw"),
            pround(col("gb"), 9).as("gb"))
          .orderBy("epoch")
      },
      Some {
        val epochs = 5
        // The oracle carries the same state symbolically: each epoch's
        // CTE computes the quantized gradient sums against the previous
        // weights, then the identical scalar update. Bias corrections
        // are dyadic-exact and inlined from the same Scala computation.
        val stages = (1 to epochs).map { t =>
          val bc1 = dl(1.0 - math.pow(0.5, t))
          val bc2 = dl(1.0 - math.pow(0.75, t))
          val prev = if (t == 1) "w0" else s"u${t - 1}"
          s"""g$t AS (SELECT
             |    CAST(sum(CAST(floor(x * ((p.w * x + p.b) - y) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS stw,
             |    CAST(sum(CAST(floor(((p.w * x + p.b) - y) * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS stb
             |  FROM pairs, $prev p),
             |h$t AS (SELECT p.w, p.b, p.mw, p.mb, p.sw, p.sb,
             |    CAST(stw AS DOUBLE) * 2 / CAST(nn.n AS DOUBLE) / 1e9 AS gw,
             |    CAST(stb AS DOUBLE) * 2 / CAST(nn.n AS DOUBLE) / 1e9 AS gb
             |  FROM g$t, $prev p, nn),
             |i$t AS (SELECT w, b, gw, gb,
             |    0.5 * mw + 0.5 * gw AS mw2, 0.5 * mb + 0.5 * gb AS mb2,
             |    sw, sb FROM h$t),
             |j$t AS (SELECT w, b, gw, gb, mw2, mb2,
             |    0.75 * sw + 0.25 * ((gw - mw2) * (gw - mw2)) + 1e-16 AS sw2,
             |    0.75 * sb + 0.25 * ((gb - mb2) * (gb - mb2)) + 1e-16 AS sb2
             |  FROM i$t),
             |u$t AS (SELECT $t AS epoch,
             |    w - 0.0625 * (mw2 / $bc1) / (sqrt(sw2 / $bc2) + 1e-8) AS w,
             |    b - 0.0625 * (mb2 / $bc1) / (sqrt(sb2 / $bc2) + 1e-8) AS b,
             |    mw2 AS mw, mb2 AS mb, sw2 AS sw, sb2 AS sb, gw, gb
             |  FROM j$t)""".stripMargin
        }.mkString(",\n")
        val sel = (1 to epochs)
          .map(t => s"SELECT epoch, w, b, gw, gb FROM u$t")
          .mkString("\n UNION ALL ")
        s"""WITH $HourlyCloseCte,
           |r AS (SELECT user_id, bucket_s,
           |    CAST(floor((ln(close) - ln(lag(close, 1) OVER (PARTITION BY user_id
           |      ORDER BY bucket_s))) * 1e6 + 0.5) AS BIGINT) AS rq
           |  FROM (SELECT * FROM agg WHERE close > 0)),
           |rr AS (SELECT user_id, bucket_s, rq,
           |    lead(rq, 1) OVER (PARTITION BY user_id ORDER BY bucket_s) AS yq
           |  FROM r WHERE rq IS NOT NULL),
           |pairs AS (SELECT CAST(rq AS DOUBLE) / 1e6 AS x,
           |    CAST(yq AS DOUBLE) / 1e6 AS y
           |  FROM rr WHERE yq IS NOT NULL),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs),
           |w0 AS (SELECT CAST(0 AS DOUBLE) AS w, CAST(0 AS DOUBLE) AS b,
           |  CAST(0 AS DOUBLE) AS mw, CAST(0 AS DOUBLE) AS mb,
           |  CAST(0 AS DOUBLE) AS sw, CAST(0 AS DOUBLE) AS sb),
           |$stages
           |SELECT epoch, ${sqlRound("w", 9)} AS w, ${sqlRound("b", 9)} AS b,
           |  ${sqlRound("gw", 9)} AS gw, ${sqlRound("gb", 9)} AS gb
           |FROM ($sel) ORDER BY epoch""".stripMargin
      }))

  // ------------------------------------------------------------------
  // q268: range-based realized-volatility estimators on daily OHLC bars
  // — Parkinson (1980), Garman–Klass (1980), Rogers–Satchell (1991),
  // all public knowledge. Each daily bar contributes one term per
  // estimator; terms are 1e-9-quantized to BIGINT before summing
  // (order-free integer arithmetic — the q249 discipline), and the
  // per-user estimate is the exact rational mean rounded at the end.
  // The Garman–Klass term can be negative on drift-heavy days and
  // Rogers–Satchell is drift-robust by construction — both survive the
  // signed quantization (pround's floor(x·p + 0.5) form is portable
  // for negatives). 100 TB: one (user, day) aggregation with map-side
  // combine, then a user-sized rollup; no joins, no windows.
  // ------------------------------------------------------------------
  private val riskEstimators: Seq[Q] = Seq(
    Q("q268_realized_vol",
      (s, d) => {
        val bars = graft.Queries.barsResampled(s, d, 86400, emitEmpty = false)
          // log-safety domain guard: all four bar prices must be
          // strictly positive (the corpus satisfies it; the filter is
          // the documented domain, not a data patch).
          .filter(col("low") > 0)
        def q9(c: org.apache.spark.sql.Column) =
          floor(c * 1e9 + 0.5).cast("long")
        val lhl = log(col("high") / col("low"))
        val lco = log(col("close") / col("open"))
        val terms = bars.select(col("user_id"),
          q9(lhl * lhl / lit(4.0 * math.log(2.0))).as("pk"),
          q9(lit(0.5) * lhl * lhl -
            lit(2.0 * math.log(2.0) - 1.0) * lco * lco).as("gk"),
          q9(log(col("high") / col("close")) * log(col("high") / col("open")) +
            log(col("low") / col("close")) * log(col("low") / col("open")))
            .as("rs"))
        terms.groupBy("user_id")
          .agg(count(lit(1)).as("n_days"),
            sum("pk").as("spk"), sum("gk").as("sgk"), sum("rs").as("srs"))
          .select(col("user_id"), col("n_days"),
            pround(col("spk").cast("double") / col("n_days") / 1e9, 6)
              .as("parkinson"),
            pround(col("sgk").cast("double") / col("n_days") / 1e9, 6)
              .as("garman_klass"),
            pround(col("srs").cast("double") / col("n_days") / 1e9, 6)
              .as("rogers_satchell"))
          .orderBy("user_id")
      },
      Some(s"""WITH b AS (SELECT user_id,
             |    CAST(ceil(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_s,
             |    arg_min(value, ts) AS open, max(value) AS high,
             |    min(value) AS low, arg_max(value, ts) AS close
             |  FROM events GROUP BY 1, 2),
             |t AS (SELECT user_id,
             |    CAST(floor((ln(high/low)*ln(high/low) / (4.0*ln(2.0))) * 1e9 + 0.5)
             |      AS BIGINT) AS pk,
             |    CAST(floor((0.5*ln(high/low)*ln(high/low)
             |      - (2.0*ln(2.0) - 1.0)*ln(close/open)*ln(close/open)) * 1e9 + 0.5)
             |      AS BIGINT) AS gk,
             |    CAST(floor((ln(high/close)*ln(high/open)
             |      + ln(low/close)*ln(low/open)) * 1e9 + 0.5) AS BIGINT) AS rs
             |  FROM b WHERE low > 0)
             |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
             |  ${sqlRound("CAST(sum(pk) AS DOUBLE) / count(*) / 1e9", 6)} AS parkinson,
             |  ${sqlRound("CAST(sum(gk) AS DOUBLE) / count(*) / 1e9", 6)} AS garman_klass,
             |  ${sqlRound("CAST(sum(rs) AS DOUBLE) / count(*) / 1e9", 6)} AS rogers_satchell
             |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin)))

  def all: Seq[Q] = forecasting ++ backtest ++ panel ++ streamed ++
    crossSection ++ stateSpace ++ detection ++ mining2 ++ cv ++ strategy ++
    portfolio ++ streamed2 ++ training ++ riskEstimators
}
