package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ohlcv.{Features, Indicators}
import graft.Queries.{hourlyBars, Q}
import graft.Rounding.{pround, sqlRound}

/** Fourth TA-query batch (F14 completion): the `add_all_ta_features`
  * families the first three batches didn't cover — VWAP, Ichimoku,
  * Aroon, WMA, awesome oscillator, Ulcer index, KST, ADI, VPT, NVI,
  * mass index, TSI, PVO, stochastic RSI, PSAR, STC — each with a DuckDB
  * oracle mirroring the engine's arithmetic exactly (sequential HOF list
  * sums for window statistics, recursive CTEs for EMA recurrences,
  * `MATERIALIZED` bridges between chained recursions).
  */
object TaQueries {

  private def hourlyClose(s: SparkSession, d: String) =
    Queries.hourlyResampled(s, d, emitEmpty = false)
      .select("user_id", "bucket_s", "close")

  // --------------------------------------------------------------
  // Window-shaped families
  // --------------------------------------------------------------

  private val windowed: Seq[Q] = Seq(
    Q("q85_vwap",
      (s, d) =>
        Indicators.withVwap(hourlyBars(s, d), "user_id", "bucket_s", w = 14)
          .filter(col("vwap").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("vwap"), 6).as("vwap"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |l AS (SELECT user_id, bucket_s,
              |    list((high + low + close) / 3.0 * volume) OVER w AS tpvs,
              |    list(volume) OVER w AS vols
              |  FROM aggv
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("list_sum(tpvs) / list_sum(vols)", 6)} AS vwap
              |FROM l WHERE len(tpvs) = 14 AND list_sum(vols) <> 0
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q86_ichimoku",
      (s, d) =>
        Indicators.withIchimoku(hourlyBars(s, d), "user_id", "bucket_s")
          .select(col("user_id"), col("bucket_s"),
            pround(col("ichimoku_conv"), 6).as("ichimoku_conv"),
            pround(col("ichimoku_base"), 6).as("ichimoku_base"),
            pround(col("ichimoku_a"), 6).as("ichimoku_a"),
            pround(col("ichimoku_b"), 6).as("ichimoku_b"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |m AS (SELECT user_id, bucket_s,
              |    (max(high) OVER w1 + min(low) OVER w1) / 2.0 AS conv,
              |    (max(high) OVER w2 + min(low) OVER w2) / 2.0 AS base,
              |    (max(high) OVER w3 + min(low) OVER w3) / 2.0 AS spanb
              |  FROM aggv
              |  WINDOW w1 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
              |    w2 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
              |    w3 AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 51 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s, ${sqlRound("conv", 6)} AS ichimoku_conv,
              |  ${sqlRound("base", 6)} AS ichimoku_base,
              |  ${sqlRound("(conv + base) / 2.0", 6)} AS ichimoku_a,
              |  ${sqlRound("spanb", 6)} AS ichimoku_b
              |FROM m ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q87_aroon",
      (s, d) =>
        Indicators.withAroon(hourlyClose(s, d), "user_id", "bucket_s", w = 25)
          .filter(col("aroon_up").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("aroon_up"), 6).as("aroon_up"),
            pround(col("aroon_down"), 6).as("aroon_down"),
            pround(col("aroon_osc"), 6).as("aroon_osc"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyCloseCte},
              |l AS (SELECT user_id, bucket_s,
              |    list(close) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS cs
              |  FROM agg),
              |a AS (SELECT user_id, bucket_s,
              |    100.0 * CAST(list_position(cs, list_max(cs)) AS DOUBLE) / 25 AS aroon_up,
              |    100.0 * CAST(list_position(cs, list_min(cs)) AS DOUBLE) / 25 AS aroon_down
              |  FROM l WHERE len(cs) = 25)
              |SELECT user_id, bucket_s, ${sqlRound("aroon_up", 6)} AS aroon_up,
              |  ${sqlRound("aroon_down", 6)} AS aroon_down,
              |  ${sqlRound("aroon_up - aroon_down", 6)} AS aroon_osc
              |FROM a ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q88_wma",
      (s, d) =>
        Indicators.withWma(hourlyClose(s, d), "user_id", "bucket_s", w = 9)
          .filter(col("wma").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("wma"), 6).as("wma"))
          .orderBy("user_id", "bucket_s"),
      Some {
        val wts = (1 to 9).map(i => s"$i.0").mkString("[", ", ", "]")
        s"""WITH ${Queries.HourlyCloseCte},
           |l AS (SELECT user_id, bucket_s,
           |    list(close) OVER (PARTITION BY user_id ORDER BY bucket_s
           |      ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS cs
           |  FROM agg)
           |SELECT user_id, bucket_s,
           |  ${sqlRound(s"list_sum([z[1] * z[2] FOR z IN list_zip(cs, $wts)]) / 45.0", 6)} AS wma
           |FROM l WHERE len(cs) = 9 ORDER BY user_id, bucket_s""".stripMargin
      }),

    Q("q89_awesome",
      (s, d) =>
        Indicators.withAwesome(hourlyBars(s, d), "user_id", "bucket_s")
          .filter(col("ao").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("ao"), 6).as("ao"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |l AS (SELECT user_id, bucket_s,
              |    list((high + low) / 2.0) OVER wf AS mf,
              |    list((high + low) / 2.0) OVER ws AS ms
              |  FROM aggv
              |  WINDOW wf AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
              |    ws AS (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 33 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s,
              |  ${sqlRound("list_sum(mf) / 5.0 - list_sum(ms) / 34.0", 6)} AS ao
              |FROM l WHERE len(ms) = 34 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q90_ulcer",
      (s, d) =>
        Indicators.withUlcer(hourlyClose(s, d), "user_id", "bucket_s", w = 14)
          .filter(col("ulcer").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("ulcer"), 6).as("ulcer"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyCloseCte},
              |r AS (SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 14
              |      THEN 100.0 * (close - max(close) OVER w) / (max(close) OVER w) END AS dd
              |  FROM agg
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
              |l AS (SELECT user_id, bucket_s,
              |    list(dd) OVER (PARTITION BY user_id ORDER BY bucket_s
              |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS dds
              |  FROM r WHERE dd IS NOT NULL)
              |SELECT user_id, bucket_s,
              |  ${sqlRound("sqrt(list_sum([x * x FOR x IN dds]) / 14)", 6)} AS ulcer
              |FROM l WHERE len(dds) = 14 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q91_kst",
      (s, d) =>
        Indicators.withKst(hourlyClose(s, d), "user_id", "bucket_s")
          .filter(col("kst_sig").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("kst"), 4).as("kst"),
            pround(col("kst_sig"), 4).as("kst_sig"))
          .orderBy("user_id", "bucket_s"),
      Some {
        val rocs = Seq(10, 15, 20, 30)
        val smooths = Seq(10, 10, 10, 15)
        val rocCols = rocs.zipWithIndex.map { case (r, i) =>
          s"CASE WHEN lag(close, $r) OVER pw IS NOT NULL AND lag(close, $r) OVER pw <> 0 " +
            s"THEN (close - lag(close, $r) OVER pw) / lag(close, $r) OVER pw END AS roc$i"
        }.mkString(",\n    ")
        val maCols = smooths.zipWithIndex.map { case (n, i) =>
          s"CASE WHEN count(roc$i) OVER (PARTITION BY user_id ORDER BY bucket_s " +
            s"ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) = $n " +
            s"THEN avg(roc$i) OVER (PARTITION BY user_id ORDER BY bucket_s " +
            s"ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) END AS rm$i"
        }.mkString(",\n    ")
        s"""WITH ${Queries.HourlyCloseCte},
           |r AS (SELECT user_id, bucket_s,
           |    $rocCols
           |  FROM agg WINDOW pw AS (PARTITION BY user_id ORDER BY bucket_s)),
           |m AS (SELECT user_id, bucket_s,
           |    $maCols
           |  FROM r),
           |k AS (SELECT user_id, bucket_s,
           |    100.0 * (rm0 + 2.0 * rm1 + 3.0 * rm2 + 4.0 * rm3) AS kst
           |  FROM m),
           |sg AS (SELECT user_id, bucket_s, kst,
           |    CASE WHEN count(kst) OVER w9 = 9 THEN avg(kst) OVER w9 END AS kst_sig
           |  FROM k
           |  WINDOW w9 AS (PARTITION BY user_id ORDER BY bucket_s
           |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
           |SELECT user_id, bucket_s, ${sqlRound("kst", 4)} AS kst,
           |  ${sqlRound("kst_sig", 4)} AS kst_sig
           |FROM sg WHERE kst_sig IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin
      }))

  // --------------------------------------------------------------
  // Cumulative / scan families
  // --------------------------------------------------------------

  private val cumulative: Seq[Q] = Seq(
    // Bucket volume is an aggregation-order-dependent sum, so cumulative
    // volume lines carry ~1e-10 absolute noise (q54 precedent): round 2.
    Q("q92_adi",
      (s, d) =>
        Indicators.withAdi(hourlyBars(s, d), "user_id", "bucket_s")
          .select(col("user_id"), col("bucket_s"), pround(col("adi"), 2).as("adi"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte}
              |SELECT user_id, bucket_s, ${sqlRound("adi", 2)} AS adi FROM (
              |  SELECT user_id, bucket_s,
              |    sum((CASE WHEN high > low
              |        THEN ((close - low) - (high - close)) / (high - low)
              |        ELSE 0.0 END) * volume)
              |      OVER (PARTITION BY user_id ORDER BY bucket_s
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adi
              |  FROM aggv)
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q93_vpt",
      (s, d) =>
        Indicators.withVpt(hourlyBars(s, d), "user_id", "bucket_s")
          .filter(col("vpt").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("vpt"), 4).as("vpt"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH ${Queries.HourlyOhlcvCte},
              |t AS (SELECT user_id, bucket_s,
              |    CASE WHEN pc IS NOT NULL AND pc <> 0
              |      THEN volume * (close - pc) / pc END AS term
              |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY bucket_s) AS pc
              |    FROM aggv)),
              |c AS (SELECT user_id, bucket_s,
              |    count(term) OVER cw AS n, sum(term) OVER cw AS vpt
              |  FROM t
              |  WINDOW cw AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s, ${sqlRound("vpt", 4)} AS vpt
              |FROM c WHERE n > 0 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q94_nvi",
      (s, d) =>
        Indicators.withNvi(hourlyBars(s, d), "user_id", "bucket_s")
          .select(col("user_id"), col("bucket_s"), pround(col("nvi"), 6).as("nvi"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, close, volume,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |b AS (SELECT *, lag(close) OVER pw AS pc, lag(volume) OVER pw AS pv
              |  FROM ord WINDOW pw AS (PARTITION BY user_id ORDER BY rn)),
              |rec AS (
              |  SELECT user_id, bucket_s, rn, CAST(1000.0 AS DOUBLE) AS nvi
              |  FROM b WHERE rn = 1
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn,
              |    CASE WHEN o.volume < o.pv AND o.pc <> 0
              |      THEN r.nvi * (1.0 + (o.close - o.pc) / o.pc)
              |      ELSE r.nvi END
              |  FROM b o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
              |SELECT user_id, bucket_s, ${sqlRound("nvi", 6)} AS nvi
              |FROM rec ORDER BY user_id, bucket_s""".stripMargin)))

  // --------------------------------------------------------------
  // EMA-recurrence families. Chained EMA stages ride ONE recursion
  // carrying all states with CASE-gated seeds (the q74 TRIX pattern);
  // recursions feeding window stages hand off through plain CTEs.
  // --------------------------------------------------------------

  private val recurrent: Seq[Q] = Seq(
    Q("q95_mass_index",
      (s, d) =>
        Indicators.withMassIndex(hourlyBars(s, d), "user_id", "bucket_s")
          .filter(col("mass_index").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("mass_index"), 6).as("mass_index"))
          .orderBy("user_id", "bucket_s"),
      Some {
        val a = "2.0 / 10.0"
        val e1t = s"($a) * o.rng + (1.0 - ($a)) * r.e1"
        s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
           |ord AS (SELECT user_id, bucket_s, high - low AS rng,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM aggv),
           |rec AS (
           |  SELECT user_id, bucket_s, rng, rn, rng AS e1, CAST(NULL AS DOUBLE) AS e2
           |  FROM ord WHERE rn = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.rng, o.rn,
           |    $e1t,
           |    CASE WHEN o.rn < 9 THEN NULL
           |         WHEN o.rn = 9 THEN $e1t
           |         ELSE ($a) * ($e1t) + (1.0 - ($a)) * r.e2 END
           |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1),
           |q AS (SELECT user_id, bucket_s, e1 / e2 AS ratio
           |  FROM rec WHERE rn >= 17 AND e2 <> 0),
           |l AS (SELECT user_id, bucket_s,
           |    list(ratio) OVER (PARTITION BY user_id ORDER BY bucket_s
           |      ROWS BETWEEN 24 PRECEDING AND CURRENT ROW) AS rs
           |  FROM q)
           |SELECT user_id, bucket_s, ${sqlRound("list_sum(rs)", 6)} AS mass_index
           |FROM l WHERE len(rs) = 25 ORDER BY user_id, bucket_s""".stripMargin
      }),

    Q("q96_tsi",
      (s, d) =>
        Indicators.withTsi(hourlyClose(s, d), "user_id", "bucket_s")
          .filter(col("tsi").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("tsi"), 6).as("tsi"))
          .orderBy("user_id", "bucket_s"),
      Some {
        val aS = "2.0 / 26.0"
        val aF = "2.0 / 14.0"
        val mst = s"($aS) * o.m + (1.0 - ($aS)) * r.ms"
        val ast = s"($aS) * o.am + (1.0 - ($aS)) * r.as_"
        s"""WITH RECURSIVE ${Queries.HourlyCloseCte},
           |ord AS (SELECT user_id, bucket_s, close,
           |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
           |  FROM agg),
           |b AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
           |    close - pc AS m, abs(close - pc) AS am
           |  FROM (SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS pc FROM ord)
           |  WHERE pc IS NOT NULL),
           |rec AS (
           |  SELECT user_id, bucket_s, m, am, rn2, m AS ms, am AS as_,
           |    CAST(NULL AS DOUBLE) AS msf, CAST(NULL AS DOUBLE) AS asf
           |  FROM b WHERE rn2 = 1
           |  UNION ALL
           |  SELECT o.user_id, o.bucket_s, o.m, o.am, o.rn2,
           |    $mst,
           |    $ast,
           |    CASE WHEN o.rn2 < 25 THEN NULL
           |         WHEN o.rn2 = 25 THEN $mst
           |         ELSE ($aF) * ($mst) + (1.0 - ($aF)) * r.msf END,
           |    CASE WHEN o.rn2 < 25 THEN NULL
           |         WHEN o.rn2 = 25 THEN $ast
           |         ELSE ($aF) * ($ast) + (1.0 - ($aF)) * r.asf END
           |  FROM b o JOIN rec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1)
           |SELECT user_id, bucket_s,
           |  ${sqlRound("100.0 * msf / asf", 6)} AS tsi
           |FROM rec WHERE rn2 >= 37 AND asf <> 0
           |ORDER BY user_id, bucket_s""".stripMargin
      }),

    Q("q97_pvo",
      (s, d) =>
        Indicators.withPvo(hourlyBars(s, d), "user_id", "bucket_s")
          .filter(col("pvo_hist").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("pvo"), 6).as("pvo"),
            pround(col("pvo_signal"), 6).as("pvo_signal"),
            pround(col("pvo_hist"), 6).as("pvo_hist"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
              |ord AS (SELECT user_id, bucket_s, volume,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM aggv),
              |${ExtraQueries.emaRec("e12", "ord", "volume", "rn", "2.0 / 13.0")},
              |${ExtraQueries.emaRec("e26", "ord", "volume", "rn", "2.0 / 27.0")},
              |m AS (SELECT a.user_id, a.bucket_s, a.rn,
              |    CASE WHEN b.e <> 0 THEN 100.0 * (a.e - b.e) / b.e END AS pvo
              |  FROM e12 a JOIN e26 b ON a.user_id = b.user_id AND a.rn = b.rn
              |  WHERE a.rn >= 26),
              |mo AS MATERIALIZED (SELECT user_id, bucket_s, pvo,
              |    row_number() OVER (PARTITION BY user_id ORDER BY rn) AS rn2
              |  FROM m WHERE pvo IS NOT NULL),
              |${ExtraQueries.emaRec("sig", "mo", "pvo", "rn2", "2.0 / 10.0")}
              |SELECT user_id, bucket_s, ${sqlRound("pvo", 6)} AS pvo,
              |  ${sqlRound("e", 6)} AS pvo_signal,
              |  ${sqlRound("pvo - e", 6)} AS pvo_hist
              |FROM sig WHERE rn2 >= 9 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q98_stochrsi",
      (s, d) =>
        Indicators.withStochRsi(hourlyClose(s, d), "user_id", "bucket_s")
          .filter(col("stochrsi_d").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("stochrsi"), 6).as("stochrsi"),
            pround(col("stochrsi_k"), 6).as("stochrsi_k"),
            pround(col("stochrsi_d"), 6).as("stochrsi_d"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""WITH RECURSIVE ${Queries.HourlyCloseCte},
              |ord AS (SELECT user_id, bucket_s, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM agg),
              |d AS (SELECT user_id, bucket_s, rn,
              |    close - lag(close) OVER (PARTITION BY user_id ORDER BY rn) AS df
              |  FROM ord),
              |uo AS (SELECT user_id, bucket_s, rn - 1 AS rn2,
              |    greatest(df, 0.0) AS up, greatest(-df, 0.0) AS dn
              |  FROM d WHERE df IS NOT NULL),
              |urec AS (
              |  SELECT user_id, bucket_s, rn2, up, dn, up AS ue, dn AS de
              |  FROM uo WHERE rn2 = 1
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.rn2, o.up, o.dn,
              |    (1.0 / 14.0) * o.up + (1.0 - 1.0 / 14.0) * r.ue,
              |    (1.0 / 14.0) * o.dn + (1.0 - 1.0 / 14.0) * r.de
              |  FROM uo o JOIN urec r ON o.user_id = r.user_id AND o.rn2 = r.rn2 + 1),
              |f AS (SELECT user_id, bucket_s,
              |    CASE WHEN de = 0 THEN 100.0
              |      ELSE 100.0 - 100.0 / (1.0 + ue / de) END AS rsi
              |  FROM urec WHERE rn2 >= 14),
              |sr AS (SELECT user_id, bucket_s,
              |    CASE WHEN count(rsi) OVER w = 14 AND max(rsi) OVER w > min(rsi) OVER w
              |      THEN (rsi - min(rsi) OVER w) / (max(rsi) OVER w - min(rsi) OVER w)
              |    END AS srsi
              |  FROM f
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
              |k AS (SELECT user_id, bucket_s, srsi,
              |    CASE WHEN count(srsi) OVER w3 = 3 THEN avg(srsi) OVER w3 END AS srsi_k
              |  FROM sr
              |  WINDOW w3 AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
              |dd AS (SELECT user_id, bucket_s, srsi, srsi_k,
              |    CASE WHEN count(srsi_k) OVER w3b = 3 THEN avg(srsi_k) OVER w3b END AS srsi_d
              |  FROM k
              |  WINDOW w3b AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
              |SELECT user_id, bucket_s, ${sqlRound("srsi", 6)} AS stochrsi,
              |  ${sqlRound("srsi_k", 6)} AS stochrsi_k,
              |  ${sqlRound("srsi_d", 6)} AS stochrsi_d
              |FROM dd WHERE srsi_d IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)))

  // --------------------------------------------------------------
  // State-machine families: PSAR's trend-flip recurrence (one
  // recursion carrying psar/trend/af/extremes) and STC's EMA→stoch→
  // EMA→stoch→EMA chain (three recursions bridged by MATERIALIZED
  // CTEs so DuckDB doesn't re-evaluate upstream recursions per
  // iteration — the q74 blowup).
  // --------------------------------------------------------------

  private val stateful: Seq[Q] = {
    // Candidate SAR before reversal/clamp checks, from the prior state.
    val s0 = "(r.psar + r.af * (r.uth - r.psar))"
    val s0d = "(r.psar - r.af * (r.psar - r.dtl))"
    Seq(
      Q("q99_psar",
        (s, d) =>
          Indicators.withPsar(hourlyBars(s, d), "user_id", "bucket_s")
            .filter(col("psar").isNotNull)
            .select(col("user_id"), col("bucket_s"),
              pround(col("psar"), 6).as("psar"), col("psar_up_trend"))
            .orderBy("user_id", "bucket_s"),
        Some(s"""WITH RECURSIVE ${Queries.HourlyOhlcvCte},
                |ord AS (SELECT user_id, bucket_s, high, low, close,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
                |  FROM aggv),
                |b AS (SELECT *, lag(high, 1) OVER pw AS h1, lag(high, 2) OVER pw AS h2,
                |    lag(low, 1) OVER pw AS l1, lag(low, 2) OVER pw AS l2
                |  FROM ord WINDOW pw AS (PARTITION BY user_id ORDER BY rn)),
                |rec AS (
                |  SELECT user_id, bucket_s, rn, close AS psar, true AS trend,
                |    CAST(0.02 AS DOUBLE) AS af, h1 AS uth, l1 AS dtl
                |  FROM b WHERE rn = 2
                |  UNION ALL
                |  SELECT o.user_id, o.bucket_s, o.rn,
                |    CASE WHEN r.trend THEN
                |      CASE WHEN o.low < $s0 THEN r.uth
                |           WHEN o.l2 < $s0 THEN o.l2
                |           WHEN o.l1 < $s0 THEN o.l1
                |           ELSE $s0 END
                |    ELSE
                |      CASE WHEN o.high > $s0d THEN r.dtl
                |           WHEN o.h2 > $s0d THEN o.h2
                |           WHEN o.h1 > $s0d THEN o.h1
                |           ELSE $s0d END
                |    END,
                |    CASE WHEN r.trend THEN NOT (o.low < $s0)
                |         ELSE (o.high > $s0d) END,
                |    CASE WHEN r.trend THEN
                |      CASE WHEN o.low < $s0 THEN CAST(0.02 AS DOUBLE)
                |           WHEN o.high > r.uth THEN least(r.af + 0.02, 0.2)
                |           ELSE r.af END
                |    ELSE
                |      CASE WHEN o.high > $s0d THEN CAST(0.02 AS DOUBLE)
                |           WHEN o.low < r.dtl THEN least(r.af + 0.02, 0.2)
                |           ELSE r.af END
                |    END,
                |    CASE WHEN r.trend THEN
                |      CASE WHEN o.low < $s0 THEN r.uth
                |           WHEN o.high > r.uth THEN o.high
                |           ELSE r.uth END
                |    ELSE
                |      CASE WHEN o.high > $s0d THEN o.high ELSE r.uth END
                |    END,
                |    CASE WHEN r.trend THEN
                |      CASE WHEN o.low < $s0 THEN o.low ELSE r.dtl END
                |    ELSE
                |      CASE WHEN o.high > $s0d THEN r.dtl
                |           WHEN o.low < r.dtl THEN o.low ELSE r.dtl END
                |    END
                |  FROM b o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
                |SELECT user_id, bucket_s, ${sqlRound("psar", 6)} AS psar,
                |  trend AS psar_up_trend
                |FROM rec WHERE rn >= 3 ORDER BY user_id, bucket_s""".stripMargin)),

      Q("q100_stc",
        (s, d) =>
          Indicators.withStc(hourlyClose(s, d), "user_id", "bucket_s")
            .filter(col("stc").isNotNull)
            .select(col("user_id"), col("bucket_s"), pround(col("stc"), 6).as("stc"))
            .orderBy("user_id", "bucket_s"),
        Some(s"""WITH RECURSIVE ${Queries.HourlyCloseCte},
                |ord AS (SELECT user_id, bucket_s, close,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
                |  FROM agg),
                |rec1 AS (
                |  SELECT user_id, bucket_s, close, rn, close AS ef, close AS es
                |  FROM ord WHERE rn = 1
                |  UNION ALL
                |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
                |    (2.0 / 24.0) * o.close + (1.0 - 2.0 / 24.0) * r.ef,
                |    (2.0 / 51.0) * o.close + (1.0 - 2.0 / 51.0) * r.es
                |  FROM ord o JOIN rec1 r ON o.user_id = r.user_id AND o.rn = r.rn + 1),
                |m1 AS MATERIALIZED (
                |  SELECT user_id, bucket_s, ef - es AS macd FROM rec1 WHERE rn >= 50),
                |k0 AS (SELECT user_id, bucket_s, macd, count(macd) OVER w AS c,
                |    min(macd) OVER w AS lo, max(macd) OVER w AS hi
                |  FROM m1
                |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
                |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
                |k AS (SELECT user_id, bucket_s,
                |    100.0 * (macd - lo) / (hi - lo) AS k,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn3
                |  FROM k0 WHERE c = 10 AND hi > lo),
                |${ExtraQueries.emaRec("rec2", "k", "k", "rn3", "2.0 / 4.0")},
                |m2 AS MATERIALIZED (
                |  SELECT user_id, bucket_s, e AS d FROM rec2 WHERE rn3 >= 3),
                |kd0 AS (SELECT user_id, bucket_s, d, count(d) OVER wk AS c,
                |    min(d) OVER wk AS lo, max(d) OVER wk AS hi
                |  FROM m2
                |  WINDOW wk AS (PARTITION BY user_id ORDER BY bucket_s
                |    ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
                |kd AS (SELECT user_id, bucket_s,
                |    100.0 * (d - lo) / (hi - lo) AS kd,
                |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn5
                |  FROM kd0 WHERE c = 10 AND hi > lo),
                |${ExtraQueries.emaRec("rec3", "kd", "kd", "rn5", "2.0 / 4.0")}
                |SELECT user_id, bucket_s, ${sqlRound("e", 6)} AS stc
                |FROM rec3 WHERE rn5 >= 3 ORDER BY user_id, bucket_s""".stripMargin)))
  }

  // --------------------------------------------------------------
  // Decoder (M2 analog): reconstruction error of the mean-pool
  // encode→decode round trip over the flagship's z-scored windows.
  // --------------------------------------------------------------

  private val decode: Seq[Q] = {
    val SeqLen = 24
    val Dim = 6
    val Bucket = SeqLen / Dim
    val meanPool = (0 until Dim).map { i =>
      s"list_sum(z[(${i * Bucket} + 1):(${i * Bucket} + $Bucket)]) / $Bucket"
    }.mkString("[", ", ", "]")
    Seq(
      Q("q102_decode_mse",
        (s, d) => {
          import graft.ohlcv.{Encode, Windows}
          val wins = Windows.slidingZscored(Flagship.filledSeries(s, d),
            "user_id", "idx", "close", SeqLen)
            .filter(col("scale") > 1e-6)
          val withDec = wins
            .withColumn("__e", Encode.meanPool(col("zvalues"), SeqLen, Dim))
            .withColumn("__d", Encode.meanPoolDecode(col("__e"), SeqLen, Dim))
          withDec.select(col("user_id"), col("start_idx"),
            pround(
              aggregate(zip_with(col("zvalues"), col("__d"), (a, b) => (a - b) * (a - b)),
                lit(0.0), (acc, x) => acc + x) / SeqLen, 6).as("recon_mse"))
            .orderBy("user_id", "start_idx")
        },
        Some(s"""WITH ${Queries.FilledCloseCte},
                |series AS (SELECT user_id, CAST(bucket_s / 3600 AS BIGINT) AS idx, close FROM filled),
                |win0 AS (SELECT user_id, idx AS start_idx,
                |    list(close) OVER (PARTITION BY user_id ORDER BY idx
                |      ROWS BETWEEN CURRENT ROW AND ${SeqLen - 1} FOLLOWING) AS vs
                |  FROM series),
                |win1 AS (SELECT user_id, start_idx, vs, list_sum(vs) / $SeqLen AS c
                |  FROM win0 WHERE len(vs) = $SeqLen),
                |win2 AS (SELECT user_id, start_idx, vs, c,
                |    sqrt(list_sum([(x - c) * (x - c) FOR x IN vs]) / $SeqLen) AS sc
                |  FROM win1),
                |wins AS (SELECT user_id, start_idx,
                |    [(x - c) / (sc + 1e-8) FOR x IN vs] AS z
                |  FROM win2 WHERE sc > 1e-6),
                |emb AS (SELECT user_id, start_idx, z, $meanPool AS e FROM wins),
                |dec AS (SELECT user_id, start_idx, z,
                |    flatten([${(0 until Bucket).map(_ => "x").mkString("[", ", ", "]")} FOR x IN e]) AS d
                |  FROM emb)
                |SELECT user_id, start_idx,
                |  ${sqlRound(s"list_sum([(y[1] - y[2]) * (y[1] - y[2]) FOR y IN list_zip(z, d)]) / $SeqLen", 6)} AS recon_mse
                |FROM dec ORDER BY user_id, start_idx""".stripMargin)))
  }

  // --------------------------------------------------------------
  // Streaming path under the batch oracle: the foreachBatch upsert
  // sink's FINAL TABLE must equal the batch dedup-keep-last (q22)
  // semantics — the streaming twin gets a DuckDB hash check, not just
  // spec assertions. Each call streams the sf events parquet through
  // the real sink (fresh checkpoint + sink dir) and returns the
  // committed table.
  // --------------------------------------------------------------

  private val streamingChecked: Seq[Q] = Seq(
    Q("q103_stream_upsert",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        val stream = StreamHarness.eventStream(s, d)
          .withColumn("__arr", struct(col("ts"), col("event_id")))
        StreamHarness.runFileSink(s, "q103") { (sink, ckpt) =>
          StreamingIngest.foreachBatchUpsert(stream, sink,
            Seq("user_id", "event_type"), "__arr", ckpt)
        } { sink =>
          s.read.parquet(sink)
            .select(col("user_id"), col("event_type"), col("event_id"),
              col("value"))
            .orderBy("user_id", "event_type")
        }
      },
      Some("""SELECT user_id, event_type, event_id, value FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
             |  ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id, event_type""".stripMargin)),

    // Custom streaming state (flatMapGroupsWithState): the per-key EMA
    // recurrence runs INSIDE the stream with (ema, n) carried across
    // micro-batches; one AvailableNow pass must equal the batch EMA over
    // each user's full raw series — checked against the recursive-CTE
    // oracle, the same gate the batch q27 EMA passes.
    Q("q106_stream_ema",
      (s, d) => {
        import graft.streaming.{StreamHarness, StreamingIngest}
        // Truncate raw nanos to µs BEFORE the stateful fold: the oracle's
        // ORDER BY (DuckDB TIMESTAMP) is µs-resolution, so folding on full
        // nanos would reorder the recurrence for events sharing a µs but
        // differing in sub-µs digits (event_id breaks ties identically on
        // both sides).
        val stream = StreamHarness.eventStream(s, d)
        val ema = StreamingIngest.streamingEma(stream, "user_id", "ts_us", "event_id",
          "value", alpha = 2.0 / 11.0, minPeriods = 10)
        StreamHarness.runMemory(ema, "q106") { t =>
          t.filter(col("ema").isNotNull)
            .select(col("key").as("user_id"), col("ts").as("ts_us"),
              pround(col("ema"), 6).as("ema"))
            .orderBy("user_id", "ts_us")
        }
      },
      Some(s"""WITH RECURSIVE ord AS (
              |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, value,
              |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
              |  FROM events),
              |rec AS (
              |  SELECT user_id, ts_us, value, rn, value AS e FROM ord WHERE rn = 1
              |  UNION ALL
              |  SELECT o.user_id, o.ts_us, o.value, o.rn,
              |    (2.0 / 11.0) * o.value + (1.0 - 2.0 / 11.0) * r.e
              |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
              |SELECT user_id, ts_us, ${sqlRound("e", 6)} AS ema
              |FROM rec WHERE rn >= 10 ORDER BY user_id, ts_us""".stripMargin)))

  def all: Seq[Q] =
    windowed ++ cumulative ++ recurrent ++ stateful ++ decode ++ streamingChecked
}
