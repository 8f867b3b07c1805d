package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ohlcv.{Encode, Features, Forecast, Search, TimeSeriesOps, Windows}
import graft.text.{Dedup, TextOps}
import graft.Rounding.{pround, sqlRound}

/** The driver-contract query registry: every operator from SURVEY.md §2
  * (plus the LLM-data-pipeline extensions) exposed as a named DataFrame
  * query over the harness tables, with a matching DuckDB oracle SQL.
  *
  * Parity rules that keep Spark and DuckDB hash-identical:
  *  - no raw timestamps in outputs (epoch seconds / DATE instead);
  *  - every float produced by re-ordered aggregation is `round()`ed the
  *    same way on both sides; floats produced by identical sequential
  *    operation order (HOF array math) are left exact;
  *  - every query ends with a total ORDER BY on non-null keys;
  *  - all hashes are the portable md5-hex-prefix hash (TextOps.md5Hash60).
  */
object Queries {

  /** `oracle` is the usual static DuckDB mirror. `oracleDyn` exists for
    * the fit-transform queries whose mirror must embed values LEARNED
    * during the run (q204's PCA matrix, kept in a [[Fits]] slot): Verify
    * dumps `oracle_sql.json` AFTER executing every query, so a dynamic
    * oracle generated at dump time can carry the fitted parameters as SQL
    * literals — the same plan-literal technique as q101, with the
    * literals bound at run time instead of registration time.
    */
  /** `scaleLimited`, when set, marks a query whose registered plan grows
    * super-linearly in the input by SEMANTIC necessity (e.g. exact
    * all-pairs correlation admits no sub-quadratic plan) and names the
    * registered scale-path alternative a 100×-scale user should run
    * instead. ScaleAnnotationSpec enforces the invariant mechanically:
    * every query whose measured 10× ratio in SCALING.md exceeds the
    * linear budget must carry this annotation, and the named alternative
    * must itself be a registered (oracle-checked) query.
    */
  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      oracleDyn: Option[() => String] = None,
      scaleLimited: Option[String] = None)

  // ------------------------------------------------------------------
  // Relational coverage (TPC-H-ish; SURVEY.md §2.3 note: the harness
  // exercises the join/agg/set-op categories the reference itself lacks)
  // ------------------------------------------------------------------

  private val relational: Seq[Q] = Seq(
    Q("q01_pricing_summary",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            pround(sum("l_quantity"), 2).as("sum_qty"),
            pround(sum("l_extendedprice"), 2).as("sum_base_price"),
            pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            pround(avg("l_quantity"), 4).as("avg_qty"),
            pround(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some(s"""SELECT l_returnflag, l_linestatus,
             |  ${sqlRound("sum(l_quantity)", 2)} AS sum_qty,
             |  ${sqlRound("sum(l_extendedprice)", 2)} AS sum_base_price,
             |  ${sqlRound("sum(l_extendedprice * (1 - l_discount))", 2)} AS sum_disc_price,
             |  ${sqlRound("avg(l_quantity)", 4)} AS avg_qty,
             |  ${sqlRound("avg(l_discount)", 4)} AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q02_filter_project",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_quantity") > 45 && col("l_discount") > 0.08)
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
          .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber,
             |  l_extendedprice * (1 - l_discount) AS revenue
             |FROM lineitem WHERE l_quantity > 45 AND l_discount > 0.08
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("q03_join_agg",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"))
          .agg(pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .orderBy("o_orderkey")
      },
      Some(s"""SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
             |  ${sqlRound("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderkey, CAST(o_orderdate AS DATE)
             |ORDER BY o_orderkey""".stripMargin)),

    Q("q04_exists_semi",
      (s, d) => {
        val o = Tables.orders(s, d)
        val l = Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_shipdate"))
        o.join(l, o("o_orderkey") === l("l_orderkey") &&
            l("l_shipdate") > o("o_orderdate"), "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_orders
             |FROM orders WHERE EXISTS (
             |  SELECT 1 FROM lineitem
             |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    Q("q05_anti_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d).select(col("o_custkey"))
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    Q("q06_broadcast_join",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        val sup = Tables.supplier(s, d)
        // Dimensions are orders of magnitude smaller than lineitem at any
        // SF — broadcast both; the fact scan never shuffles.
        l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
          .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
          .groupBy("p_brand")
          .agg(
            pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            countDistinct(col("s_suppkey")).as("n_suppliers"),
            count(lit(1)).as("n_lines"))
          .orderBy("p_brand")
      },
      Some(s"""SELECT p_brand,
             |  ${sqlRound("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue,
             |  count(DISTINCT s_suppkey) AS n_suppliers,
             |  count(*) AS n_lines
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |JOIN supplier ON l_suppkey = s_suppkey
             |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    Q("q07_window_topk",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        Tables.orders(s, d)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("o_custkey", "rank", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rank")
      },
      Some("""SELECT o_custkey, rank, o_orderkey, o_totalprice FROM (
             |  SELECT o_custkey, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_custkey
             |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
             |  FROM orders) WHERE rank <= 3
             |ORDER BY o_custkey, rank""".stripMargin)),

    Q("q08_running_sum",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d)
          .withColumn("running_total", pround(sum("o_totalprice").over(w), 4))
          .select("o_custkey", "o_orderkey", "running_total")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(s"""SELECT o_custkey, o_orderkey,
             |  ${sqlRound("""sum(o_totalprice) OVER (PARTITION BY o_custkey
             |    ORDER BY o_orderdate ASC, o_orderkey ASC
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", 4)} AS running_total
             |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    Q("q09_setops",
      (s, d) => {
        val highBal = Tables.customer(s, d)
          .filter(col("c_acctbal") > 5000)
          .select(col("c_custkey").as("custkey"))
        val withOrders = Tables.orders(s, d)
          .select(col("o_custkey").as("custkey")).distinct()
        highBal.intersect(withOrders).withColumn("op", lit("intersect"))
          .unionByName(highBal.except(withOrders).withColumn("op", lit("except")))
          .orderBy("op", "custkey")
      },
      Some("""SELECT custkey, 'intersect' AS op FROM (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |  INTERSECT SELECT o_custkey FROM orders)
             |UNION ALL
             |SELECT custkey, 'except' AS op FROM (
             |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
             |  EXCEPT SELECT o_custkey FROM orders)
             |ORDER BY op, custkey""".stripMargin)),

    Q("q10_rollup",
      (s, d) =>
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(pround(sum("l_quantity"), 2).as("sum_qty"), count(lit(1)).as("n"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
            col("sum_qty"), col("n"))
          .orderBy("returnflag", "linestatus"),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             |  coalesce(l_linestatus, 'ALL') AS linestatus,
             |  ${sqlRound("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n
             |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
             |ORDER BY returnflag, linestatus""".stripMargin)),

    Q("q11_count_distinct",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
             |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    Q("q12_global_topk",
      (s, d) =>
        Tables.orders(s, d)
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    Q("q13_json_extract",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"), pround(avg("value"), 4).as("avg_value"))
          .orderBy("k"),
      Some(s"""SELECT CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
             |  count(*) AS n, ${sqlRound("avg(value)", 4)} AS avg_value
             |FROM events GROUP BY k ORDER BY k""".stripMargin)),

    Q("q14_string_funcs",
      (s, d) =>
        Tables.customer(s, d)
          .select(
            col("c_custkey"),
            upper(col("c_mktsegment")).as("seg_upper"),
            substring(col("c_name"), 1, 8).as("name_prefix"),
            length(col("c_name")).as("name_len"),
            concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged"))
          .orderBy("c_custkey"),
      Some("""SELECT c_custkey, upper(c_mktsegment) AS seg_upper,
             |  substr(c_name, 1, 8) AS name_prefix, length(c_name) AS name_len,
             |  concat_ws('|', c_mktsegment, c_name) AS tagged
             |FROM customer ORDER BY c_custkey""".stripMargin)),

    Q("q15_monthly_agg",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(trunc(col("o_orderdate"), "month").as("order_month"))
          .agg(count(lit(1)).as("n_orders"), pround(sum("o_totalprice"), 2).as("total"))
          .orderBy("order_month"),
      Some(s"""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
             |  count(*) AS n_orders, ${sqlRound("sum(o_totalprice)", 2)} AS total
             |FROM orders GROUP BY order_month ORDER BY order_month""".stripMargin)))

  // ------------------------------------------------------------------
  // Time-series operators on `events` (the reference's own surface)
  // ------------------------------------------------------------------

  /** Right-closed OHLCV-ified events at an arbitrary bucket width, via
    * the real resample operator (value plays all five OHLCV roles).
    */
  private[graft] def barsResampled(s: SparkSession, d: String, widthS: Int,
      emitEmpty: Boolean): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("open", col("value"))
      .withColumn("high", col("value"))
      .withColumn("low", col("value"))
      .withColumn("close", col("value"))
      .withColumn("volume", col("value"))
    TimeSeriesOps.resampleOhlcv(ev, "user_id", "ts", widthS, emitEmpty = emitEmpty)
      .withColumn("bucket_s", unix_timestamp(col("ts")))
  }

  private[graft] def hourlyResampled(s: SparkSession, d: String, emitEmpty: Boolean): DataFrame =
    barsResampled(s, d, 3600, emitEmpty)

  /** Hourly OHLCV bars without empty buckets, as the indicator queries read them. */
  private[graft] def hourlyBars(s: SparkSession, d: String): DataFrame =
    hourlyResampled(s, d, emitEmpty = false)
      .select("user_id", "bucket_s", "high", "low", "close", "volume")

  /** Shared oracle CTE: hourly right-closed close per user. */
  private[graft] val HourlyCloseCte =
    """agg AS (
      |  SELECT user_id, CAST(ceil(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
      |    arg_max(value, ts) AS close
      |  FROM events GROUP BY user_id, bucket_s)""".stripMargin

  /** Shared oracle CTE: hourly right-closed OHLCV bars (high/low/close/
    * volume) per user — mirror of [[hourlyResampled]] for the TA oracles.
    */
  private[graft] def ohlcvCte(widthS: Int): String =
    s"""aggv AS (
       |  SELECT user_id, CAST(ceil(epoch(ts) / $widthS) * $widthS AS BIGINT) AS bucket_s,
       |    max(value) AS high, min(value) AS low,
       |    arg_max(value, ts) AS close, sum(value) AS volume
       |  FROM events GROUP BY user_id, bucket_s)""".stripMargin

  private[graft] val HourlyOhlcvCte = ohlcvCte(3600)

  /** Shared oracle CTE: gap-filled + forward-filled hourly close. */
  private[graft] val FilledCloseCte =
    s"""$HourlyCloseCte,
       |spans AS (SELECT user_id, min(bucket_s) AS lo, max(bucket_s) AS hi FROM agg GROUP BY user_id),
       |scaffold AS (SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket_s FROM spans),
       |joined AS (SELECT s.user_id, s.bucket_s, a.close
       |  FROM scaffold s LEFT JOIN agg a ON s.user_id = a.user_id AND s.bucket_s = a.bucket_s),
       |filled AS (
       |  SELECT user_id, bucket_s,
       |    last_value(close IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close
       |  FROM joined)""".stripMargin

  private val timeSeries: Seq[Q] = Seq(
    Q("q20_resample_ohlcv",
      (s, d) =>
        hourlyResampled(s, d, emitEmpty = false)
          .select(col("user_id"), col("bucket_s"), col("open"), col("high"),
            col("low"), col("close"), pround(col("volume"), 4).as("volume"))
          .orderBy("user_id", "bucket_s"),
      Some(s"""SELECT user_id, CAST(ceil(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
             |  arg_min(value, ts) AS "open", max(value) AS high, min(value) AS low,
             |  arg_max(value, ts) AS "close", ${sqlRound("sum(value)", 4)} AS volume
             |FROM events GROUP BY user_id, bucket_s
             |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q21_gapfill_ffill",
      (s, d) => {
        val filled = TimeSeriesOps.ffill(
          hourlyResampled(s, d, emitEmpty = true), "user_id", "bucket_s", Seq("close"))
        filled.select(col("user_id"), col("bucket_s"), col("close"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH $FilledCloseCte
              |SELECT user_id, bucket_s, close FROM filled
              |ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q22_dedup_keep_last",
      (s, d) =>
        TimeSeriesOps.dedupKeepLast(
          Tables.events(s, d), Seq("user_id", "event_type"),
          struct(col("ts"), col("event_id")))
          .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
          .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, value FROM events
             |QUALIFY row_number() OVER (PARTITION BY user_id, event_type
             |  ORDER BY ts DESC, event_id DESC) = 1
             |ORDER BY user_id, event_type""".stripMargin)),

    Q("q23_window_zscore",
      (s, d) =>
        Windows.slidingZscored(
          Tables.events(s, d).select(col("user_id"), col("event_id"), col("value")),
          "user_id", "event_id", "value", len = 24)
          .select(col("user_id"), col("start_idx"),
            pround(col("center"), 6).as("center"),
            pround(col("scale"), 6).as("scale"),
            pround(element_at(col("zvalues"), 1), 6).as("z_first"))
          .orderBy("user_id", "start_idx"),
      Some(s"""WITH w AS (
             |  SELECT user_id, event_id,
             |    list(value) OVER (PARTITION BY user_id ORDER BY event_id
             |      ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING) AS ls
             |  FROM events),
             |c AS (SELECT user_id, event_id, ls, list_sum(ls) / 24 AS center
             |      FROM w WHERE len(ls) = 24),
             |z AS (SELECT user_id, event_id, ls, center,
             |    sqrt(list_sum([(x - center) * (x - center) FOR x IN ls]) / 24) AS scale
             |  FROM c)
             |SELECT user_id, event_id AS start_idx, ${sqlRound("center", 6)} AS center,
             |  ${sqlRound("scale", 6)} AS scale,
             |  ${sqlRound("(ls[1] - center) / (scale + 1e-8)", 6)} AS z_first
             |FROM z ORDER BY user_id, start_idx""".stripMargin)),

    Q("q24_calendar",
      (s, d) =>
        TimeSeriesOps.withCalendar(
          Tables.events(s, d).select(col("event_id"), col("ts")), "ts")
          .select("event_id", "hour", "day", "day_of_week", "month", "week_of_year", "year")
          .orderBy("event_id"),
      Some("""SELECT event_id, hour(ts) AS hour, day(ts) AS day,
             |  isodow(ts) - 1 AS day_of_week, month(ts) AS month,
             |  weekofyear(ts) AS week_of_year, year(ts) AS year
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("q25_time_idx",
      (s, d) =>
        Tables.events(s, d)
          .select(col("event_id"),
            floor((col("ts").cast("double") - TimeSeriesOps.Epoch2000) / 3600)
              .cast("long").as("time_idx"))
          .orderBy("event_id"),
      Some("""SELECT event_id,
             |  CAST(floor((epoch(ts) - 946684800) / 3600) AS BIGINT) AS time_idx
             |FROM events ORDER BY event_id""".stripMargin)),

    Q("q26_sma",
      (s, d) => {
        val hourly = hourlyResampled(s, d, emitEmpty = false)
        hourly
          .withColumn("sma5",
            Features.sma(col("close"), col("user_id"), col("bucket_s"), 5))
          .filter(col("sma5").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("sma5"), 4).as("sma5"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH $HourlyCloseCte
              |SELECT user_id, bucket_s, ${sqlRound("sma5", 4)} AS sma5 FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 5 THEN avg(close) OVER w END AS sma5
              |  FROM agg
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
              |WHERE sma5 IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q27_ema",
      (s, d) => {
        val hourly = hourlyResampled(s, d, emitEmpty = false)
          .select("user_id", "bucket_s", "close")
        Features.withEma(hourly, "user_id", "bucket_s", "close",
          Seq(Features.emaSpanSpec("ema5", 5)))
          .filter(col("ema5").isNotNull)
          .select(col("user_id"), col("bucket_s"), pround(col("ema5"), 4).as("ema5"))
          .orderBy("user_id", "bucket_s")
      },
      // Same α=2/6 constant and same per-step operation order as the
      // RunningEma window function → bit-identical EMA before rounding.
      Some(s"""WITH RECURSIVE $HourlyCloseCte,
              |ord AS (SELECT user_id, bucket_s, close,
              |    row_number() OVER (PARTITION BY user_id ORDER BY bucket_s) AS rn
              |  FROM agg),
              |rec AS (
              |  SELECT user_id, bucket_s, close, rn, close AS ema FROM ord WHERE rn = 1
              |  UNION ALL
              |  SELECT o.user_id, o.bucket_s, o.close, o.rn,
              |    (2.0 / 6.0) * o.close + (1.0 - 2.0 / 6.0) * r.ema
              |  FROM ord o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1)
              |SELECT user_id, bucket_s, ${sqlRound("ema", 4)} AS ema5
              |FROM rec WHERE rn >= 5 ORDER BY user_id, bucket_s""".stripMargin)),

    Q("q29_interval_mode",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        Tables.events(s, d)
          .withColumn("delta_s",
            unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w))
          .filter(col("delta_s").isNotNull)
          .groupBy("delta_s").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("delta_s").asc)
          .limit(5)
      },
      Some("""SELECT delta_s, count(*) AS cnt FROM (
             |  SELECT CAST(floor(epoch(ts)) AS BIGINT)
             |    - lag(CAST(floor(epoch(ts)) AS BIGINT))
             |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS delta_s
             |  FROM events)
             |WHERE delta_s IS NOT NULL GROUP BY delta_s
             |ORDER BY cnt DESC, delta_s ASC LIMIT 5""".stripMargin)))

  def all: Seq[Q] = relational ++ timeSeries ++ VectorTextQueries.all ++ ExtraQueries.all ++ TaQueries.all ++ PipelineQueries.all ++ AnalyticsQueries.all ++ LakeQueries.all ++ ExtensionQueries.all ++ ForecastQueries.all ++ SketchQueries.all ++ TuningQueries.all ++ MediaQueries.all ++ ClassifierQueries.all ++ CrossModalQueries.all

  def byName: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracles: Map[String, String] =
    all.flatMap(q => q.oracleDyn.map(f => q.name -> f())
      .orElse(q.oracle.map(q.name -> _))).toMap
}
