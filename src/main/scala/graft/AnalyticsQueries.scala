package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.{sqlHash60, sqlShingles, sqlToks}
import graft.operators.Funnel
import graft.text.{Bpe, Contamination, Sampling, TextOps}

/** Round-5 batch 2: event-log analytics (ordered funnel, stream-stream
  * join), OLAP pivot, and training-data-pipeline additions (Bloom-pruned
  * decontamination, BPE pair mining, temperature mixture weights) — each
  * with a DuckDB oracle.
  */
object AnalyticsQueries {

  private val funnel: Seq[Q] = Seq(
    // Ordered conversion funnel signup → view → click → purchase: stage k
    // counts only strictly after stage k-1 (product-analytics rule). The
    // engine's stacked conditional window-minima (one shuffle) are checked
    // against an independent DuckDB formulation (cascaded FILTER joins).
    // The latency mean divides an EXACT long sum once, so no
    // fold-order float drift.
    Q("q126_funnel",
      (s, d) => {
        val e = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
        Funnel.stageTimes(e, "user_id", "us", "event_type",
            Seq("signup", "view", "click", "purchase"))
          .agg(
            count(col("t0")).as("n_signup"),
            count(col("t1")).as("n_view"),
            count(col("t2")).as("n_click"),
            count(col("t3")).as("n_purchase"),
            pround(
              sum(col("t3") - col("t0")).cast("double") /
                (count(col("t3")) * lit(1e6)), 6).as("avg_latency_s"))
      },
      Some(s"""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
              |    event_type FROM events),
              |s0 AS (SELECT user_id,
              |    min(us) FILTER (WHERE event_type = 'signup') AS t0
              |  FROM e GROUP BY 1),
              |s1 AS (SELECT e.user_id, s0.t0,
              |    min(e.us) FILTER (WHERE e.event_type = 'view'
              |      AND e.us > s0.t0) AS t1
              |  FROM e JOIN s0 USING (user_id) GROUP BY 1, 2),
              |s2 AS (SELECT e.user_id, s1.t0, s1.t1,
              |    min(e.us) FILTER (WHERE e.event_type = 'click'
              |      AND e.us > s1.t1) AS t2
              |  FROM e JOIN s1 USING (user_id) GROUP BY 1, 2, 3),
              |s3 AS (SELECT e.user_id, s2.t0, s2.t1, s2.t2,
              |    min(e.us) FILTER (WHERE e.event_type = 'purchase'
              |      AND e.us > s2.t2) AS t3
              |  FROM e JOIN s2 USING (user_id) GROUP BY 1, 2, 3, 4)
              |SELECT count(t0) AS n_signup, count(t1) AS n_view,
              |  count(t2) AS n_click, count(t3) AS n_purchase,
              |  ${sqlRound("CAST(sum(t3 - t0) AS DOUBLE) / (count(t3) * 1e6)", 6)}
              |    AS avg_latency_s
              |FROM s3""".stripMargin)),

    // Stream-stream interval join (Structured Streaming, both sides
    // watermarked, inner join with a time-range condition): every click
    // paired with the same user's errors in the following 5 minutes. With
    // replayed history the append-mode inner join emits exactly the batch
    // join's pairs — which is what the oracle computes.
    Q("q131_stream_join",
      (s, d) => {
        import graft.streaming.StreamHarness
        val ev = StreamHarness.eventStream(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"),
            col("ts").as("c_ts"),
            col("event_id").as("c_id"))
          .withWatermark("c_ts", "2 days")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("user_id").as("e_user"),
            col("ts").as("e_ts"),
            col("event_id").as("e_id"))
          .withWatermark("e_ts", "2 days")
        val joined = clicks.join(errors,
          col("c_user") === col("e_user") &&
            col("e_ts") >= col("c_ts") &&
            col("e_ts") <= col("c_ts") + expr("INTERVAL 5 MINUTES"))
        StreamHarness.runMemory(joined, "q131") { t =>
          t.select(col("c_id"), col("e_id"), col("c_user").as("user_id"),
            (unix_micros(col("e_ts")) - unix_micros(col("c_ts"))).as("delta_us"))
            .orderBy("c_id", "e_id")
        }
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             |    event_id, event_type FROM events)
             |SELECT c.event_id AS c_id, er.event_id AS e_id, c.user_id,
             |  er.us - c.us AS delta_us
             |FROM (SELECT * FROM e WHERE event_type = 'click') c
             |JOIN (SELECT * FROM e WHERE event_type = 'error') er
             |  ON c.user_id = er.user_id AND er.us >= c.us
             |    AND er.us <= c.us + 300000000
             |ORDER BY c_id, e_id""".stripMargin)))

  private val olap: Seq[Q] = Seq(
    // Pivot / crosstab: lang × source document counts. Pivot values are
    // given EXPLICITLY — at 100 TB that skips the driver-side distinct
    // scan Spark otherwise runs to discover the column set.
    Q("q130_pivot",
      (s, d) => {
        val sources = (0 until 20).map("src" + _)
        Tables.documents(s, d)
          .groupBy("lang")
          .pivot("source", sources)
          .agg(count(lit(1)))
          .na.fill(0L)
          .orderBy("lang")
      },
      Some {
        val cols = (0 until 20)
          .map(i => s"count(*) FILTER (WHERE source = 'src$i') AS src$i")
          .mkString(",\n|  ")
        s"""SELECT lang,
           |  $cols
           |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
      }))

  private val pipeline: Seq[Q] = Seq(
    // Bloom-pruned decontamination: same answer as the exact q110 overlap
    // (sketch-then-verify is lossless), but the corpus grams are filtered
    // through a broadcast Bloom filter BEFORE any shuffle. 6-grams here
    // vs q110's 8 so the two exercise different overlap densities.
    Q("q127_bloom_decontam",
      (s, d) => Contamination.bloomPrunedOverlap(Tables.documents(s, d),
          "doc_id", "text", col("source") === "src0", n = 6)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, source, $sqlToks AS w FROM documents),
              |sh AS (SELECT doc_id, source, unnest(${sqlShingles(6, "w")}) AS g FROM t),
              |hh AS (SELECT doc_id, source, ${sqlHash60("g")} AS h FROM sh),
              |b AS (SELECT DISTINCT h FROM hh WHERE source = 'src0'),
              |c AS (SELECT DISTINCT doc_id, h FROM hh WHERE source <> 'src0'),
              |sj AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
              |  FROM c JOIN b USING (h) GROUP BY 1)
              |SELECT d.doc_id,
              |  coalesce(sj.n_shared, CAST(0 AS BIGINT)) AS n_shared,
              |  coalesce(sj.n_shared, 0) > 0 AS contaminated
              |FROM documents d LEFT JOIN sj USING (doc_id)
              |WHERE d.source <> 'src0'
              |ORDER BY d.doc_id""".stripMargin)),

    // One BPE merge-step scan: corpus-wide adjacent character-pair counts
    // within words, top 32 by (count DESC, pair ASC).
    Q("q128_bpe_pairs",
      (s, d) => Bpe.topPairs(Tables.documents(s, d), col("text"), 32),
      Some(s"""WITH w AS (SELECT unnest($sqlToks) AS w FROM documents),
              |p AS (SELECT unnest([substring(w, i, 2) FOR i IN range(1, len(w))])
              |    AS pair FROM w WHERE len(w) >= 2)
              |SELECT pair, count(*) AS n FROM p GROUP BY 1
              |ORDER BY n DESC, pair LIMIT 32""".stripMargin)),

    // Temperature mixture weights (α = 0.5) over sources: token share p
    // and resampling weight q ∝ √p. Exact-integer token totals + ordered
    // window folds + correctly-rounded sqrt keep both engines bitwise in
    // step before the 6-dp rounding.
    Q("q129_mixture_weights",
      (s, d) => Sampling.mixtureWeights(Tables.documents(s, d), "source",
          TextOps.tokenCount(col("text")).cast("long"), alpha = 0.5)
        .select(col("source"), col("n_tokens"),
          pround(col("p"), 6).as("p"), pround(col("q"), 6).as("q"))
        .orderBy("source"),
      Some(s"""WITH per AS (SELECT source,
              |    CAST(sum(len($sqlToks)) AS BIGINT) AS n_tokens
              |  FROM documents GROUP BY 1),
              |n AS (SELECT source, n_tokens,
              |    CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER fw AS DOUBLE) AS p
              |  FROM per WINDOW fw AS (ORDER BY source
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
              |SELECT source, n_tokens, ${sqlRound("p", 6)} AS p,
              |  ${sqlRound("sqrt(p) / sum(sqrt(p)) OVER fw", 6)} AS q
              |FROM n WINDOW fw AS (ORDER BY source
              |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              |ORDER BY source""".stripMargin)))

  private val windowed: Seq[Q] = Seq(
    // Exact rolling median over the hourly close (pandas
    // rolling(5).median(), min_periods=5). Odd window → the median is a
    // pure order statistic: no float arithmetic at all, so Spark and the
    // oracle agree bitwise before the safety rounding.
    Q("q132_rolling_median",
      (s, d) => {
        val hourly = Queries.hourlyResampled(s, d, emitEmpty = false)
        hourly
          .withColumn("med5", graft.ohlcv.Features.rollingMedian(
            col("close"), col("user_id"), col("bucket_s"), 5))
          .filter(col("med5").isNotNull)
          .select(col("user_id"), col("bucket_s"),
            pround(col("med5"), 6).as("med5"))
          .orderBy("user_id", "bucket_s")
      },
      Some(s"""WITH ${Queries.HourlyCloseCte}
              |SELECT user_id, bucket_s, ${sqlRound("med5", 6)} AS med5 FROM (
              |  SELECT user_id, bucket_s,
              |    CASE WHEN count(close) OVER w = 5
              |      THEN median(close) OVER w END AS med5
              |  FROM agg
              |  WINDOW w AS (PARTITION BY user_id ORDER BY bucket_s
              |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
              |WHERE med5 IS NOT NULL ORDER BY user_id, bucket_s""".stripMargin)),

    // SCD2 dimension build: each user's 'signup' events become validity
    // intervals [valid_from, valid_to) via lead() — the standard
    // slowly-changing-dimension type-2 history table. One window shuffle.
    Q("q134_scd2",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        Tables.events(s, d)
          .filter(col("event_type") === "signup")
          .withColumn("us", unix_micros(col("ts")))
          .select(col("user_id"), col("us"), col("event_id"), col("value"))
          .withColumn("valid_to",
            coalesce(lead(col("us"), 1).over(w), lit(Long.MaxValue)))
          .select(col("user_id"), col("us").as("valid_from"),
            col("valid_to"), col("event_id"), pround(col("value"), 6).as("value"))
          .orderBy("user_id", "valid_from", "event_id")
      },
      Some(s"""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
              |    event_id, value FROM events WHERE event_type = 'signup')
              |SELECT user_id, us AS valid_from,
              |  coalesce(lead(us, 1) OVER (PARTITION BY user_id
              |    ORDER BY us, event_id), 9223372036854775807) AS valid_to,
              |  event_id, ${sqlRound("value", 6)} AS value
              |FROM e ORDER BY user_id, valid_from, event_id""".stripMargin)),

    // Equi-depth (ntile) histogram of event values: the EXACT form — a
    // global sort, the right tool up to the scale where a quantile
    // sketch takes over (q186's histogram-sketch quantile is the
    // registered, fully aggregation-shaped path; see scaleLimited).
    // Only selection/count outputs (no cross-engine float folds).
    Q("q135_ntile_histogram",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy("value", "event_id")
        Tables.events(s, d)
          .select(col("event_id"), col("value"))
          .withColumn("decile", ntile(10).over(w))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            pround(min("value"), 6).as("vmin"),
            pround(max("value"), 6).as("vmax"))
          .orderBy("decile")
      },
      Some(s"""SELECT decile, count(*) AS n,
              |  ${sqlRound("min(value)", 6)} AS vmin,
              |  ${sqlRound("max(value)", 6)} AS vmax
              |FROM (SELECT event_id, value,
              |    ntile(10) OVER (ORDER BY value, event_id) AS decile
              |  FROM events)
              |GROUP BY decile ORDER BY decile""".stripMargin),
      // An exact ntile is inherently one global sort window; past the
      // scale where that sort fits, q186's histogram-sketch quantile —
      // an ordinary two-level hash aggregation, no sort, no per-group
      // value buffer (q64's exact percentile still buffers a group's
      // values) — is the registered alternative (machine-checked by
      // ScaleAnnotationSpec).
      scaleLimited = Some("q186_hist_quantile")))

  private val rangeJoin: Seq[Q] = Seq(
    // Generic non-equi interval join via the lossless bucketed-overlap
    // encoding (RangeJoin.pointInInterval): purchases joined to derived
    // "incident windows" (hours with ≥ 5 errors, widened −30/+90 min so
    // windows genuinely overlap and are not bucket-aligned). The oracle
    // is the naive BETWEEN join.
    Q("q133_range_join",
      (s, d) => {
        val e = Tables.events(s, d).withColumn("us", unix_micros(col("ts")))
        val incidents = e.filter(col("event_type") === "error")
          .groupBy(floor(col("us") / 3600000000L).cast("long").as("hb"))
          .agg(count(lit(1)).as("n_err"))
          .filter(col("n_err") >= 5)
          .select((col("hb") * 3600000000L - 1800000000L).as("lo"),
            (col("hb") * 3600000000L + 5400000000L).as("hi"), col("n_err"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("us"))
        graft.operators.RangeJoin
          .pointInInterval(purchases, "us", incidents, "lo", "hi",
            width = 3600000000L)
          .groupBy("event_id")
          .agg(count(lit(1)).as("n_windows"), sum("n_err").as("err_mass"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
             |inc AS (SELECT (us // 3600000000) * 3600000000 - 1800000000 AS lo,
             |    (us // 3600000000) * 3600000000 + 5400000000 AS hi,
             |    count(*) AS n_err
             |  FROM e WHERE event_type = 'error'
             |  GROUP BY 1, 2 HAVING count(*) >= 5)
             |SELECT p.event_id, count(*) AS n_windows,
             |  CAST(sum(inc.n_err) AS BIGINT) AS err_mass
             |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
             |JOIN inc ON p.us BETWEEN inc.lo AND inc.hi
             |GROUP BY 1 ORDER BY 1""".stripMargin)))

  private val graph: Seq[Q] = Seq(
    // Fixed-point PageRank over the simhash near-dup graph (the q107/q125
    // edge set): 5 power iterations entirely in 1e-9-unit integer
    // arithmetic, so the ranks are bit-identical on any engine or
    // aggregation order — the oracle unrolls the same recurrence as five
    // plain GROUP BY CTEs.
    Q("q136_pagerank",
      (s, d) => {
        import graft.text.{Dedup, TextOps}
        val docs = Tables.documents(s, d)
        val fps = Cached.persist(Dedup.simhashAgg(docs, "doc_id",
          TextOps.wordShingles(col("text"), 3), 60))
        fps.count()
        val pairs = Dedup.simhashNearDupPairs(fps, "doc_id", "simhash",
          maxHamming = 6, bits = 60)
        graft.sim.Graph.pageRankFixedPoint(pairs, "id_a", "id_b", 5)
          .select(col("id").as("doc_id"), col("r")).orderBy("doc_id")
      },
      Some {
        val sub = VectorTextQueries.simhashSql(60)
        val iter = (i: Int) =>
          s"""p$i AS (SELECT e0.dst AS id,
             |  CAST(150000000 // (SELECT n FROM nn)
             |    + (85 * sum(p${i - 1}.r // d.deg)) // 100 AS BIGINT) AS r
             |  FROM e0 JOIN p${i - 1} ON p${i - 1}.id = e0.src
             |  JOIN deg d ON d.src = e0.src GROUP BY 1)"""
        s"""WITH fps AS ($sub),
           |e0 AS (SELECT a.doc_id AS src, b.doc_id AS dst
           |  FROM fps a, fps b
           |  WHERE a.doc_id <> b.doc_id
           |    AND bit_count(xor(a.simhash, b.simhash)) <= 6),
           |deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY 1),
           |nn AS (SELECT count(*) AS n FROM deg),
           |p0 AS (SELECT src AS id,
           |  CAST(1000000000 // (SELECT n FROM nn) AS BIGINT) AS r FROM deg),
           |${(1 to 5).map(iter).mkString(",\n|")}
           |SELECT id AS doc_id, r FROM p5 ORDER BY doc_id""".stripMargin
      }))

  private val streaming2: Seq[Q] = Seq(
    // Stream-static enrichment join + watermarked tumbling aggregation:
    // the streaming purchases join the (static, broadcastable) customer
    // dimension, then daily revenue per market segment is emitted under
    // the same watermark-cut semantics as q112. The oracle applies the
    // identical cut (max purchase event time − delay, ms-truncated as
    // Spark tracks watermarks) to the batch equivalent.
    Q("q137_stream_enrich",
      (s, d) => {
        import graft.streaming.StreamHarness
        val cust = Tables.customer(s, d)
          .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
        val purchases = StreamHarness.eventStream(s, d)
          .filter(col("event_type") === "purchase")
          .withColumn("ts_t", col("ts"))
          .join(cust, "user_id")
        val agg = purchases
          .withWatermark("ts_t", "2 days")
          .groupBy(col("c_mktsegment"), window(col("ts_t"), "1 day"))
          .agg(count(lit(1)).as("n"), sum("value").as("__rev"))
          .select(col("c_mktsegment"),
            col("window.start").as("start_t"), col("n"),
            pround(col("__rev"), 6).as("revenue"))
        StreamHarness.runMemory(agg, "q137") { t =>
          t.select(col("c_mktsegment"), unix_micros(col("start_t")).as("start_us"),
            col("n"), col("revenue"))
            .orderBy("c_mktsegment", "start_us")
        }
      },
      Some(s"""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
              |    value FROM events WHERE event_type = 'purchase'),
              |wm AS (SELECT (max(us) // 1000) * 1000 - 172800000000 AS wm_us FROM e),
              |g AS (SELECT c.c_mktsegment,
              |    (e.us // 86400000000) * 86400000000 AS start_us,
              |    count(*) AS n, ${sqlRound("sum(e.value)", 6)} AS revenue
              |  FROM e JOIN customer c ON c.c_custkey = e.user_id + 1
              |  GROUP BY 1, 2)
              |SELECT c_mktsegment, start_us, n, revenue
              |FROM g, wm WHERE start_us + 86400000000 <= wm.wm_us
              |ORDER BY c_mktsegment, start_us""".stripMargin)))

  private val multimodal2: Seq[Q] = Seq(
    // Image RESIZE leg of the multimodal stubs (q50 histogram = feature
    // extract, q51 audio frames, q108 video sampling): nearest-neighbor
    // 8-wide grid → 4×4, the exact index arithmetic of a real NN resize,
    // run through the partition-batched decoder plumbing. ASCII guard
    // keeps the byte/codepoint views identical (same latent as q108).
    Q("q138_image_resize",
      (s, d) => {
        import graft.multimodal.Multimodal
        val docs = Tables.documents(s, d)
          .filter(length(col("text")) >= 8 && col("text").rlike("^[\\x00-\\x7F]*$"))
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.withDecodedFeatures(docs, "payload", "px",
            new Multimodal.StubImageResizer(8, 4, 4))
          .select(col("doc_id"), posexplode(col("px")))
          .select(col("doc_id"), col("pos"),
            col("col").cast("long").as("level"))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH codes AS (SELECT doc_id,
             |    [unicode(c) FOR c IN string_split(text, '')] AS cs,
             |    len(text) // 8 AS h
             |  FROM documents
             |  WHERE len(text) >= 8 AND regexp_matches(text, '^[\x00-\x7f]*$')),
             |g AS (SELECT doc_id, cs, h, unnest(generate_series(0, 15)) AS pos
             |  FROM codes)
             |SELECT doc_id, pos,
             |  CAST(cs[((pos // 4) * h // 4) * 8 + ((pos % 4) * 8 // 4) + 1]
             |    AS BIGINT) AS level
             |FROM g ORDER BY doc_id, pos""".stripMargin)),

    // Tokenizer APPLY: induce a top-32 vocab (freq DESC, token ASC —
    // total order) and map every token position to its id, OOV → 0.
    // The vocab is tiny by construction → broadcast join; the corpus
    // explode is the only big relation and it is never shuffled (the
    // vocab aggregation shuffles token COUNTS, not positions).
    Q("q139_tokenize_ids",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
          .select(col("doc_id"), col("pos"), col("col").as("tok"))
        // Top-32 FIRST (orderBy+limit → TakeOrderedAndProject, a fully
        // parallel partial top-k — no single-partition window over the
        // web-scale distinct-token frame), THEN assign ids driver-side:
        // the collect is constant-size by the limit directly above, and
        // zipWithIndex over the already-ordered 32 rows avoids even the
        // 32-row unpartitioned WindowExec. Identical total order (freq
        // DESC, tok ASC) ⇒ identical ids ⇒ identical hashes.
        val vocab = {
          import s.implicits._
          toks.groupBy("tok").agg(count(lit(1)).as("freq"))
            .orderBy(desc("freq"), asc("tok")).limit(32)
            .collect().map(_.getString(0))
            .zipWithIndex.map { case (t, i) => (t, i + 1) }
            .toSeq.toDF("tok", "id")
        }
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("id"), lit(0)).cast("long").as("token_id"))
          .orderBy("doc_id", "pos")
      },
      Some(s"""WITH tk AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok FROM
              |  (SELECT doc_id, $sqlToks AS w FROM documents),
              |  LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i)),
              |vf AS (SELECT tok, count(*) AS freq FROM tk GROUP BY 1),
              |v AS (SELECT tok, row_number() OVER (ORDER BY freq DESC, tok) AS id
              |  FROM vf QUALIFY id <= 32)
              |SELECT tk.doc_id, tk.pos, coalesce(v.id, 0) AS token_id
              |FROM tk LEFT JOIN v USING (tok)
              |ORDER BY doc_id, pos""".stripMargin)))

  private val stats: Seq[Q] = Seq(
    // Grouped EXACT median (linear interpolation at rank p·(n−1) — the
    // same formula Spark's percentile and DuckDB's quantile_cont define),
    // the per-group companion to q64's global percentiles. At 100 TB the
    // exact form sorts within groups; the sketch path stays q65.
    Q("q140_grouped_median",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          pround(expr("percentile(value, 0.5)"), 6).as("median_value"))
        .orderBy("event_type"),
      Some(s"""SELECT event_type, count(*) AS n,
              |  ${sqlRound("quantile_cont(value, 0.5)", 6)} AS median_value
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Bivariate statistical aggregates: Pearson correlation and
    // population covariance of (value, hour-of-day) per event type —
    // single-pass co-moment partial aggregation, one shuffle of k rows.
    Q("q141_stats_agg",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("h", hour(col("ts")).cast("double"))
        e.groupBy("event_type")
          .agg(pround(corr(col("value"), col("h")), 6).as("corr_vh"),
            pround(covar_pop(col("value"), col("h")), 6).as("covar_vh"),
            pround(var_pop(col("value")), 6).as("var_v"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type,
              |  ${sqlRound("corr(value, CAST(hour(ts) AS DOUBLE))", 6)} AS corr_vh,
              |  ${sqlRound("covar_pop(value, CAST(hour(ts) AS DOUBLE))", 6)} AS covar_vh,
              |  ${sqlRound("var_pop(value)", 6)} AS var_v
              |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)))

  private val udafs: Seq[Q] = Seq(
    // Typed Aggregator UDAF (functions.HistQuantile): histogram-sketch
    // quantiles whose merge is a vector ADD — order-free, so the sketch
    // answers identically on any partitioning AND is exactly mirrorable
    // in SQL (not merely tolerance-checkable like t-digest). Bucket
    // geometry is binary-exact (width 512/1024 = 0.5), so every float op
    // on both engines is exact.
    Q("q186_hist_quantile",
      (s, d) => {
        import graft.functions.HistQuantile
        Tables.events(s, d)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            pround(HistQuantile(0.0, 512.0, 1024, 0.5)(col("value")), 6).as("p50"),
            pround(HistQuantile(0.0, 512.0, 1024, 0.9)(col("value")), 6).as("p90"))
          .orderBy("event_type")
      },
      Some {
        def pick(p: String, out: String) =
          s"""(SELECT ${sqlRound("(min(idx) + 0.5) * 0.5", 6)}
             |  FROM cum c2 WHERE c2.event_type = g.event_type
             |    AND c2.cum > CAST(floor($p * (c2.n - 1) + 0.5) AS BIGINT)) AS $out"""
        // WHERE value IS NOT NULL mirrors the UDAF's skip-NULL contract
        // (HistQuantile excludes NULLs from n); without it a NULL value
        // would land in a bucket via least/greatest and inflate the
        // window n. The synthetic events table happens to be NULL-free,
        // but the mirror should not depend on that invariant.
        s"""WITH b AS (SELECT event_type,
           |    least(greatest(CAST(floor((value - 0) / 0.5) AS BIGINT), 0), 1023) AS idx
           |  FROM events WHERE value IS NOT NULL),
           |c AS (SELECT event_type, idx, count(*) AS cnt FROM b GROUP BY 1, 2),
           |cum AS (SELECT event_type, idx, cnt,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY idx) AS BIGINT) AS cum,
           |    CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
           |  FROM c),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1)
           |SELECT g.event_type, g.n,
           |  ${pick("0.5", "p50")},
           |  ${pick("0.9", "p90")}
           |FROM g ORDER BY g.event_type""".stripMargin
      }))

  def all: Seq[Q] =
    funnel ++ olap ++ pipeline ++ windowed ++ rangeJoin ++ graph ++
      streaming2 ++ multimodal2 ++ stats ++ udafs
}
