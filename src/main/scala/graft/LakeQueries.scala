package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.sqlToks
import graft.sources.Bucketed
import graft.text.TextOps

/** Round-5 batch 5: storage-layout and incremental-pipeline operators —
  * bucketed shuffle-free joins, delta dedup, per-group heavy hitters,
  * robust (MAD) outlier stats, TF-IDF term ranking, JSON property
  * extraction, dwell-time attribution, streaming dedup, grouping sets and
  * time-range window frames. Each with a DuckDB oracle.
  */
object LakeQueries {

  private val lake: Seq[Q] = Seq(
    // Bucketed sort-merge join: both sides written hash-bucketed on the
    // join key (sources.Bucketed), so the join itself plans WITHOUT an
    // Exchange on either side (BucketedSpec asserts the plan). This is
    // the write-once / join-shuffle-free-forever layout a 100 TB lake
    // uses for its hottest join key; the bucket count here is 8 for the
    // harness — at scale it's sized so a bucket ≈ one task's memory.
    // The tiny aggregated result is localCheckpoint'ed so the temp
    // catalog tables can be dropped eagerly.
    Q("q142_bucketed_join",
      (s, d) => {
        val tag = java.util.UUID.randomUUID.toString.replace("-", "").take(12)
        val lt = s"graft_li_$tag"; val ot = s"graft_or_$tag"
        Bucketed.write(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_extendedprice", "l_discount"),
          lt, 8, "l_orderkey", Seq("l_orderkey"))
        Bucketed.write(
          Tables.orders(s, d).select("o_orderkey", "o_orderpriority"),
          ot, 8, "o_orderkey", Seq("o_orderkey"))
        try {
          Cached.checkpoint(Bucketed.read(s, lt)
            .join(Bucketed.read(s, ot),
              col("l_orderkey") === col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              pround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
                .as("revenue"))
            .orderBy("o_orderpriority"))
        } finally {
          Bucketed.drop(s, lt); Bucketed.drop(s, ot)
        }
      },
      Some(s"""SELECT o_orderpriority, count(*) AS n,
              |  ${sqlRound("sum(l_extendedprice * (1 - l_discount))", 2)} AS revenue
              |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Incremental (delta) dedup — the steady-state form of corpus dedup:
    // a new batch arrives, and only content unseen in BOTH the existing
    // corpus and the batch itself survives. Existing side reduces to a
    // distinct-hash set (one shuffle), the batch groups to min-doc_id per
    // hash, and a LEFT ANTI join drops the already-known content. At
    // 100 TB the existing-hash table is the only state the pipeline keeps
    // between runs — hashes, never text.
    Q("q143_delta_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d).withColumn("h", md5(col("text")))
        val existing = docs.filter(col("doc_id") % 10 < 7).select("h").distinct()
        val fresh = docs.filter(col("doc_id") % 10 >= 7)
          .groupBy("h").agg(min("doc_id").as("doc_id"))
        fresh.join(existing, Seq("h"), "left_anti")
          .select("doc_id", "h").orderBy("doc_id")
      },
      Some("""WITH dh AS (SELECT doc_id, md5(text) AS h FROM documents),
             |ex AS (SELECT DISTINCT h FROM dh WHERE doc_id % 10 < 7),
             |nb AS (SELECT h, min(doc_id) AS doc_id FROM dh
             |  WHERE doc_id % 10 >= 7 GROUP BY h)
             |SELECT doc_id, h FROM nb WHERE h NOT IN (SELECT h FROM ex)
             |ORDER BY doc_id""".stripMargin)),

    // Exact per-group heavy hitters: top-5 tokens per language by
    // frequency. The explode never leaves its scan partition before the
    // (lang, tok) partial aggregation collapses it; the rank filter is
    // the row_number()<=k pattern Spark rewrites into WindowGroupLimit,
    // so each shuffle partition forwards at most k rows per group
    // instead of its whole frequency table.
    Q("q144_heavy_hitters",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(col("lang"), explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("lang", "tok").agg(count(lit(1)).as("freq"))
        freq.withColumn("rk", row_number().over(
            Window.partitionBy("lang").orderBy(desc("freq"), asc("tok"))))
          .filter(col("rk") <= 5)
          .orderBy("lang", "rk")
      },
      Some(s"""WITH tk AS (SELECT lang, unnest($sqlToks) AS tok FROM documents),
              |f AS (SELECT lang, tok, count(*) AS freq FROM tk GROUP BY 1, 2)
              |SELECT lang, tok, freq,
              |  row_number() OVER (PARTITION BY lang ORDER BY freq DESC, tok) AS rk
              |FROM f QUALIFY rk <= 5 ORDER BY lang, rk""".stripMargin)),

    // Robust outlier profile per event type: median, MAD (median absolute
    // deviation) and the count beyond the 3σ-equivalent 3·1.4826·MAD
    // fence — the quality-scoring filter that survives heavy tails where
    // mean/stddev fences collapse. Exact two-pass percentiles here (the
    // stats frame is k rows, broadcast back); the 100 TB variant swaps in
    // approx_percentile sketches with identical plumbing.
    Q("q145_mad_outliers",
      (s, d) => {
        val e = Tables.events(s, d).select("event_type", "value")
        val med = e.groupBy("event_type")
          .agg(expr("percentile(value, 0.5)").as("med"))
        val stats = e.join(broadcast(med), "event_type")
          .groupBy("event_type")
          .agg(max("med").as("med"),
            expr("percentile(abs(value - med), 0.5)").as("mad"))
        e.join(broadcast(stats), "event_type")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(abs(col("value") - col("med")) >
              lit(3 * 1.4826) * col("mad"), 1L).otherwise(0L)).as("n_outliers"),
            pround(max("med"), 6).as("med"),
            pround(max("mad"), 6).as("mad"))
          .orderBy("event_type")
      },
      Some(s"""WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
              |  FROM events GROUP BY 1),
              |md AS (SELECT e.event_type, max(m.med) AS med,
              |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
              |  FROM events e JOIN m USING (event_type) GROUP BY e.event_type)
              |SELECT e.event_type, count(*) AS n,
              |  CAST(sum(CASE WHEN abs(e.value - md.med) > 3 * 1.4826 * md.mad
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              |  ${sqlRound("max(md.med)", 6)} AS med,
              |  ${sqlRound("max(md.mad)", 6)} AS mad
              |FROM events e JOIN md USING (event_type)
              |GROUP BY e.event_type ORDER BY event_type""".stripMargin)),

    // TF-IDF top-3 terms per document. Ranking uses the EXACT integer
    // rational tf·10⁹ ÷ (df+1) (monotone in tf and in term rarity), so
    // rank order is bit-independent of libm; the familiar smoothed
    // ln-idf score is emitted alongside, rounded. df comes from one
    // extra aggregation of the tf frame (already distinct per doc·term),
    // and N docs rides a broadcast 1-row cross join — nothing touches
    // the driver.
    Q("q146_tfidf_topk",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val nDocs = docs.agg(count(lit(1)).as("n_docs"))
        val tf = docs
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
          .withColumn("key", expr("tf * 1000000000 div (df + 1)"))
          .withColumn("score", pround(
            col("tf") * (log((col("n_docs") + 1).cast("double") /
              (col("df") + 1)) + 1), 6))
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy(desc("key"), asc("tok"))))
          .filter(col("rk") <= 3)
          .select("doc_id", "rk", "tok", "tf", "df", "score")
          .orderBy("doc_id", "rk")
      },
      Some(s"""WITH tk AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
              |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
              |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              |n AS (SELECT count(*) AS n_docs FROM documents)
              |SELECT doc_id, rk, tok, tf, df, score FROM (
              |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
              |    ${sqlRound(
                     "tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (df.df + 1)) + 1)",
                     6)} AS score,
              |    row_number() OVER (PARTITION BY tf.doc_id
              |      ORDER BY tf.tf * 1000000000 // (df.df + 1) DESC, tf.tok) AS rk
              |  FROM tf JOIN df USING (tok) CROSS JOIN n)
              |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)))

  private val partitioned: Seq[Q] = Seq(
    // Hive-style partition pruning, end to end: write the event log
    // date-partitioned (the layout a 100 TB log always has), read it back
    // with a partition predicate, and aggregate only the first day. The
    // scan touches ONE day directory — Catalyst resolves the predicate
    // against partition values, not data (PartitionedScanSpec asserts the
    // pruned file count); the oracle computes the same day from the flat
    // table. Quantized long sum keeps the value aggregate exact.
    Q("q157_partition_prune",
      (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft_q157").toString
        val out = base + "/events_by_day"
        val e = Tables.events(s, d)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        e.write.partitionBy("day").mode("overwrite").parquet(out)
        val firstDay = e.agg(min(col("day"))).head.getString(0)
        s.read.parquet(out)
          .filter(col("day") === firstDay)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("value") * 1000 + 0.5).cast("long")).as("sum_milli"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type,
             |    strftime(ts, '%Y-%m-%d') AS day,
             |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vq
             |  FROM events)
             |SELECT event_type, count(*) AS n,
             |  CAST(sum(vq) AS BIGINT) AS sum_milli
             |FROM e WHERE day = (SELECT min(day) FROM e)
             |GROUP BY event_type ORDER BY event_type""".stripMargin)))

  private val semiStructured: Seq[Q] = Seq(
    // Semi-structured property extraction: events.props is a JSON blob;
    // get_json_object pulls `$.k` inside whole-stage codegen, the cast
    // and aggregation fold map-side. The schema-on-read path for the
    // property bags a 100 TB event log always carries.
    Q("q147_json_extract",
      (s, d) => {
        val e = Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        e.groupBy("event_type")
          .agg(count(col("k")).as("n"),
            pround(avg(col("k")), 6).as("avg_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (SELECT event_type,
              |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
              |  FROM events)
              |SELECT event_type, count(k) AS n,
              |  ${sqlRound("avg(k)", 6)} AS avg_k,
              |  min(k) AS min_k, max(k) AS max_k,
              |  CAST(sum(CASE WHEN k > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
              |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Dwell-time attribution: each event's time-in-state is the gap to
    // the SAME user's next event (lead over one per-user window — a
    // single shuffle on user_id), summed per event type in exact long
    // microseconds. Session analytics' workhorse shape.
    Q("q148_dwell_time",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"), col("event_type"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
        e.withColumn("nxt", lead("us", 1).over(w))
          .groupBy("event_type")
          .agg(count(col("nxt")).as("n_spans"),
            sum(col("nxt") - col("us")).as("dwell_us"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             |    event_id, event_type FROM events),
             |sp AS (SELECT event_type,
             |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
             |      - us AS dw
             |  FROM e)
             |SELECT event_type, count(dw) AS n_spans,
             |  CAST(sum(dw) AS BIGINT) AS dwell_us
             |FROM sp GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // GROUPING SETS with explicit set list — one scan produces the
    // returnflag rollup, the linestatus rollup, and the grand total
    // (Spark expands to a single Expand + one aggregation; no re-scan
    // per set). grouping_id() disambiguates the null-as-ALL rows.
    Q("q149_grouping_sets",
      (s, d) => Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          pround(sum("l_quantity"), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("gid"),
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("gid", "rf", "ls"),
      Some(s"""SELECT grouping(l_returnflag) * 2 + grouping(l_linestatus) AS gid,
              |  coalesce(l_returnflag, 'ALL') AS rf,
              |  coalesce(l_linestatus, 'ALL') AS ls,
              |  ${sqlRound("sum(l_quantity)", 2)} AS sum_qty, count(*) AS n
              |FROM lineitem
              |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
              |ORDER BY gid, rf, ls""".stripMargin)),

    // Time-RANGE window frame: per-user trailing-1-hour event count and
    // value sum. The frame is range-based (microsecond bounds), so it is
    // insensitive to row ties; values are quantized to exact milli-units
    // BEFORE the windowed sum, because Spark folds the frame linearly
    // while DuckDB uses a segment tree — long arithmetic makes both
    // fold orders exact. One shuffle on user_id.
    Q("q150_trailing_window",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            floor(col("value") * 1000 + 0.5).cast("long").as("vq"))
        val w = Window.partitionBy("user_id").orderBy(col("us"))
          .rangeBetween(-3600000000L, 0L)
        e.withColumn("cnt_1h", count(lit(1)).over(w))
          .withColumn("sum_milli_1h", sum(col("vq")).over(w))
          .select("user_id", "us", "event_id", "cnt_1h", "sum_milli_1h")
          .orderBy("user_id", "us", "event_id")
      },
      Some("""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
             |    event_id,
             |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vq
             |  FROM events)
             |SELECT user_id, us, event_id,
             |  count(*) OVER w AS cnt_1h,
             |  CAST(sum(vq) OVER w AS BIGINT) AS sum_milli_1h
             |FROM e
             |WINDOW w AS (PARTITION BY user_id ORDER BY us
             |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             |ORDER BY user_id, us, event_id""".stripMargin)),

    // Streaming exact dedup: dropDuplicates state across the replayed
    // stream, then a per-type distinct-user count over the sink — the
    // output is invariant to WHICH representative row survived, so the
    // check is deterministic under any micro-batch split. Batch oracle:
    // count(DISTINCT user_id).
    Q("q151_stream_dedup",
      (s, d) => {
        import graft.streaming.StreamHarness
        val deduped = StreamHarness.eventStream(s, d)
          .select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type")
        StreamHarness.runMemory(deduped, "q151") { t =>
          t.groupBy("event_type")
            .agg(count(lit(1)).as("n_users"))
            .orderBy("event_type")
        }
      },
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_users
             |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Streaming NEAR-dup suppression — the in-flight twin of batch
    // minhash dedup (q52's banding, same coefficients/seed, so the two
    // tiers can never drift): documents stream in, each contributes its
    // 4 LSH band keys, and flatMapGroupsWithState keeps ONE long per
    // band key (the minimum doc_id ever seen). A doc is emitted as
    // accepted iff it is the minimum in EVERY band it occupies —
    // exactly "no smaller doc shares any band with it", which is the
    // production in-flight rule (suppress arrivals that collide with
    // anything already admitted; admission order = doc_id order).
    //
    // 100 TB shape: state is one long per DISTINCT band key (the same
    // cardinality the batch band join shuffles), updates are per-key
    // min — mergeable, no per-doc state, no quadratic stage. The final
    // all-bands-min reduction runs on the sink (4 rows per doc).
    // Oracle: q52's registered SQL verbatim — accepted = documents not
    // appearing as the LARGER side of any banded candidate pair.
    Q("q251_stream_neardup",
      (s, d) => {
        import s.implicits._
        import graft.streaming.StreamHarness
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val coeffs = graft.text.Dedup.minhashCoeffs(12, 7L)
        // maxFilesPerTrigger pinned far above any fixture size: the admit
        // rule below (id <= min-seen-so-far) is arrival-order dependent,
        // and the order-free DuckDB oracle matches it only when all docs
        // land in ONE micro-batch; runMemory(requireSingleBatch = true)
        // asserts the precondition from the progress log instead of
        // trusting the file source's default batching.
        val stream = s.readStream
          .schema(StreamHarness.sourceSchema(s, d, "documents"))
          .option("maxFilesPerTrigger", "1000000")
          .parquet(StreamHarness.sourceDir(d, "documents"))
        val sigs = stream.select(col("doc_id"),
          org.apache.spark.sql.graft.MinHashExpressions
            .minhashSig(col("text"), 3, coeffs).as("__sig"))
          .filter(col("__sig").isNotNull)
        val bandStructs = (0 until 4).map { b =>
          struct(lit(b).as("band"),
            slice(col("__sig"), b * 3 + 1, 3).as("bs"))
        }
        val banded = sigs
          .select(col("doc_id"), explode(array(bandStructs: _*)).as("__b"))
          .select(col("doc_id"), concat(col("__b.band").cast("string"),
            lit(":"), col("__b.bs").cast("string")).as("bkey"))
        val decisions = banded.as[(Long, String)]
          .groupByKey(_._2)
          .flatMapGroupsWithState(OutputMode.Append,
            GroupStateTimeout.NoTimeout) {
            (_: String, rows: Iterator[(Long, String)],
             state: GroupState[Long]) =>
              val ids = rows.map(_._1).toSeq
              val mn = math.min(ids.min,
                state.getOption.getOrElse(Long.MaxValue))
              state.update(mn)
              ids.iterator.map(id => (id, id <= mn))
          }.toDF("doc_id", "is_band_min")
        StreamHarness.runMemory(decisions, "q251",
          requireSingleBatch = true) { t =>
          val accepted = t.groupBy("doc_id")
            .agg(min(col("is_band_min").cast("int")).as("__all"))
            .filter(col("__all") === 1)
            .select("doc_id")
          // Docs too short to shingle have no bands — always admitted.
          val nosig = Tables.documents(s, d)
            .select(col("doc_id"),
              org.apache.spark.sql.graft.MinHashExpressions
                .minhashSig(col("text"), 3, coeffs).as("__sig"))
            .filter(col("__sig").isNull).select("doc_id")
          accepted.unionByName(nosig).orderBy("doc_id")
        }
      },
      oracle = None,
      oracleDyn = Some { () =>
        val q52 = VectorTextQueries.all
          .find(_.name == "q52_minhash_pairs").get.oracle.get
        s"""WITH cand AS ($q52)
           |SELECT doc_id FROM documents
           |WHERE doc_id NOT IN (SELECT id_b FROM cand)
           |ORDER BY doc_id""".stripMargin
      }))

  /** Morton/Z-order bit interleave of two 10-bit dims — the SAME
    * arithmetic string compiles under Spark SQL and DuckDB, so engine and
    * oracle share one definition by construction.
    */
  private def zInterleave(x: String, y: String, bits: Int): String =
    (0 until bits).map(i =>
      s"((($x >> $i) & 1) * ${1L << (2 * i)} + (($y >> $i) & 1) * ${1L << (2 * i + 1)})")
      .mkString("(", " + ", ")")

  private val mining: Seq[Q] = Seq(
    // SymSpell delete-1 fuzzy join — noisy→clean vocabulary
    // reconciliation. Candidates come from equi-joining delete-
    // neighborhood keys (a string plus all its single-char deletions); the
    // neighborhood intersection is a LOSSLESS generator for lev<=1
    // (deletion/insertion/substitution all collide on a shared deletion —
    // LakeSpec proves equality with the brute-force quadratic scan), and
    // the verify step is exact levenshtein. The noisy side is a
    // deterministically corrupted copy of the vocabulary (first char
    // dropped), derived identically by engine and oracle, standing in for
    // the OCR/typo stream a cleaning pipeline reconciles at scale. Plan:
    // explode(len+1 keys) + equi-join + verify — never all-pairs.
    Q("q152_symspell_join",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("tok")).distinct()
        val clean = vocab.filter(length(col("tok")) >= 3)
        val noisy = vocab.filter(length(col("tok")) >= 4)
          .select(expr("substring(tok, 2, length(tok))").as("noisy")).distinct()
        def delKeys(c: String) =
          s"concat(array($c), transform(sequence(1, length($c)), i -> " +
            s"concat(substring($c, 1, i - 1), substring($c, i + 1, length($c)))))"
        val ck = clean.select(col("tok"), explode(expr(delKeys("tok"))).as("key"))
        val nk = noisy.select(col("noisy"), explode(expr(delKeys("noisy"))).as("key"))
        nk.join(ck, "key")
          .select("noisy", "tok").distinct()
          .filter(levenshtein(col("noisy"), col("tok")) <= 1)
          .orderBy("noisy", "tok")
      },
      Some(s"""WITH tk AS (SELECT DISTINCT unnest($sqlToks) AS tok FROM documents),
              |cl AS (SELECT tok FROM tk WHERE len(tok) >= 3),
              |no AS (SELECT DISTINCT tok[2:] AS noisy FROM tk WHERE len(tok) >= 4),
              |ck AS (SELECT tok, unnest(list_append(
              |    [tok[1:i-1] || tok[i+1:] FOR i IN range(1, len(tok) + 1)],
              |    tok)) AS key FROM cl),
              |nk AS (SELECT noisy, unnest(list_append(
              |    [noisy[1:i-1] || noisy[i+1:] FOR i IN range(1, len(noisy) + 1)],
              |    noisy)) AS key FROM no),
              |cand AS (SELECT DISTINCT nk.noisy, ck.tok
              |  FROM nk JOIN ck USING (key))
              |SELECT noisy, tok FROM cand WHERE levenshtein(noisy, tok) <= 1
              |ORDER BY noisy, tok""".stripMargin)),

    // Trailing-20-event OLS slope per user: every sum the regression
    // needs (Σx, Σy, Σxy, Σx²) is a windowed LONG sum over the quantized
    // value and the per-user row index, so the co-moments are exact and
    // fold-order-free in both engines; the only float op is the final
    // division, computed once from exact integers. One shuffle (user_id).
    Q("q153_rolling_ols",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            col("event_id"),
            floor(col("value") * 1000 + 0.5).cast("long").as("y"))
        val ord = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        val frame = ord.rowsBetween(-19, 0)
        e.withColumn("i", row_number().over(ord).cast("long"))
          .withColumn("n", count(lit(1)).over(frame))
          .withColumn("sy", sum(col("y")).over(frame))
          .withColumn("sx", sum(col("i")).over(frame))
          .withColumn("sxy", sum(col("i") * col("y")).over(frame))
          .withColumn("sxx", sum(col("i") * col("i")).over(frame))
          .filter(col("n") === 20)
          .withColumn("slope", pround(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6))
          .select("user_id", "us", "event_id", "slope")
          .orderBy("user_id", "us", "event_id")
      },
      Some(s"""WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
              |    event_id,
              |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS y,
              |    CAST(row_number() OVER (PARTITION BY user_id
              |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS i
              |  FROM events),
              |f AS (SELECT user_id, us, event_id,
              |    count(*) OVER w AS n,
              |    CAST(sum(y) OVER w AS BIGINT) AS sy,
              |    CAST(sum(i) OVER w AS BIGINT) AS sx,
              |    CAST(sum(i * y) OVER w AS BIGINT) AS sxy,
              |    CAST(sum(i * i) OVER w AS BIGINT) AS sxx
              |  FROM e
              |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
              |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
              |SELECT user_id, us, event_id,
              |  ${sqlRound(
                   "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)",
                   6)} AS slope
              |FROM f WHERE n = 20 ORDER BY user_id, us, event_id""".stripMargin)),

    // Triangle count over the co-purchase graph (users linked when they
    // purchased the same props.k on the same day). Two scale decisions:
    // the blocking key is (k, day) so per-bucket fan-out stays bounded
    // as the log grows (a k-only key densifies toward the complete
    // graph — measured 32 s at sf0.1 before the fix), and the
    // enumeration is DEGREE-ORIENTED (Suri–Vassilvitskii): each
    // undirected edge points from its lower-(degree, id) endpoint to the
    // higher, so every triangle is counted exactly once and the e1⋈e2
    // wedge join's fan-out is bounded by the max OUT-degree (~√2m)
    // instead of the max raw degree.
    Q("q154_triangle_count",
      (s, d) => {
        val pu = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
            date_format(col("ts"), "yyyy-MM-dd").as("day"),
            col("user_id")).distinct()
        val und = pu.as("a")
          .join(pu.as("b"), col("a.k") === col("b.k") &&
            col("a.day") === col("b.day") &&
            col("a.user_id") < col("b.user_id"))
          .select(col("a.user_id").as("u"), col("b.user_id").as("v")).distinct()
        val deg = und.select(col("u").as("n")).union(und.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val withDeg = und
          .join(deg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"), "u")
          .join(deg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"), "v")
        val oriented = withDeg.select(
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("src"),
          when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("dst"))
        oriented.as("e1")
          .join(oriented.as("e2"), col("e1.dst") === col("e2.src"))
          .join(oriented.as("e3"),
            col("e1.src") === col("e3.src") && col("e2.dst") === col("e3.dst"))
          .agg(count(lit(1)).as("n_triangles"))
      },
      Some("""WITH pu AS (SELECT DISTINCT
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             |    strftime(ts, '%Y-%m-%d') AS day, user_id
             |  FROM events WHERE event_type = 'purchase'),
             |und AS (SELECT DISTINCT a.user_id AS u, b.user_id AS v
             |  FROM pu a JOIN pu b
             |  ON a.k = b.k AND a.day = b.day AND a.user_id < b.user_id),
             |deg AS (SELECT n, count(*) AS deg FROM
             |  (SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und)
             |  GROUP BY n),
             |ori AS (SELECT
             |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
             |      THEN u ELSE v END AS src,
             |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
             |      THEN v ELSE u END AS dst
             |  FROM und JOIN deg du ON und.u = du.n
             |  JOIN deg dv ON und.v = dv.n)
             |SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |FROM ori e1 JOIN ori e2 ON e1.dst = e2.src
             |JOIN ori e3 ON e1.src = e3.src AND e2.dst = e3.dst""".stripMargin)),

    // Z-order (Morton) layout audit: interleave 8 bits of two dims into
    // one clustering key and take its TOP 4 bits as the file bucket — a
    // pure projection (no global sort, no shuffle beyond the audit's own
    // groupBy), which is how a writer lays out z-clustered files at
    // scale. The per-bucket min/max of BOTH dims is the point: each
    // z-bucket bounds BOTH coordinates at once (the output rows are
    // disjoint x/y rectangles), which is what makes min/max file skipping
    // work on predicates over either dimension. 8-bit dims fit this
    // corpus's id domains; at scale the writer widens bits to the key
    // range, same arithmetic.
    Q("q155_zorder_layout", {
      val z = zInterleave("x", "y", 8)
      (s: SparkSession, d: String) => {
        Tables.events(s, d)
          .select(col("event_id"),
            (col("user_id") % 256).as("x"),
            coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L))
              .as("y"))
          .withColumn("zval", expr(z))
          .withColumn("bucket", expr("zval div 4096"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min("x").as("min_x"), max("x").as("max_x"),
            min("y").as("min_y"), max("y").as("max_y"))
          .orderBy("bucket")
      }},
      Some({
        val z = zInterleave("x", "y", 8)
        s"""WITH e AS (SELECT event_id, user_id % 256 AS x,
           |    coalesce(CAST(json_extract_string(props, '$$.k') AS BIGINT), 0) AS y
           |  FROM events),
           |zv AS (SELECT x, y, ($z) // 4096 AS bucket FROM e)
           |SELECT bucket, count(*) AS n,
           |  min(x) AS min_x, max(x) AS max_x,
           |  min(y) AS min_y, max(y) AS max_y
           |FROM zv GROUP BY bucket ORDER BY bucket""".stripMargin
      })),

    // percent_rank / cume_dist: the remaining rank-function family. Both
    // are pure functions of the value ordering (ties share ranks), so the
    // result is deterministic with no tie-break column, and the single
    // division of exact longs is bitwise identical across engines.
    Q("q156_value_ranks",
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy(col("value"))
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), col("value"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"))
          .orderBy("event_type", "event_id")
      },
      Some("""SELECT event_type, event_id, value,
             |  percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
             |FROM events
             |WINDOW w AS (PARTITION BY event_type ORDER BY value)
             |ORDER BY event_type, event_id""".stripMargin)))

  private val evolution: Seq[Q] = Seq(
    // Schema evolution on read: batch 1 was written BEFORE the `k` column
    // existed, batch 2 after; `mergeSchema` reconciles the footers and
    // old rows surface k as null — count(k) vs count(*) makes the
    // null-fill visible. At 100 TB schema evolution happens in place
    // (never rewrite the old petabytes); the reader owns reconciliation.
    Q("q158_schema_evolution",
      (s, d) => {
        val base = java.nio.file.Files.createTempDirectory("graft_q158").toString
        val e = Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        e.filter(col("event_id") % 2 === 0)
          .select("event_id", "event_type", "value")
          .write.mode("overwrite").parquet(base + "/t/batch=1")
        e.filter(col("event_id") % 2 === 1)
          .select("event_id", "event_type", "value", "k")
          .write.mode("overwrite").parquet(base + "/t/batch=2")
        s.read.option("mergeSchema", "true").parquet(base + "/t")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), count(col("k")).as("n_with_k"),
            sum(col("k")).as("sum_k"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |  FROM events)
             |SELECT event_type, count(*) AS n,
             |  count(CASE WHEN event_id % 2 = 1 THEN k END) AS n_with_k,
             |  CAST(sum(CASE WHEN event_id % 2 = 1 THEN k END) AS BIGINT) AS sum_k
             |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // CDC MERGE (Delta-style upsert/delete apply): base ⟗ changes on the
    // key, deletes drop, updates replace, inserts append — one full-outer
    // equi-join, no driver involvement. Values ride as exact milli-unit
    // longs. At scale the join shuffles once on the merge key (or rides
    // the q142 bucketed layout shuffle-free).
    Q("q159_cdc_merge",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_id"), col("event_type"),
            floor(col("value") * 1000 + 0.5).cast("long").as("v"))
        val baseT = e.filter(col("event_id") % 3 =!= 0)
        val changes = e.withColumn("op",
            when(col("event_id") % 3 === 0, "I")
              .when(col("event_id") % 3 === 1, "U").otherwise("D"))
          .withColumn("v",
            when(col("op") === "U", col("v") + 100000L).otherwise(col("v")))
          .select(col("event_id"), col("event_type").as("c_type"),
            col("v").as("c_v"), col("op"))
        baseT.join(changes, Seq("event_id"), "full_outer")
          .filter(coalesce(col("op"), lit("K")) =!= "D")
          .select(col("event_id"),
            coalesce(col("c_type"), col("event_type")).as("event_type"),
            coalesce(col("c_v"), col("v")).as("v_milli"))
          .orderBy("event_id")
      },
      Some("""WITH e AS (SELECT event_id, event_type,
             |    CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v FROM events),
             |b AS (SELECT * FROM e WHERE event_id % 3 <> 0),
             |c AS (SELECT event_id, event_type AS c_type,
             |    CASE WHEN event_id % 3 = 1 THEN v + 100000 ELSE v END AS c_v,
             |    CASE WHEN event_id % 3 = 0 THEN 'I'
             |      WHEN event_id % 3 = 1 THEN 'U' ELSE 'D' END AS op
             |  FROM e)
             |SELECT coalesce(b.event_id, c.event_id) AS event_id,
             |  coalesce(c.c_type, b.event_type) AS event_type,
             |  coalesce(c.c_v, b.v) AS v_milli
             |FROM b FULL OUTER JOIN c ON b.event_id = c.event_id
             |WHERE coalesce(c.op, 'K') <> 'D'
             |ORDER BY event_id""".stripMargin)),

    // Correlated scalar subqueries through the pure-SQL surface: orders
    // priced above their priority group's average. Catalyst DECORRELATES
    // both subqueries into aggregate+join — no per-row re-execution —
    // and the comparison is cross-multiplied exact cents (price·n > Σ),
    // so no float average is ever materialized.
    Q("q160_correlated_subquery",
      (s, d) => {
        Tables.orders(s, d)
          .withColumn("pc", floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .createOrReplaceTempView("graft_orders_q160")
        s.sql("""
          SELECT o_orderpriority, count(*) AS n_above
          FROM graft_orders_q160 o
          WHERE o.pc * (SELECT count(*) FROM graft_orders_q160 i
                        WHERE i.o_orderpriority = o.o_orderpriority)
              > (SELECT sum(pc) FROM graft_orders_q160 i
                 WHERE i.o_orderpriority = o.o_orderpriority)
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""WITH o AS (SELECT o_orderpriority,
             |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS pc
             |  FROM orders)
             |SELECT o_orderpriority, count(*) AS n_above
             |FROM o
             |WHERE o.pc * (SELECT count(*) FROM o i
             |    WHERE i.o_orderpriority = o.o_orderpriority)
             |  > (SELECT sum(pc) FROM o i
             |    WHERE i.o_orderpriority = o.o_orderpriority)
             |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)))

  private val maintenance: Seq[Q] = Seq(
    // Incremental rollup maintenance: the monthly answer is assembled
    // from REAGGREGATED daily partials (sum-of-sums over integer quanta
    // — lossless, unlike re-averaged floats), the materialized-view
    // pattern that turns a 100 TB backfill scan into a tiny
    // partial-merge. The oracle computes the same months DIRECTLY from
    // raw events; equality is the reaggregability proof.
    Q("q189_rollup_maintain",
      (s, d) => {
        val daily = Tables.events(s, d)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .withColumn("v_q", floor(col("value") * 1e6 + 0.5).cast("long"))
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n"), sum(col("v_q")).as("s_q"))
        daily
          .withColumn("month", substring(col("day"), 1, 7))
          .groupBy("user_id", "month")
          .agg(sum(col("n")).as("n"),
            pround(sum(col("s_q")).cast("double") / sum(col("n")) / 1e6, 6)
              .as("mean_value"))
          .orderBy("user_id", "month")
      },
      Some(s"""SELECT user_id, strftime(ts, '%Y-%m') AS month,
              |  CAST(count(*) AS BIGINT) AS n,
              |  ${sqlRound(
                  "CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / count(*) / 1e6",
                  6)} AS mean_value
              |FROM events GROUP BY user_id, month
              |ORDER BY user_id, month""".stripMargin)),

    // Watermark tuning diagnostics: how many events would a 10-minute
    // watermark drop? An event is late when its timestamp trails the
    // running per-user max event time (in ARRIVAL order = event_id) by
    // more than the watermark delay — the batch mirror of Structured
    // Streaming's dropped-late counter, runnable BEFORE committing to a
    // delay. Window shuffles once on user_id.
    Q("q190_late_data",
      (s, d) => {
        val aw = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("wm", max(col("us")).over(aw) - 600000000L)
          .withColumn("late", (col("us") < col("wm")).cast("long"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(coalesce(col("late"), lit(0L))).as("n_late"),
            pround(sum(coalesce(col("late"), lit(0L))).cast("double") /
              count(lit(1)), 6).as("late_frac"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (SELECT user_id, event_id,
              |    CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
              |m AS (SELECT user_id, us,
              |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      - 600000000 AS wm
              |  FROM e)
              |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              |  CAST(sum(CASE WHEN us < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
              |  ${sqlRound(
                  "CAST(sum(CASE WHEN us < wm THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
                  6)} AS late_frac
              |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin)))

  def all: Seq[Q] =
    lake ++ partitioned ++ semiStructured ++ mining ++ evolution ++ maintenance
}
