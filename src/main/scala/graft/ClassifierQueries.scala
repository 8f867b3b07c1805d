package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.{sqlHash60, sqlToks}
import graft.text.TextOps

/** Learned quality classifier (round-15 #5): the selection stack's one
  * unlearned piece. q215's Naive Bayes quality score is GENERATIVE; the
  * standard curation filter (Brown et al. 2020 §A, public knowledge —
  * GPT-3's Common Crawl filter) is a DISCRIMINATIVE classifier trained
  * positive-class-vs-corpus. This is that filter as a logistic
  * regression over hashed unigram features, trained by a fixed-epoch
  * full-batch gradient-descent driver loop — the q210/q275 pattern:
  * driver state is model-sized, each epoch's distributed work is a
  * bounded number of aggregations over one persisted feature table, and
  * every cross-engine number is quantized to exact BIGINTs at the
  * per-row level so sums are order-free under any shuffle.
  *
  * Fixed-budget discipline (hyperparameters, not corpus statistics):
  * B = 256 hashed feature buckets, E = 4 epochs, lr = 0.1, positive
  * class = source 'src0' (the curated-reference stand-in, q215's own
  * convention — which also makes the q288 calibration audit against
  * the NB score apples-to-apples).
  *
  * Determinism/parity: margins are exact BIGINT dot products of µ-unit
  * weights with integer counts; the per-doc sigmoid residual and xent
  * are quantized to µ-units BEFORE the gradient/loss sums (order-free);
  * the weight update floors lr·Δ_b/N once per bucket (identical single
  * double expression on both engines — the q275 exp precedent covers
  * the sigmoid's exp). The oracle is the full E-step unrolled-CTE chain
  * (no learned literals in SQL), shared verbatim between q287 and q288
  * so plan and audit can never disagree.
  *
  * 100 TB: ONE tokenize pass builds the persisted (doc, bucket, count)
  * table — bounded at N·min(doc_len, B) cells, reused 2·E times (the
  * reuse is what justifies materializing the per-(doc,bucket) grain
  * that q279's single-use plan correctly avoided); per epoch, one
  * broadcast-join + N-cell margin aggregation and one co-partitioned
  * join + B-cell gradient aggregation. Driver traffic per epoch is
  * B+1 gradient cells plus a 1-row loss summary. Scoring (q288/q289)
  * is one broadcast join + N-cell aggregation against the per-dir fit
  * artifact, which the consumers reuse (see [[Fits]]).
  */
object ClassifierQueries {

  private[graft] val ClfBuckets = 256
  private[graft] val ClfEpochs = 4
  // lr = 0.1, tuned on the measured trajectory: 0.1 descends smoothly
  // (mean xent 0.693 → 0.281 nats over the four epochs) while 1.0
  // overshoots on the first full-batch step (0.693 → 2.56) and never
  // recovers its own baseline within the budget.
  private[graft] val ClfLr = 0.1
  private[graft] val ClfTarget = "src0"

  /** Per-dir fit artifact: (trajectory rows, final µ-unit weights
    * [bucket 0..B−1] ++ [bias at index B]). Trajectory row:
    * (step, xent_unats, n_pos, n_neg, bias_unats, w_l1_unats, w_nnz) —
    * xent measured at the step's ENTRY weights, weight stats at EXIT.
    */
  private val ClfRuns =
    new Fits.Slot[(Seq[(Long, Long, Long, Long, Long, Long, Long)], Array[Long])]

  /** The hashed feature table: per-(doc, bucket) token counts plus one
    * bias pseudo-bucket (b = B, c = 1) per doc, so the bias trains and
    * scores through the same dot-product machinery as the weights.
    * Lowercased tokens — q215's convention, so the q288 agreement audit
    * compares classifiers over the same token stream.
    */
  private[graft] def featureTableOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("w0"))
      .select(col("doc_id"), col("source"), lower(col("w0")).as("w"))
      .withColumn("b", pmod(TextOps.md5Hash60(col("w")), lit(ClfBuckets.toLong)))
      .groupBy("doc_id", "source", "b").agg(count(lit(1)).as("c"))
      .unionByName(docs.select(col("doc_id"), col("source"),
        lit(ClfBuckets.toLong).as("b"), lit(1L).as("c")))

  private def featureTable(s: SparkSession, d: String): DataFrame =
    featureTableOf(Tables.documents(s, d))

  /** Score `docs` with µ-unit weights: exact BIGINT margin per doc via
    * a broadcast join on the (B+1)-row weight table. Per-doc local —
    * no cross-doc state — which is what makes the streaming gate
    * (q289) batch-composition-invariant.
    */
  private[graft] def marginsOf(s: SparkSession, docs: DataFrame,
      wq: Array[Long]): DataFrame = {
    import s.implicits._
    val wdf = wq.zipWithIndex.map { case (w, b) => (b.toLong, w) }
      .toSeq.toDF("b", "wq")
    featureTableOf(docs).join(broadcast(wdf), "b")
      .groupBy("doc_id", "source")
      .agg(sum(col("c") * col("wq")).as("m"))
  }

  /** The prior log-odds keep threshold in µ-units, from exact corpus
    * class counts (identical single double expression on the oracle
    * side — see [[thrSqlCte]]). A corpus with no positive-class docs
    * (or nothing else) has no prior log-odds: log(0) would flow a
    * silent -Inf/NaN through floor().toLong into a degenerate
    * threshold while the DuckDB twin's ln(0) CAST fails loudly — so
    * BOTH engines fail loudly instead (the q282 symmetric-failure
    * discipline; the SQL side's error() branch lives in the CTE).
    */
  private[graft] def priorThresholdQ(s: SparkSession, d: String): Long = {
    val cnts = Tables.documents(s, d)
      .agg(count(lit(1)).as("n"),
        sum(when(col("source") === ClfTarget, 1L).otherwise(0L)).as("p"))
      .collect().head
    val (n, nPos) = (cnts.getLong(0), cnts.getLong(1))
    require(nPos > 0 && nPos < n,
      s"q288/q289: degenerate class prior (n_pos=$nPos of n=$n docs are " +
        s"'$ClfTarget') — the prior log-odds threshold is undefined")
    math.floor(math.log(nPos.toDouble / (n - nPos)) * 1e6 + 0.5).toLong
  }

  /** DuckDB twin of [[priorThresholdQ]] including its loud degenerate
    * branch: `thr(tq)` from `cnn(n, npos)`.
    */
  private val thrSqlCte: String =
    s"""thr AS (SELECT CASE WHEN npos <= 0 OR npos >= n
       |    THEN CAST(error('degenerate class prior: npos=' || npos ||
       |      ' of n=' || n) AS BIGINT)
       |    ELSE CAST(floor(ln(CAST(npos AS DOUBLE) / (n - npos))
       |      * 1e6 + 0.5) AS BIGINT) END AS tq FROM cnn)""".stripMargin

  private[graft] def clfFit(s: SparkSession, d: String, reuse: Boolean = false)
      : (Seq[(Long, Long, Long, Long, Long, Long, Long)], Array[Long]) =
    ClfRuns.fit(d, reuse)(clfFitRun(s, d))

  /** The fit's [[LocalTier.Clf]] dispatch: every per-doc number is
    * quantized to µ-unit BIGINTs BEFORE any cross-doc sum, so a driver
    * loop over the collected cells is exactly the distributed trajectory.
    * The gauge counts the persisted feature table, which the distributed
    * loop then reads instead of re-running the tokenize pass; with the
    * local tier disabled nothing is persisted or counted.
    */
  private[graft] def clfFitRun(s: SparkSession, d: String)
      : (Seq[(Long, Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    val bt = featureTable(s, d)
    val gauged = LocalTier.Clf.budget > 0
    if (gauged) Cached.persist(bt)
    try {
      LocalTier.collect(LocalTier.Clf, bt)(LocalTier.Gauge(bt.count())) { rows =>
        Some(rows.map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
      } match {
        case Some(cells) => clfFitLocal(cells)
        case None => clfFitDistributedOn(s, bt)
      }
    } finally { if (gauged) Cached.release(bt) }
  }

  /** Local tier of the fit: same per-doc µ-unit quantization (the same
    * double expressions — Spark's floor/exp/log/greatest/abs are
    * java.lang.Math on doubles), same integer gradient sums, same
    * weight update — trajectory-identical by construction.
    */
  private[graft] def clfFitLocal(cells: Array[(Long, String, Long, Long)])
      : (Seq[(Long, Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    val B = ClfBuckets
    // Group cells per (doc_id, source) — the SAME grain the distributed
    // margin pass groups by (ADVICE r17: keying by doc_id alone rested
    // on an unstated doc_id-uniqueness invariant). nDocs counts the
    // bias pseudo-cells (b = B, c = 1), which exist exactly once per
    // `documents` row — the same derivation as the distributed tier.
    val byDoc = new java.util.HashMap[(Long, String), scala.collection.mutable.ArrayBuffer[(Int, Long)]]()
    var nDocs = 0L
    cells.foreach { case (doc, src, b, c) =>
      val k = (doc, src)
      var e = byDoc.get(k)
      if (e == null) {
        e = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
        byDoc.put(k, e)
      }
      e += ((b.toInt, c))
      if (b == B.toLong) nDocs += 1
    }
    var wq = new Array[Long](B + 1)
    val rows =
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)]()
    for (e <- 1 to ClfEpochs) {
      var xent = 0L; var nPos = 0L; var n = 0L
      val delta = new Array[Long](B + 1)
      val it = byDoc.entrySet().iterator()
      while (it.hasNext) {
        val ent = it.next()
        val src = ent.getKey._2
        val fs = ent.getValue
        var m = 0L
        fs.foreach { case (b, c) => m += c * wq(b) }
        val y = if (src == ClfTarget) 1L else 0L
        val mp = m.toDouble / 1e6
        val gq = math.floor(
          (1.0 / (1.0 + math.exp(-mp)) - y) * 1e6 + 0.5).toLong
        xent += math.floor(
          (math.max(mp, 0.0) + math.log(1.0 + math.exp(-math.abs(mp)))
            - y * mp) * 1e6 + 0.5).toLong
        nPos += y; n += 1
        fs.foreach { case (b, c) => delta(b) += gq * c }
      }
      wq = wq.zipWithIndex.map { case (w, b) =>
        w - math.floor(ClfLr * delta(b).toDouble / nDocs + 0.5).toLong
      }
      rows += ((e.toLong, xent, nPos, n - nPos, wq(B),
        wq.view.take(B).map(math.abs).sum, wq.view.take(B).count(_ != 0L).toLong))
    }
    (rows.toSeq, wq)
  }

  /** The distributed GD loop over a feature table — the 100 TB tier,
    * unchanged semantics. */
  private[graft] def clfFitDistributedOn(s: SparkSession, bt0: DataFrame)
      : (Seq[(Long, Long, Long, Long, Long, Long, Long)], Array[Long]) = {
    import s.implicits._
    val B = ClfBuckets
    val bt = Cached.persist(bt0.repartition(col("doc_id")))
    try {
      // nDocs = bias-cell count off the persisted frame: exactly one
      // bias pseudo-cell (b = B) exists per `documents` row, so this
      // equals documents.count() by construction while deriving the
      // denominator from the SAME frame on both tiers (ADVICE r17:
      // the tiers must not rest on an unstated doc_id-uniqueness
      // invariant through two different nDocs definitions).
      val nDocs = bt.filter(col("b") === lit(B.toLong)).count()
      var wq = new Array[Long](B + 1)
      val rows =
        scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)]()
      for (e <- 1 to ClfEpochs) {
        val wdf = wq.zipWithIndex.map { case (w, b) => (b.toLong, w) }
          .toSeq.toDF("b", "wq")
        // Margin pass: broadcast the (B+1)-row weights, exact BIGINT dot
        // product per doc (bias rides as bucket B), then the per-doc
        // residual/xent quantized to µ-units BEFORE any cross-doc sum.
        val mp = col("m").cast("double") / lit(1e6)
        val res = Cached.persist(bt.join(broadcast(wdf), "b")
          .groupBy("doc_id", "source")
          .agg(sum(col("c") * col("wq")).as("m"))
          .select(col("doc_id"),
            when(col("source") === ClfTarget, 1L).otherwise(0L).as("y"),
            col("m"))
          .withColumn("gq", floor(
            (lit(1.0) / (lit(1.0) + exp(-mp)) - col("y")) * lit(1e6) + lit(0.5))
            .cast("long"))
          // xent via the overflow-stable form max(m,0) + ln(1+e^-|m|)
          // (≡ ln(1+e^m) exactly for m < 0, to within one double
          // rounding otherwise): the naive ln(1+e^m) overflows to +Inf
          // beyond m ≈ 709 nats, which Spark's floor(Inf).cast("long")
          // silently saturates while DuckDB's CAST errors — an
          // asymmetric failure. The stable form never overflows, and
          // the SQL twin + ClassifierSpec refit use the SAME expression
          // so quantized parity holds at any margin.
          .withColumn("xq", floor(
            (greatest(mp, lit(0.0)) + log(lit(1.0) + exp(-abs(mp)))
              - col("y") * mp) * lit(1e6) + lit(0.5))
            .cast("long")))
        try {
          val l = res.agg(sum("xq").as("x"), sum("y").as("p"),
            count(lit(1)).as("n")).collect().head
          val (xent, nPos, n) = (l.getLong(0), l.getLong(1), l.getLong(2))
          // Gradient pass: co-partitioned join on doc_id (bt was
          // repartitioned once, up front), B+1 cells to the driver.
          val grad = bt.join(res.select("doc_id", "gq"), "doc_id")
            .groupBy("b").agg(sum(col("gq") * col("c")).as("delta"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          wq = wq.zipWithIndex.map { case (w, b) =>
            w - math.floor(
              ClfLr * grad.getOrElse(b.toLong, 0L).toDouble / nDocs + 0.5).toLong
          }
          rows += ((e.toLong, xent, nPos, n - nPos, wq(B),
            wq.view.take(B).map(math.abs).sum, wq.view.take(B).count(_ != 0L).toLong))
        } finally Cached.release(res)
      }
      (rows.toSeq, wq)
    } finally Cached.release(bt)
  }

  /** DuckDB mirror of the whole fit: the feature table, w0 = 0, and the
    * E-step unrolled chain m→r→g→w per epoch. CTE names are c-prefixed
    * so the chain composes beside [[PipelineQueries.nbScoreSqlCtes]]
    * (q288) without collisions. Ends with cnn(n, npos), w{E}, r{1..E},
    * and per-step stat scalars inline in the callers.
    */
  private def clfSqlCtes: String = {
    val B = ClfBuckets
    val steps = (1 to ClfEpochs).map { e =>
      s"""cm$e AS MATERIALIZED (SELECT bt.doc_id, bt.source,
         |    CAST(sum(bt.c * w.wq) AS BIGINT) AS m
         |  FROM cbt bt JOIN cw${e - 1} w USING (b) GROUP BY 1, 2),
         |cr$e AS MATERIALIZED (SELECT doc_id,
         |    CASE WHEN source = '$ClfTarget' THEN 1 ELSE 0 END AS y, m,
         |    CAST(floor((1.0 / (1.0 + exp(-(CAST(m AS DOUBLE) / 1e6)))
         |        - (CASE WHEN source = '$ClfTarget' THEN 1 ELSE 0 END))
         |      * 1e6 + 0.5) AS BIGINT) AS gq,
         |    CAST(floor((greatest(CAST(m AS DOUBLE) / 1e6, 0.0)
         |        + ln(1.0 + exp(-abs(CAST(m AS DOUBLE) / 1e6)))
         |        - (CASE WHEN source = '$ClfTarget' THEN 1 ELSE 0 END)
         |          * (CAST(m AS DOUBLE) / 1e6))
         |      * 1e6 + 0.5) AS BIGINT) AS xq
         |  FROM cm$e),
         |cg$e AS (SELECT bt.b, CAST(sum(r.gq * bt.c) AS BIGINT) AS delta
         |  FROM cbt bt JOIN cr$e r USING (doc_id) GROUP BY 1),
         |cw$e AS MATERIALIZED (SELECT w.b,
         |    w.wq - CAST(floor($ClfLr * CAST(coalesce(g.delta, 0) AS DOUBLE)
         |      / nn.n + 0.5) AS BIGINT) AS wq
         |  FROM cw${e - 1} w LEFT JOIN cg$e g USING (b) CROSS JOIN cnn nn)"""
        .stripMargin
    }.mkString(",\n")
    s"""ctk AS (SELECT doc_id, source, lower(unnest($sqlToks)) AS w
       |  FROM documents),
       |cbt AS MATERIALIZED (
       |  SELECT doc_id, source, ${sqlHash60("w")} % $B AS b,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM ctk GROUP BY 1, 2, 3
       |  UNION ALL
       |  SELECT doc_id, source, CAST($B AS BIGINT), CAST(1 AS BIGINT)
       |  FROM documents),
       |cnn AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN source = '$ClfTarget' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS npos FROM documents),
       |cw0 AS (SELECT CAST(range AS BIGINT) AS b, CAST(0 AS BIGINT) AS wq
       |  FROM range(${B + 1})),
       |$steps""".stripMargin
  }

  // --------------------------------------------------------------------
  // q287: the training trajectory — per epoch, the xent at entry
  // weights plus the exit-weight summary stats. E+0 rows; full weight
  // vectors stay out of the output (B = 256 × E would bloat it) but are
  // pinned transitively: q288 scores every doc with the final weights,
  // so any weight drift shows up as a per-doc margin mismatch there.
  // --------------------------------------------------------------------
  private def clfQ: Q =
    Q("q287_quality_classifier",
      (s, d) => {
        import s.implicits._
        clfFit(s, d)._1
          .toDF("step", "xent_unats", "n_pos", "n_neg", "bias_unats",
            "w_l1_unats", "w_nnz")
          .select("step", "n_pos", "n_neg", "xent_unats", "bias_unats",
            "w_l1_unats", "w_nnz")
          .orderBy("step")
      },
      Some {
        val B = ClfBuckets
        val out = (1 to ClfEpochs).map { e =>
          s"""SELECT CAST($e AS BIGINT) AS step, nn.npos AS n_pos,
             |  nn.n - nn.npos AS n_neg,
             |  (SELECT CAST(sum(xq) AS BIGINT) FROM cr$e) AS xent_unats,
             |  (SELECT wq FROM cw$e WHERE b = $B) AS bias_unats,
             |  (SELECT CAST(sum(abs(wq)) AS BIGINT) FROM cw$e WHERE b < $B)
             |    AS w_l1_unats,
             |  (SELECT CAST(sum(CASE WHEN wq <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    FROM cw$e WHERE b < $B) AS w_nnz
             |FROM cnn nn""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $clfSqlCtes
           |$out
           |ORDER BY step""".stripMargin
      })

  // --------------------------------------------------------------------
  // q288: calibration audit — per source, the learned classifier's keep
  // rate against q215's generative NB score (≥ 0 ⇔ the doc reads more
  // src0-like than not), and their agreement rate. The keep decision is
  // the LIKELIHOOD-RATIO test, m ≥ ln(n_pos/n_neg) in µ-units — "this
  // doc is more src0-like than the corpus prior" — NOT p ≥ 0.5: with a
  // ~5% positive class the 0.5 threshold keeps nothing (the full-batch
  // logit converges toward the prior log-odds), while the prior-odds
  // threshold is exactly the semantics of NB's score ≥ 0, which is what
  // makes the agreement comparison meaningful. The two models share the
  // positive class and the token stream but nothing else
  // (discriminative logreg over 256 hashed buckets vs generative NB
  // over the full vocabulary), so agreement is a real cross-model
  // check, not a tautology. Consumer discipline: the Spark side reads
  // the per-dir fit artifact (zero refit when q287 ran); the oracle
  // re-derives the weights through the SAME unrolled chain.
  // --------------------------------------------------------------------
  private def clfAgreementQ: Q =
    Q("q288_quality_clf_agreement",
      (s, d) => {
        import s.implicits._
        val wq = clfFit(s, d, reuse = true)._2
        val thrQ = priorThresholdQ(s, d)
        val clf = marginsOf(s, Tables.documents(s, d), wq)
        val nb = PipelineQueries.nbDocScores(s, d)
          .select(col("doc_id"), col("score_q"))
        clf.join(nb, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("m") >= thrQ, 1L).otherwise(0L)).as("ck"),
            sum(when(col("score_q") >= 0L, 1L).otherwise(0L)).as("nk"),
            sum(when((col("m") >= thrQ) === (col("score_q") >= 0L), 1L)
              .otherwise(0L)).as("ag"))
          .select(col("source"), col("n_docs"),
            pround(col("ck").cast("double") / col("n_docs"), 6)
              .as("clf_keep_rate"),
            pround(col("nk").cast("double") / col("n_docs"), 6)
              .as("nb_keep_rate"),
            pround(col("ag").cast("double") / col("n_docs"), 6)
              .as("agreement"))
          .orderBy("source")
      },
      Some {
        val E = ClfEpochs
        s"""WITH $clfSqlCtes,
           |${PipelineQueries.nbScoreSqlCtes},
           |$thrSqlCte,
           |sc AS (SELECT bt.doc_id, bt.source,
           |    CAST(sum(bt.c * w.wq) AS BIGINT) AS m
           |  FROM cbt bt JOIN cw$E w USING (b) GROUP BY 1, 2)
           |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_docs,
           |  ${sqlRound(
             "CAST(sum(CASE WHEN sc.m >= thr.tq THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
             6)} AS clf_keep_rate,
           |  ${sqlRound(
             "CAST(sum(CASE WHEN ds.score_q >= 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
             6)} AS nb_keep_rate,
           |  ${sqlRound(
             "CAST(sum(CASE WHEN (sc.m >= thr.tq) = (ds.score_q >= 0) THEN 1 ELSE 0 END) AS DOUBLE) / count(*)",
             6)} AS agreement
           |FROM sc JOIN ds ON ds.doc_id = sc.doc_id CROSS JOIN thr
           |GROUP BY 1 ORDER BY 1""".stripMargin
      })

  // --------------------------------------------------------------------
  // q289: streaming quality gate — the selection stack applied ON
  // ARRIVAL. The streaming family covers dedup (q151) and
  // decontamination (q209) in flight but not selection, yet an ingest
  // pipeline applies its quality/importance filter as data lands.
  // Documents arrive as a file stream; each micro-batch is scored with
  // the q287 classifier (the per-dir fit artifact as a broadcast
  // (B+1)-row table, reused from the fit) and gated at
  // the q288 prior-odds threshold. The gate is PER-DOC LOCAL — no
  // cross-batch state — so no watermark is needed (a watermark bounds
  // STATE, and a stateless row filter has none) and the committed
  // final state is batch-composition-invariant, which is exactly what
  // makes the q103-style final-state oracle exact. Sink writes are
  // idempotent per batch (batchId-keyed subdirectory overwrite, the
  // q209 replay-safety discipline), and each batch also commits its
  // kept/dropped admission counters; the run reconciles the counters
  // against the final state and fails loudly on any mismatch. 100 TB:
  // per batch, one broadcast join + batch-sized aggregation — the same
  // linear shape as the batch scorer, amortized over arrival.
  // --------------------------------------------------------------------
  private def streamGateQ: Q =
    Q("q289_stream_quality_gate",
      (s, d) => {
        import graft.streaming.StreamHarness
        import org.apache.spark.sql.streaming.Trigger
        val wq = clfFit(s, d, reuse = true)._2
        val thrQ = priorThresholdQ(s, d)
        val base = StreamHarness.scratchDir("graft_q289")
        val sink = base + "/gate"
        val counts = base + "/counts"
        val ckpt = base + "/ckpt"
        val stream = s.readStream
          .schema(StreamHarness.sourceSchema(s, d, "documents"))
          .parquet(StreamHarness.sourceDir(d, "documents"))
        val q = stream.writeStream.option("checkpointLocation", ckpt)
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val scored = Cached.persist(marginsOf(s, batch, wq)
              .select(col("doc_id"), col("source"),
                col("m").as("margin_unats"),
                (col("m") >= thrQ).as("kept")))
            try {
              scored.write.mode("overwrite").parquet(s"$sink/batch=$batchId")
              scored.agg(
                  sum(when(col("kept"), 1L).otherwise(0L)).as("nk"),
                  count(lit(1)).as("nd"))
                .select(lit(batchId).as("batch_id"), col("nk").as("n_kept"),
                  (col("nd") - col("nk")).as("n_dropped"))
                .write.mode("overwrite").parquet(s"$counts/batch=$batchId")
            } finally Cached.release(scored)
            ()
          }.start()
        try require(q.awaitTermination(300000),
          "q289: streaming query did not terminate within 300 s")
        finally q.stop()
        val perDoc = s.read.parquet(sink)
          .select("doc_id", "source", "margin_unats", "kept")
        // Admission-counter reconciliation: Σ per-batch counters must
        // equal the committed final state — loud, not logged.
        val c = s.read.parquet(counts)
          .agg(sum("n_kept").as("k"), sum("n_dropped").as("dr"))
          .collect().head
        val kTot = perDoc.filter(col("kept")).count()
        val tot = perDoc.count()
        require(c.getLong(0) == kTot && c.getLong(1) == tot - kTot,
          s"q289: batch counters (${c.getLong(0)}/${c.getLong(1)}) do not " +
            s"reconcile with final state ($kTot/${tot - kTot})")
        val res = StreamHarness.localize(perDoc.orderBy("doc_id"))
        StreamHarness.deleteRecursively(base)
        res
      },
      Some {
        val E = ClfEpochs
        s"""WITH $clfSqlCtes,
           |$thrSqlCte,
           |sc AS (SELECT bt.doc_id, bt.source,
           |    CAST(sum(bt.c * w.wq) AS BIGINT) AS m
           |  FROM cbt bt JOIN cw$E w USING (b) GROUP BY 1, 2)
           |SELECT sc.doc_id, sc.source, sc.m AS margin_unats,
           |  sc.m >= thr.tq AS kept
           |FROM sc CROSS JOIN thr
           |ORDER BY sc.doc_id""".stripMargin
      })

  val all: Seq[Q] = Seq(clfQ, clfAgreementQ, streamGateQ)
}
