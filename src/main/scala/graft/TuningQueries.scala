package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{pround, sqlRound}
import graft.VectorTextQueries.{arrLit, sqlHash60, sqlToks}
import graft.text.TextOps

/** Round-13 additions: the *tuning and audit* layer of the
  * training-data pipeline — clustering for curation (Lloyd's k-means),
  * sketch-vs-exact counting audits (CountMin), index-parameter planning
  * (the minhash-LSH S-curve), the IVF recall/cost trade-off curve, and
  * vocabulary-coverage QA (OOV rates) for the frozen split. Everything
  * here is either catalog-sized math or one-shuffle aggregation over
  * the corpus; per-query 100 TB posture in each doc-comment.
  */
object TuningQueries {

  /** Embedding dimensionality of the synthetic corpus (shared with the
    * q30/q120/q191/q236 vector families). */
  private val Dim = 64

  /** Lloyd iterations for the registered k-means fit. */
  private val LloydIters = 3

  /** FIXED cluster count — the fixed-budget discipline (the q229/q236
    * lesson applied to clustering): k is a model HYPERPARAMETER, not a
    * corpus statistic. Seeds are the per-label means of the k lowest
    * labels (= the full label set of the base corpus, so base-corpus
    * results are identical to all-label seeding), and they stay k as
    * the corpus — and its label space — grows. That pins the exact
    * assignment at Θ(N·k) = corpus-LINEAR; a deployment that wants
    * k ∝ N (SemDeDup's cluster knob) must accept Θ(N²/·) exact
    * assignment or move to ANN-accelerated assignment — the trade
    * q214's LSH-bucketed tier already demonstrates.
    */
  private val LloydK = 10

  /** Per-dir Lloyd fit artifact: the fit is bit-reproducible
    * (per-iteration centroids are 6-dp-rounded, so the trajectory is
    * exact on both engines), hence reuse is value-identical to refit, and
    * the dynamic oracles (q266, q271) read the same centroid literals the
    * engine plan used.
    */
  private[graft] val LloydRuns =
    new Fits.Slot[(Seq[(Long, Long, Long, Long, Long)], Seq[(Long, Array[Double])])]

  /** Distributed Lloyd's k-means (Lloyd 1982 / MacQueen 1967, public
    * knowledge) over the embedding corpus, seeded deterministically
    * with the per-label means of the [[LloydK]] lowest labels (the
    * q120 seed rule under the fixed-budget discipline) and iterated
    * `iters` times. `reuse = false` (q263) always refits — the
    * trajectory IS that query's payload, so its measured cost must be
    * the fit's; `reuse = true` (q266) reads the per-dir artifact. Per iteration the distributed work is ONE job: the
    * nearest-centroid assignment is a pure codegen'd expression over
    * k broadcast centroid literals (the ivfAssign shape, keeping the
    * winning d2), and the re-estimation folds means, cluster sizes,
    * and inertia into a single (cluster, pos) aggregation with
    * map-side combine. The k×dim collect per round is the learned
    * hyperparameters — q210's epoch-loop pattern — so driver state is
    * constant-size regardless of corpus size; at 100 TB the per-round
    * cost is one scan + one 64k-cell shuffle, the canonical
    * cached-dataset iterative-ML layout.
    *
    * Determinism: centroids are rounded to 6 dp each round (both
    * engines compute identical literals despite shuffle-order double
    * sums — the q120 argument), per-vector inertia contributions are
    * 1e-6-quantized to BIGINT before summing (order-free integer
    * arithmetic), and centroid drift is 1e-9-quantized from the
    * already-rounded arrays, so the whole trajectory is exact parity.
    *
    * Returns (per-iteration per-cluster stats rows
    * (iter, cluster, n_vecs, inertia_um, shift_nm), final centroids).
    */
  private[graft] def lloydFit(s: SparkSession, d: String,
      iters: Int = LloydIters, reuse: Boolean = false)
      : (Seq[(Long, Long, Long, Long, Long)], Seq[(Long, Array[Double])]) =
    LloydRuns.fit(d, reuse) {
      import org.apache.spark.sql.graft.GraftExpressions.arraySqDiff
      val v = Tables.embeddings(s, d)
        .select(col("label").cast("long").as("cl"),
          col("embedding").cast("array<double>").as("emb"))
      def assemble(rows: Seq[(Long, Int, Double)]): Seq[(Long, Array[Double])] =
        rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (cl, rs) =>
          val arr = new Array[Double](Dim)
          rs.foreach { case (_, pos, cv) => arr(pos - 1) = cv }
          (cl, arr)
        }
      val seedRows = v.filter(col("cl") < LloydK)
        .select(col("cl"), posexplode(col("emb")))
        .withColumn("pos", col("pos") + 1)
        .groupBy("cl", "pos").agg(pround(avg("col"), 6).as("cv"))
        .collect().toSeq.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      var cents = assemble(seedRows)
      val stats = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
      for (it <- 1 to iters) {
        val scored = cents.map { case (cl, c) =>
          struct(arraySqDiff(col("emb"), array(c.map(lit).toIndexedSeq: _*)).as("d2"),
            lit(cl).as("cl"))
        }
        // array_min over (d2, cl) structs = argmin with low-cluster tie
        // break — the same total order the oracle's row_number uses.
        val best = array_min(array(scored.toIndexedSeq: _*))
        val asg = v.select(col("emb"), best.getField("cl").as("acl"),
          floor(best.getField("d2") * 1e6 + 0.5).cast("long").as("d2_um"))
        val aggRows = asg.select(col("acl"), col("d2_um"), posexplode(col("emb")))
          .withColumn("pos", col("pos") + 1)
          .groupBy("acl", "pos")
          .agg(pround(avg("col"), 6).as("cv"), count(lit(1)).as("n"),
            sum("d2_um").as("in_um"))
          .collect().toSeq
        val newCents = assemble(aggRows.map(r =>
          (r.getLong(0), r.getInt(1), r.getDouble(2))))
        val prevMap = cents.toMap
        val newMap = newCents.toMap
        aggRows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).foreach { case (cl, rs) =>
          // n and inertia are replicated across the 64 pos cells of a
          // cluster (each vector contributes one value per pos) — any
          // row carries the cluster totals.
          val n = rs.head.getLong(3)
          val inUm = rs.head.getLong(4)
          val p = prevMap(cl)
          val c = newMap(cl)
          var sq = 0.0
          var j = 0
          while (j < Dim) { val dd = c(j) - p(j); sq += dd * dd; j += 1 }
          stats += ((it.toLong, cl, n, inUm, math.floor(sq * 1e9 + 0.5).toLong))
        }
        cents = newCents
      }
      (stats.toSeq, cents)
    }

  /** DuckDB mirror of [[lloydFit]]'s full trajectory: seed = per-label
    * 6-dp-rounded means, then `iters` unrolled
    * assign → stats → re-estimate → drift CTE blocks in lockstep with
    * the engine's rounding points.
    */
  private def kmeansSql(iters: Int): String = {
    def sq(a: String, b: String) =
      s"list_sum(list_transform(range(1, ${Dim + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
    val blocks = (1 to iters).map { i =>
      s"""d$i AS (SELECT v.vec_id, cent.cl, ${sq("v.emb", "cent.c")} AS d2, v.emb
         |  FROM v, cent${i - 1} cent),
         |a$i AS (SELECT vec_id, cl, CAST(floor(d2 * 1e6 + 0.5) AS BIGINT) AS d2_um, emb
         |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2 ASC, cl ASC) AS rn FROM d$i) WHERE rn = 1),
         |st$i AS (SELECT cl, CAST(count(*) AS BIGINT) AS n_vecs,
         |    CAST(sum(d2_um) AS BIGINT) AS inertia_um FROM a$i GROUP BY 1),
         |cp$i AS (SELECT cl, pos, ${sqlRound("avg(emb[pos])", 6)} AS cv
         |  FROM a$i, ps GROUP BY 1, 2),
         |cent$i AS (SELECT cl, list(cv ORDER BY pos) AS c FROM cp$i GROUP BY 1),
         |sh$i AS (SELECT n.cl,
         |    CAST(floor(${sq("n.c", "p.c")} * 1e9 + 0.5) AS BIGINT) AS shift_nm
         |  FROM cent$i n JOIN cent${i - 1} p ON n.cl = p.cl),
         |o$i AS (SELECT CAST($i AS BIGINT) AS iter, st.cl AS cluster,
         |    st.n_vecs, st.inertia_um, sh.shift_nm
         |  FROM st$i st JOIN sh$i sh ON st.cl = sh.cl)""".stripMargin
    }.mkString(",\n")
    val union = (1 to iters).map(i => s"SELECT * FROM o$i").mkString("\n UNION ALL ")
    s"""WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS cl,
       |    embedding::DOUBLE[] AS emb FROM embeddings),
       |ps AS (SELECT unnest(generate_series(1, $Dim)) AS pos),
       |cp0 AS (SELECT cl, pos, ${sqlRound("avg(emb[pos])", 6)} AS cv
       |  FROM v, ps WHERE cl < $LloydK GROUP BY 1, 2),
       |cent0 AS (SELECT cl, list(cv ORDER BY pos) AS c FROM cp0 GROUP BY 1),
       |$blocks
       |$union
       |ORDER BY iter, cluster""".stripMargin
  }

  /** CountMin depth (independent hash rows) and width (buckets/row). */
  private val CmsD = 4
  private val CmsW = 1024L

  /** The four per-row bucket assignments of a token under the seeded
    * md5 hash family — shared by the cell-count and estimate tiers. */
  private def cmsBuckets(c: Column): Column =
    array((0 until CmsD).map(i =>
      pmod(TextOps.md5Hash60Seeded(c, i), lit(CmsW))).toIndexedSeq: _*)

  private def sqlCmsBucket(w: String): String =
    s"${sqlHash60(s"CAST(i AS VARCHAR) || ':' || $w")} % $CmsW"

  private val clustering: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    // q263: seeded Lloyd's k-means over the embedding corpus — the
    // clustering primitive behind semantic curation (SemDeDup's cluster
    // stage q212/q214, DSIR's domain buckets q213) promoted to a
    // first-class multi-iteration fit with a full audit trajectory:
    // per (iteration, cluster) the size, the 1e-6-quantized inertia
    // mass, and the 1e-9-quantized centroid drift (the convergence
    // signal a production fit monitors). 100 TB: per iteration one
    // corpus scan against k broadcast literals + one 64k-cell
    // aggregation; driver state is k×dim. The oracle recomputes the
    // ENTIRE trajectory from scratch in SQL — no learned literals.
    // ------------------------------------------------------------------
    Q("q263_kmeans_lloyd",
      (s, d) => {
        import s.implicits._
        val (stats, _) = lloydFit(s, d, LloydIters)
        stats.toDF("iter", "cluster", "n_vecs", "inertia_um", "shift_nm")
          .orderBy("iter", "cluster")
      },
      Some(kmeansSql(LloydIters))),

    // ------------------------------------------------------------------
    // q264: CountMin sketch vs exact — the counting analogue of q250's
    // Misra–Gries audit (Cormode & Muthukrishnan 2005, public
    // knowledge). The sketch is a d×w grid of counters updated at
    // h_i(w) per hash row; a token's estimate is the MIN over its d
    // cells and can only OVER-estimate (collisions add, never
    // subtract). Engine and oracle both build the exact grid, so the
    // output audits the sketch's real collision error on this corpus
    // for the top-64 tokens. 100 TB: the grid is d·w = 4096 cells
    // regardless of corpus size (map-side combine does almost all the
    // work), the estimate tier joins the vocabulary against the
    // BROADCAST grid, and the exact tier is the one corpus-sized
    // aggregation — the same mass q40's exact dedup already pays.
    // ------------------------------------------------------------------
    Q("q264_countmin_audit",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("w"))
        val cells = toks.select(posexplode(cmsBuckets(col("w"))))
          .groupBy(col("pos"), col("col"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("pos").as("i"), col("col").as("bucket"), col("cnt"))
        val exact = toks.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
        val eh = exact
          .select(col("w"), col("exact_cnt"), posexplode(cmsBuckets(col("w"))))
          .select(col("w"), col("exact_cnt"), col("pos").as("i"),
            col("col").as("bucket"))
        eh.join(broadcast(cells), Seq("i", "bucket"))
          .groupBy("w", "exact_cnt").agg(min("cnt").as("est_cnt"))
          .select(col("w").as("token"), col("exact_cnt"), col("est_cnt"),
            (col("est_cnt") - col("exact_cnt")).as("overcount"))
          .orderBy(col("exact_cnt").desc, col("token").asc).limit(64)
      },
      Some(s"""WITH toks AS (SELECT unnest($sqlToks) AS w FROM documents),
             |hi AS (SELECT unnest(range(0, $CmsD)) AS i),
             |hx AS (SELECT i, ${sqlCmsBucket("w")} AS bucket FROM toks, hi),
             |cells AS (SELECT i, bucket, CAST(count(*) AS BIGINT) AS cnt
             |  FROM hx GROUP BY 1, 2),
             |exact AS (SELECT w, CAST(count(*) AS BIGINT) AS exact_cnt
             |  FROM toks GROUP BY 1),
             |eh AS (SELECT w, exact_cnt, i, ${sqlCmsBucket("w")} AS bucket
             |  FROM exact, hi),
             |est AS (SELECT w, exact_cnt, min(cnt) AS est_cnt
             |  FROM eh JOIN cells USING (i, bucket) GROUP BY 1, 2)
             |SELECT w AS token, exact_cnt, CAST(est_cnt AS BIGINT) AS est_cnt,
             |  CAST(est_cnt - exact_cnt AS BIGINT) AS overcount
             |FROM est ORDER BY exact_cnt DESC, token LIMIT 64""".stripMargin)),

    // ------------------------------------------------------------------
    // q265: minhash-LSH parameter planner — the S-curve
    // P(collide | s) = 1 − (1 − s^r)^b for every (bands b, rows r)
    // layout within a 128-hash signature budget (Leskovec/Rajaraman/
    // Ullman, "Mining of Massive Datasets" ch. 3, public knowledge),
    // plus each layout's threshold s50 = (1 − 2^(−1/b))^(1/r) where
    // the curve crosses 1/2. This is the design table behind the
    // repo's own banded tiers (q52's 12×4, q239/q256's verified
    // compositions): pick (b, r) whose s50 sits at the target Jaccard
    // and whose sig_size fits the signature budget. Catalog-sized pure
    // math on both engines — the plan costs nothing at any corpus
    // size; it PRICES the plans that do.
    // ------------------------------------------------------------------
    Q("q265_lsh_plan",
      (s, d) => {
        import s.implicits._
        def pAt(sv: Double) = pround(lit(1.0) -
          pow(lit(1.0) - pow(lit(sv), col("r").cast("double")),
            col("b").cast("double")), 6)
        Seq(2, 4, 8, 16, 32, 64).toDF("b")
          .crossJoin(Seq(1, 2, 4, 8, 16).toDF("r"))
          .filter(col("b") * col("r") <= 128)
          .select(col("b").cast("long").as("b"), col("r").cast("long").as("r"),
            (col("b") * col("r")).cast("long").as("sig_size"),
            pround(pow(lit(1.0) - pow(lit(0.5), lit(1.0) / col("b").cast("double")),
              lit(1.0) / col("r").cast("double")), 6).as("s50"),
            pAt(0.5).as("p_at_050"), pAt(0.7).as("p_at_070"),
            pAt(0.8).as("p_at_080"), pAt(0.9).as("p_at_090"))
          .orderBy("b", "r")
      },
      Some {
        def pAt(sv: String) = sqlRound(s"1.0 - pow(1.0 - pow($sv, CAST(r AS DOUBLE)), CAST(b AS DOUBLE))", 6)
        s"""WITH g AS (SELECT b, r
           |  FROM (SELECT unnest([2, 4, 8, 16, 32, 64]) AS b),
           |       (SELECT unnest([1, 2, 4, 8, 16]) AS r)
           |  WHERE b * r <= 128)
           |SELECT CAST(b AS BIGINT) AS b, CAST(r AS BIGINT) AS r,
           |  CAST(b * r AS BIGINT) AS sig_size,
           |  ${sqlRound("pow(1.0 - pow(0.5, 1.0 / CAST(b AS DOUBLE)), 1.0 / CAST(r AS DOUBLE))", 6)} AS s50,
           |  ${pAt("0.5")} AS p_at_050, ${pAt("0.7")} AS p_at_070,
           |  ${pAt("0.8")} AS p_at_080, ${pAt("0.9")} AS p_at_090
           |FROM g ORDER BY b, r""".stripMargin
      }),

    // ------------------------------------------------------------------
    // q266: IVF recall-vs-cost curve — sweep nprobe ∈ {1,2,4,8} over an
    // IVF index whose coarse quantizer is the q263 k-means fit (Jégou,
    // Douze, Schmid 2011's IVF layout; the sweep is how a production
    // deployment picks its operating point). Query set is FIXED-BUDGET
    // (the q236 lesson: ≈64 hash-chosen queries, so the exact truth
    // tier stays corpus-LINEAR); per nprobe the output is mean
    // recall@10 against the exact top-10 and the mean fraction of the
    // corpus scanned — the two axes of the trade-off. 100 TB: corpus
    // list assignment is a codegen'd broadcast-literal projection (the
    // partition layout of a real IVF index), each query touches
    // nprobe/k of the data, and every tier after the candidate join is
    // query-budget-sized. Oracle embeds the fit's centroid literals
    // (oracleDyn — the q204 discipline).
    // ------------------------------------------------------------------
    Q("q266_ivf_probe_sweep",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.graft.GraftExpressions.arraySqDiff
        import graft.sim.Lsh
        // reuse = true: the trained coarse quantizer is an index
        // artifact (production IVF trains once and serves many sweeps);
        // value-identical to refit — the fit is bit-reproducible.
        val cents = lloydFit(s, d, LloydIters, reuse = true)._2.map(_._2).toArray
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val thr = emb.agg(count(lit(1)).as("c"))
          .select(floor(lit(64L * 4294967296L).cast("double") /
            col("c").cast("double")).as("thr"))
        // NOT persisted (round-13 advice): caching the whole tagged
        // corpus leaked a MEMORY_AND_DISK copy of the embeddings table
        // past the query's lifetime. The reuses below are each one
        // columnar parquet re-scan + a codegen'd hash — cheaper than
        // holding a corpus-sized cache, and the only posture that holds
        // at 100 TB anyway (you re-scan; you don't pin the corpus).
        val tagged = emb.crossJoin(broadcast(thr))
          .withColumn("is_q", Hashing.hash32(col("vec_id")) < col("thr"))
        val queries = tagged.filter(col("is_q"))
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val corpus = tagged.filter(!col("is_q"))
          .select(col("vec_id"), col("v"))
          .withColumn("list", Lsh.ivfAssign(col("v"), cents))
        val probes = queries
          .select(col("query_id"), col("qv"),
            posexplode(Lsh.ivfProbe(col("qv"), cents, nprobe = 8)))
          .select(col("query_id"), col("qv"), (col("pos") + 1).as("prank"),
            col("col").as("plist"))
        val cand = corpus.join(broadcast(probes), col("list") === col("plist"))
          .withColumn("d2", arraySqDiff(col("v"), col("qv")))
        val sweep = Seq(1, 2, 4, 8).toDF("nprobe")
        val cands = cand.join(broadcast(sweep), col("prank") <= col("nprobe"))
        val wTop = Window.partitionBy("nprobe", "query_id")
          .orderBy(col("d2").asc, col("vec_id").asc)
        val top10 = cands.withColumn("rn", row_number().over(wTop))
          .filter(col("rn") <= 10).select("nprobe", "query_id", "vec_id")
        val wTruth = Window.partitionBy("query_id")
          .orderBy(col("d2").asc, col("vec_id").asc)
        val truth = corpus.crossJoin(broadcast(queries))
          .withColumn("d2", arraySqDiff(col("v"), col("qv")))
          .withColumn("rn", row_number().over(wTruth))
          .filter(col("rn") <= 10).select("query_id", "vec_id")
        val hits = top10.join(truth, Seq("query_id", "vec_id"))
          .groupBy("nprobe", "query_id").agg(count(lit(1)).as("n_hits"))
        val scanned = cands.groupBy("nprobe", "query_id")
          .agg(count(lit(1)).as("n_cand"))
        val ncorp = corpus.agg(count(lit(1)).as("n_corpus"))
        sweep.crossJoin(queries.select("query_id"))
          .join(hits, Seq("nprobe", "query_id"), "left")
          .join(scanned, Seq("nprobe", "query_id"), "left")
          .groupBy("nprobe")
          .agg(count(lit(1)).as("n_queries"),
            sum(coalesce(col("n_hits"), lit(0L))).as("sh"),
            sum(coalesce(col("n_cand"), lit(0L))).as("sc"))
          .crossJoin(broadcast(ncorp))
          .select(col("nprobe").cast("long").as("nprobe"), col("n_queries"),
            pround(col("sh").cast("double") /
              (lit(10.0) * col("n_queries").cast("double")), 6)
              .as("mean_recall_at_10"),
            pround(col("sc").cast("double") /
              (col("n_queries").cast("double") * col("n_corpus").cast("double")), 6)
              .as("mean_cand_frac"))
          .orderBy("nprobe")
      },
      oracle = None,
      oracleDyn = Some { () =>
        LloydRuns.oracle("q266") { case (_, cents) =>
          val centRows = cents.map(_._2).zipWithIndex.map { case (c, i) =>
            s"(CAST($i AS BIGINT), ${arrLit(c)}::DOUBLE[])"
          }.mkString(",\n    ")
          def sq(a: String, b: String) =
            s"list_sum(list_transform(range(1, ${Dim + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |nn AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM e),
             |thr AS (SELECT floor(CAST(64 * 4294967296 AS DOUBLE)
             |    / CAST(cnt AS DOUBLE)) AS t FROM nn),
             |q AS (SELECT vec_id AS query_id, v AS qv FROM e, thr
             |  WHERE ${Hashing.sqlHash32("vec_id")} < t),
             |co AS (SELECT vec_id, v FROM e, thr
             |  WHERE NOT (${Hashing.sqlHash32("vec_id")} < t)),
             |cents AS (SELECT * FROM (VALUES
             |    $centRows) t(li, cv)),
             |asg0 AS (SELECT co.vec_id, co.v, cents.li,
             |    ${sq("co.v", "cents.cv")} AS d2 FROM co, cents),
             |asgc AS (SELECT vec_id, v, li AS list FROM
             |  (SELECT *, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY d2 ASC, li ASC) AS rn FROM asg0) WHERE rn = 1),
             |qp0 AS (SELECT q.query_id, q.qv, cents.li,
             |    ${sq("q.qv", "cents.cv")} AS d2 FROM q, cents),
             |qprobe AS (SELECT query_id, qv, li AS list,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY d2 ASC, li ASC) AS prank FROM qp0),
             |tr0 AS (SELECT q.query_id, co.vec_id, ${sq("co.v", "q.qv")} AS d2
             |  FROM co, q),
             |truth AS (SELECT query_id, vec_id FROM
             |  (SELECT *, row_number() OVER (PARTITION BY query_id
             |      ORDER BY d2 ASC, vec_id ASC) AS rn FROM tr0) WHERE rn <= 10),
             |np AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
             |cand AS (SELECT np.nprobe, p.query_id, a.vec_id,
             |    ${sq("a.v", "p.qv")} AS d2
             |  FROM np, qprobe p JOIN asgc a ON a.list = p.list
             |  WHERE p.prank <= np.nprobe),
             |top10 AS (SELECT nprobe, query_id, vec_id FROM
             |  (SELECT *, row_number() OVER (PARTITION BY nprobe, query_id
             |      ORDER BY d2 ASC, vec_id ASC) AS rn FROM cand) WHERE rn <= 10),
             |hits AS (SELECT t.nprobe, t.query_id,
             |    CAST(count(*) AS BIGINT) AS n_hits
             |  FROM top10 t JOIN truth USING (query_id, vec_id) GROUP BY 1, 2),
             |sc AS (SELECT nprobe, query_id, CAST(count(*) AS BIGINT) AS n_cand
             |  FROM cand GROUP BY 1, 2),
             |base AS (SELECT np.nprobe, q.query_id FROM np, q),
             |j AS (SELECT b.nprobe, b.query_id,
             |    coalesce(h.n_hits, 0) AS n_hits, coalesce(sc.n_cand, 0) AS n_cand
             |  FROM base b
             |  LEFT JOIN hits h ON b.nprobe = h.nprobe AND b.query_id = h.query_id
             |  LEFT JOIN sc ON b.nprobe = sc.nprobe AND b.query_id = sc.query_id)
             |SELECT CAST(nprobe AS BIGINT) AS nprobe,
             |  CAST(count(*) AS BIGINT) AS n_queries,
             |  ${sqlRound("CAST(sum(n_hits) AS DOUBLE) / (10.0 * count(*))", 6)}
             |    AS mean_recall_at_10,
             |  ${sqlRound("CAST(sum(n_cand) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * (SELECT CAST(count(*) AS DOUBLE) FROM co))", 6)}
             |    AS mean_cand_frac
             |FROM j GROUP BY nprobe ORDER BY nprobe""".stripMargin
        }
      }),

    // ------------------------------------------------------------------
    // q271: IVF list-balance audit — per-list population, corpus
    // fraction, and load factor (n·k/total, 1.0 = uniform) of the q263
    // coarse quantizer, INCLUDING empty lists (a scaffold join — an
    // audit that hides empties under-reports skew). This is the skew
    // report behind q266's cost column: a probe touches nprobe/k of
    // the data only when lists are balanced; a hot list (load ≫ 1)
    // is exactly the partition-skew failure AQE's skew-join handling
    // and salting exist for, surfaced here at index-design time where
    // it is cheapest to fix (re-fit, split the hot list, or salt it).
    // 100 TB: one codegen'd broadcast-literal assignment + a k-cell
    // aggregation; output is k rows at any corpus size.
    // ------------------------------------------------------------------
    Q("q271_ivf_balance",
      (s, d) => {
        import s.implicits._
        import graft.sim.Lsh
        val cents = lloydFit(s, d, LloydIters, reuse = true)._2.map(_._2).toArray
        val assigned = Tables.embeddings(s, d)
          .select(col("embedding").cast("array<double>").as("v"))
          .select(Lsh.ivfAssign(col("v"), cents).as("list"))
        val sizes = assigned.groupBy("list").agg(count(lit(1)).as("n_vecs"))
        val total = assigned.agg(count(lit(1)).as("n_total"))
        (0 until cents.length).toDF("list")
          .join(sizes, Seq("list"), "left")
          .crossJoin(broadcast(total))
          .select(col("list").cast("long").as("list"),
            coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
            pround(coalesce(col("n_vecs"), lit(0L)).cast("double") /
              col("n_total").cast("double"), 6).as("frac"),
            pround(coalesce(col("n_vecs"), lit(0L)).cast("double") *
              lit(cents.length.toDouble) / col("n_total").cast("double"), 6)
              .as("load"))
          .orderBy("list")
      },
      oracle = None,
      oracleDyn = Some { () =>
        LloydRuns.oracle("q271") { case (_, cents) =>
          val k = cents.length
          val centRows = cents.map(_._2).zipWithIndex.map { case (c, i) =>
            s"(CAST($i AS BIGINT), ${arrLit(c)}::DOUBLE[])"
          }.mkString(",\n    ")
          def sq(a: String, b: String) =
            s"list_sum(list_transform(range(1, ${Dim + 1}), j -> ($a[j]-$b[j])*($a[j]-$b[j])))"
          s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cents AS (SELECT * FROM (VALUES
             |    $centRows) t(li, cv)),
             |asg0 AS (SELECT e.vec_id, cents.li, ${sq("e.v", "cents.cv")} AS d2
             |  FROM e, cents),
             |asgc AS (SELECT vec_id, li AS list FROM
             |  (SELECT *, row_number() OVER (PARTITION BY vec_id
             |      ORDER BY d2 ASC, li ASC) AS rn FROM asg0) WHERE rn = 1),
             |sz AS (SELECT list, CAST(count(*) AS BIGINT) AS n_vecs
             |  FROM asgc GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM asgc),
             |ls AS (SELECT unnest(range(0, $k)) AS list)
             |SELECT CAST(ls.list AS BIGINT) AS list,
             |  coalesce(sz.n_vecs, 0) AS n_vecs,
             |  ${sqlRound("CAST(coalesce(sz.n_vecs, 0) AS DOUBLE) / CAST(tot.n_total AS DOUBLE)", 6)} AS frac,
             |  ${sqlRound(s"CAST(coalesce(sz.n_vecs, 0) AS DOUBLE) * $k.0 / CAST(tot.n_total AS DOUBLE)", 6)} AS load
             |FROM ls LEFT JOIN sz ON sz.list = ls.list CROSS JOIN tot
             |ORDER BY list""".stripMargin
        }
      }),

    // ------------------------------------------------------------------
    // q267: out-of-vocabulary audit of the frozen split — for every
    // non-train (source, split) cell, the fraction of token OCCURRENCES
    // and token TYPES unseen in the train split's vocabulary. This is
    // the release-QA check that the tokenizer/vocab fit on train
    // actually covers val/test (a high OOV rate means the split
    // stratification broke, or a source only contributes to eval).
    // Uses the SAME split law as q226/q228/q261 (PipelineQueries.splitOf
    // — one definition, cannot drift). 100 TB: one corpus-sized token
    // explode, a vocabulary equi-join (hash join on the token — the
    // vocabulary is the small side after train dedup), and a
    // catalog-sized rollup.
    // ------------------------------------------------------------------
    Q("q267_oov_rate",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("source"),
            PipelineQueries.splitOf(col("doc_id")).as("split"),
            explode(TextOps.tokens(col("text"))).as("w"))
        val trainV = toks.filter(col("split") === "train")
          .select("w").distinct().withColumn("seen", lit(1))
        toks.filter(col("split") =!= "train")
          .join(trainV, Seq("w"), "left")
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_oov"),
            countDistinct(col("w")).as("n_types"),
            countDistinct(when(col("seen").isNull, col("w"))).as("n_oov_types"))
          .select(col("source"), col("split"), col("n_tokens"), col("n_oov"),
            pround(col("n_oov").cast("double") / col("n_tokens").cast("double"), 6)
              .as("oov_rate"),
            col("n_types"), col("n_oov_types"),
            pround(col("n_oov_types").cast("double") / col("n_types").cast("double"), 6)
              .as("oov_type_rate"))
          .orderBy("source", "split")
      },
      Some(s"""WITH t AS (SELECT source, ${PipelineQueries.sqlSplitOf("doc_id")} AS split,
             |    unnest($sqlToks) AS w FROM documents),
             |tv AS (SELECT DISTINCT w FROM t WHERE split = 'train'),
             |ev AS (SELECT t.source, t.split, t.w,
             |    CASE WHEN tv.w IS NULL THEN 1 ELSE 0 END AS oov
             |  FROM t LEFT JOIN tv ON t.w = tv.w WHERE t.split <> 'train')
             |SELECT source, split, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(oov) AS BIGINT) AS n_oov,
             |  ${sqlRound("CAST(sum(oov) AS DOUBLE) / count(*)", 6)} AS oov_rate,
             |  CAST(count(DISTINCT w) AS BIGINT) AS n_types,
             |  CAST(count(DISTINCT CASE WHEN oov = 1 THEN w END) AS BIGINT)
             |    AS n_oov_types,
             |  ${sqlRound("CAST(count(DISTINCT CASE WHEN oov = 1 THEN w END) AS DOUBLE) / count(DISTINCT w)", 6)} AS oov_type_rate
             |FROM ev GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------------------------------------------------------
    // q272: Benford first-digit audit of the price stream — the classic
    // financial-data forensic screen (Benford 1938; Nigrini's fraud-
    // audit practice, public knowledge): naturally occurring positive
    // magnitudes have first-digit frequencies log10(1 + 1/d), and a
    // fabricated or truncated feed shows up as excess χ² mass. Output
    // is one row per digit 1–9 (scaffolded, so a digit with ZERO
    // observations still reports — an audit that drops empty cells
    // hides exactly the anomaly it looks for) with observed count/
    // fraction, the Benford expectation, and the χ² contribution.
    // First digit = floor(v / 10^floor(log10 v)) — decade-boundary
    // doubles (1, 10, 100…) are exact in both engines' log10. 100 TB:
    // one scan → 9-cell aggregation with map-side combine; the rollup
    // is constant-size at any corpus.
    // ------------------------------------------------------------------
    Q("q272_benford",
      (s, d) => {
        import s.implicits._
        // Clamp to the 1..9 domain: floor(v/10^floor(log10 v)) can only
        // escape it through a float log10 edge (ratio hitting exactly 10
        // or 0.999…), and the scaffold join below would silently DROP
        // such a row — obs_frac would stop summing to 1, hiding exactly
        // the kind of cell this audit exists to surface. The clamp folds
        // the edge into the adjacent digit identically on both engines.
        val digits = Tables.events(s, d)
          .filter(col("value").isNotNull && col("value") > 0)
          .select(least(greatest(floor(col("value") /
            pow(lit(10.0), floor(log10(col("value"))))).cast("long"),
            lit(1L)), lit(9L)).as("digit"))
        val obs = digits.groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val total = digits.agg(count(lit(1)).as("n_total"))
        (1 to 9).toDF("digit").select(col("digit").cast("long").as("digit"))
          .join(obs, Seq("digit"), "left")
          .crossJoin(broadcast(total))
          .select(col("digit"),
            coalesce(col("n_obs"), lit(0L)).as("n_obs"),
            pround(coalesce(col("n_obs"), lit(0L)).cast("double") /
              col("n_total").cast("double"), 6).as("obs_frac"),
            pround(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
              log(lit(10.0)), 6).as("benford_frac"),
            pround(
              pow(coalesce(col("n_obs"), lit(0L)).cast("double") -
                col("n_total").cast("double") *
                  (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
                    log(lit(10.0))), 2.0) /
                (col("n_total").cast("double") *
                  (log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
                    log(lit(10.0)))), 6).as("chi2_term"))
          .orderBy("digit")
      },
      Some(s"""WITH dg AS (SELECT least(greatest(CAST(floor(value /
             |      pow(10.0, floor(log10(value)))) AS BIGINT), 1), 9) AS digit
             |  FROM events WHERE value IS NOT NULL AND value > 0),
             |ob AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs
             |  FROM dg GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dg),
             |ds9 AS (SELECT unnest(range(1, 10)) AS digit),
             |j AS (SELECT CAST(ds9.digit AS BIGINT) AS digit,
             |    coalesce(ob.n_obs, 0) AS n_obs, tot.n_total,
             |    ln(1.0 + 1.0 / ds9.digit) / ln(10.0) AS bf
             |  FROM ds9 LEFT JOIN ob ON ob.digit = ds9.digit CROSS JOIN tot)
             |SELECT digit, n_obs,
             |  ${sqlRound("CAST(n_obs AS DOUBLE) / n_total", 6)} AS obs_frac,
             |  ${sqlRound("bf", 6)} AS benford_frac,
             |  ${sqlRound("pow(CAST(n_obs AS DOUBLE) - n_total * bf, 2.0) / (n_total * bf)", 6)} AS chi2_term
             |FROM j ORDER BY digit""".stripMargin)),

    // ------------------------------------------------------------------
    // q269: n-gram novelty by ingest order — for each document, the
    // fraction of its DISTINCT word-3-grams whose first corpus
    // occurrence (min doc_id, the ingest order q248's incremental tier
    // already uses) is the document itself. Low novelty late in the
    // stream = boilerplate/memorization mass; the per-doc score is the
    // n-gram-level complement of the q40/q107 document-level dedup
    // signals (Lee et al. 2022's repetition analysis works at exactly
    // this granularity). Grams are md5-hashed to 60-bit keys before
    // the shuffle — the q211 lesson (hash keys are 2.3× cheaper than
    // string grams at 100×); any collision folds identically on both
    // engines, so parity is unaffected. 100 TB: one gram-keyed
    // aggregation (the q206/q211 shuffle mass), one same-keyed join
    // back, one doc-sized rollup — all linear, no pair tier.
    // ------------------------------------------------------------------
    Q("q269_ngram_novelty",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(col("doc_id"), explode(array_distinct(
            TextOps.wordShingles(col("text"), 3))).as("g"))
          .select(col("doc_id"), TextOps.md5Hash60(col("g")).as("h"))
        val first = grams.groupBy("h").agg(min("doc_id").as("first_doc"))
        grams.join(first, "h")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
            pround(col("n_novel").cast("double") / col("n_grams").cast("double"), 6)
              .as("novelty"))
          .orderBy("doc_id")
      },
      Some(s"""WITH toks AS (SELECT doc_id, $sqlToks AS toks FROM documents),
             |gr AS (SELECT doc_id, ${sqlHash60("s0")} AS h FROM (
             |  SELECT doc_id, unnest(list_distinct(${VectorTextQueries.sqlShingles(3)})) AS s0
             |  FROM toks WHERE len(toks) >= 3)),
             |f AS (SELECT h, min(doc_id) AS first_doc FROM gr GROUP BY 1)
             |SELECT gr.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             |  CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_novel,
             |  ${sqlRound("CAST(sum(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6)} AS novelty
             |FROM gr JOIN f USING (h) GROUP BY gr.doc_id
             |ORDER BY gr.doc_id""".stripMargin)))

  /** DoReMi hyperparameters (Xie et al. 2023, "DoReMi: Optimizing Data
    * Mixtures Speeds Up Language Model Pretraining" — public knowledge).
    * All FIXED (the q229/q263 fixed-budget discipline): the step count,
    * learning rate, and smoothing are model knobs, not corpus
    * statistics, so per-step work stays corpus-linear at any scale.
    */
  private val DoremiSteps = 4
  private val DoremiEta = 2.0
  private val DoremiSmooth = 0.1

  // --------------------------------------------------------------------
  // q275: DoReMi-style learned mixture weights — the missing LEARNED
  // layer of the curation stack (q129 reweights by a static temperature,
  // q219 selects by quality budget; nothing learned domain weights from
  // a proxy objective until now). Group-DRO exponentiated-gradient over
  // per-domain EXCESS loss, with the proxy model in closed form: the
  // α-mixture of per-domain add-1 unigram LMs (refitting the proxy under
  // the current mixture is then a weighted combination, not a training
  // run — the tractable stand-in for DoReMi's 280M proxy transformer,
  // same update rule). Per step t:
  //   p_t(w)    = Σ_d α_d · (c_d(w)+1)/(N_d+V)          (proxy)
  //   excess_d  = max(0, L_d(p_t) − L_d(ref))            (clipped)
  //   α'        = α · exp(η · excess_d)                  (EG ascent)
  //   α_{t+1}   = (1−s)·α'/Σα' + s/D                     (smoothed)
  // with ref the corpus-level add-1 unigram fit once. Determinism: all
  // xent masses are per-(domain,word)-cell quantized to µnat BIGINTs
  // before the order-free integer sum (|cell| ≤ c·|ln p|·1e6 ≈ 1e15 at
  // 100× — inside the 2^53 exact-double range), and α is published at
  // 6 dp through the shared floor-based rounding each step, so the SQL
  // oracle — which recomputes the whole trajectory from scratch,
  // unrolled (the q210 pattern; no learned literals needed) — replays
  // it exactly (residual: the documented quantization-midpoint hazard).
  // Driver state is D-sized; per step the distributed work is ONE
  // aggregation over the (domain, word) count table — which at 100 TB
  // is vocab×domains-sized and stays DISTRIBUTED (persisted for the
  // T+3 passes, dropped in `finally` — the q266 leak lesson), never a
  // driver-side count map. Output: (step, source, n_tokens,
  // excess_unats, alpha) for all T×D steps — the full learned
  // trajectory, constant-size at any corpus.
  // --------------------------------------------------------------------
  /** Per-dir DoReMi trajectory artifact: the trajectory-emitting query
    * (q275) always REFITS so its measured cost is the fit's; consumers
    * (q277) reuse. The fit is deterministic (quantized masses, 6 dp
    * weights), so reuse is value-identical to refit.
    */
  private val DoremiTrajectories = new Fits.Slot[Seq[(Long, String, Long, Long, Double)]]

  /** The q275 training loop (see the q275 block comment below for the
    * algorithm and determinism argument) — shared by the trajectory
    * query and its consumers. Returns (step, source, n_tokens,
    * excess_unats, alpha) rows for steps 1..T.
    */
  private[graft] def doremiTrajectory(s: SparkSession, d: String,
      reuse: Boolean = false): Seq[(Long, String, Long, Long, Double)] =
    DoremiTrajectories.fit(d, reuse)(doremiFitRun(s, d))

  private def doremiFitRun(s: SparkSession, d: String)
      : Seq[(Long, String, Long, Long, Double)] = {
    import s.implicits._
    import graft.Rounding.dround
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
    val cw = Cached.persist(toks.groupBy("source", "w").agg(count(lit(1)).as("c")))
    try {
          val nd = cw.groupBy("source").agg(sum("c").as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          val sources = nd.keys.toSeq.sorted
          val dCount = sources.size
          val vTotal = cw.select("w").distinct().count()
          val nTotal = nd.values.sum
          // Reference xent mass per domain (µnat BIGINT), fit once:
          // corpus-level add-1 unigram.
          val cwt = cw.groupBy("w").agg(sum("c").as("cwt"))
          val ref = cw.join(cwt, "w")
            .select(col("source"),
              floor(col("c").cast("double") *
                log((col("cwt").cast("double") + lit(1.0)) /
                  lit((nTotal + vTotal).toDouble)) * lit(1e6) + lit(0.5))
                .cast("long").as("q"))
            .groupBy("source").agg(sum("q").as("refq"))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
          var alpha = sources.map(src => src -> dround(1.0 / dCount, 6)).toMap
          val rows = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long, Double)]()
          for (t <- 1 to DoremiSteps) {
            val aNdv = sources.map(src =>
              (src, alpha(src), (nd(src) + vTotal).toDouble)).toDF("source", "alpha", "ndv")
            // Smoothing mass of ABSENT (domain, word) cells folds into one
            // driver constant: Σ_d α_d/(N_d+V) is w-independent.
            val k0 = sources.map(src => alpha(src) / (nd(src) + vTotal)).sum
            // Per-PRESENT-cell term is α·c/(N+V): the add-1 smoothing for
            // every (domain, word) cell — present or absent — is already
            // the k0 constant above, so using c+1 here would double-count.
            val pw = cw.join(broadcast(aNdv), "source")
              .groupBy("w")
              .agg(sum(col("alpha") * col("c").cast("double") /
                col("ndv")).as("pp"))
            val prox = cw.join(pw, "w")
              .select(col("source"),
                floor(col("c").cast("double") * log(col("pp") + lit(k0)) *
                  lit(1e6) + lit(0.5)).cast("long").as("q"))
              .groupBy("source").agg(sum("q").as("proxq"))
              .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val excess = sources.map(src =>
              src -> math.max(0L, ref(src) - prox(src))).toMap
            val aRaw = sources.map(src => src -> alpha(src) *
              math.exp(DoremiEta * excess(src).toDouble / 1e6 / nd(src))).toMap
            // Normalizer summed in SORTED source order (the SQL sum order
            // is arbitrary; double-add order differences are below the
            // 6 dp grid except at the documented midpoint residual).
            val z = sources.map(aRaw).sum
            alpha = sources.map(src => src -> dround(
              (1.0 - DoremiSmooth) * aRaw(src) / z +
                DoremiSmooth / dCount, 6)).toMap
            sources.foreach(src =>
              rows += ((t.toLong, src, nd(src), excess(src), alpha(src))))
          }
          rows.toSeq
        } finally Cached.release(cw)
  }

  /** The q275 oracle's CTE chain (header + T unrolled steps), shared
    * verbatim with consumer oracles (q277) so the learned-mixture SQL
    * cannot drift from the query it composes. Ends at `al$T` (final
    * weights); `ex$i`/`ndx`/`vn`/`dcx` are also addressable.
    */
  private def doremiSqlCtes: String = {
    val r6 = (e: String) => sqlRound(e, 6)
    val hd = s"""tk AS (SELECT source, unnest($sqlToks) AS w FROM documents),
           |cwx AS MATERIALIZED (SELECT source, w, CAST(count(*) AS BIGINT) AS c
           |  FROM tk GROUP BY 1, 2),
           |ndx AS MATERIALIZED (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cwx GROUP BY 1),
           |vn AS MATERIALIZED (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v,
           |    CAST(count(*) AS BIGINT) AS ntt FROM tk),
           |dcx AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS dcount FROM ndx),
           |cwt AS MATERIALIZED (SELECT w, CAST(sum(c) AS BIGINT) AS cwt FROM cwx GROUP BY 1),
           |refx AS MATERIALIZED (SELECT cwx.source,
           |    CAST(sum(floor(CAST(c AS DOUBLE) *
           |      ln((cwt + 1.0) / (ntt + v)) * 1e6 + 0.5)) AS BIGINT) AS refq
           |  FROM cwx JOIN cwt USING (w) CROSS JOIN vn GROUP BY 1),
           |al0 AS MATERIALIZED (SELECT source, ${r6("1.0 / dcount")} AS alpha
           |  FROM ndx CROSS JOIN dcx)""".stripMargin
        val steps = (1 to DoremiSteps).map { i =>
          val prev = s"al${i - 1}"
          s"""kk$i AS (SELECT sum(alpha / (n + v)) AS k
             |  FROM $prev JOIN ndx USING (source) CROSS JOIN vn),
             |pw$i AS MATERIALIZED (SELECT w, sum(alpha * CAST(c AS DOUBLE) / (n + v)) AS pp
             |  FROM cwx JOIN $prev USING (source) JOIN ndx USING (source)
             |  CROSS JOIN vn GROUP BY w),
             |px$i AS MATERIALIZED (SELECT cwx.source,
             |    CAST(sum(floor(CAST(c AS DOUBLE) * ln(pp + k) * 1e6 + 0.5))
             |      AS BIGINT) AS proxq
             |  FROM cwx JOIN pw$i USING (w) CROSS JOIN kk$i GROUP BY 1),
             |ex$i AS MATERIALIZED (SELECT source, greatest(refq - proxq, 0) AS excess
             |  FROM refx JOIN px$i USING (source)),
             |ar$i AS MATERIALIZED (SELECT e.source,
             |    $prev.alpha * exp($DoremiEta * CAST(excess AS DOUBLE) / 1e6 / ndx.n)
             |      AS araw
             |  FROM ex$i e JOIN $prev USING (source) JOIN ndx USING (source)),
             |zz$i AS MATERIALIZED (SELECT sum(araw) AS z FROM ar$i),
             |al$i AS MATERIALIZED (SELECT source,
             |    ${r6(s"(1.0 - $DoremiSmooth) * araw / z + $DoremiSmooth / dcount")}
             |      AS alpha
             |  FROM ar$i CROSS JOIN zz$i CROSS JOIN dcx)""".stripMargin
        }.mkString(",\n")
    s"$hd,\n$steps"
  }

  private def doremiQ: Q =
    Q("q275_doremi_mixture",
      (s, d) => {
        import s.implicits._
        doremiTrajectory(s, d)
          .toDF("step", "source", "n_tokens", "excess_unats", "alpha")
          .orderBy("step", "source")
      },
      Some {
        val out = (1 to DoremiSteps).map { i =>
          s"""SELECT CAST($i AS BIGINT) AS step, source, ndx.n AS n_tokens,
             |  CAST(excess AS BIGINT) AS excess_unats, alpha
             |FROM ex$i JOIN al$i USING (source) JOIN ndx USING (source)""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH $doremiSqlCtes
           |$out
           |ORDER BY step, source""".stripMargin
      })

  // --------------------------------------------------------------------
  // q277: mixture-apply resampling plan — turn q275's LEARNED final
  // weights into the per-source sampling plan a dataloader executes
  // (the step DoReMi itself prescribes: train the big model on the
  // learned mixture). Per source: the corpus token share, the learned
  // target weight α, the sampling rate α/share a per-token sampler
  // applies to realize the mixture, and the expected token budget α·N
  // per corpus-sized epoch. sampling_rate > 1 means the domain repeats
  // (the data-constrained up-sampling regime; Muennighoff et al. 2023,
  // public knowledge); < 1 means down-sampling. Drift-proofing: the
  // engine consumes the SAME trajectory function (per-dir artifact,
  // consumers reuse it, see [[Fits]]) and the oracle nests
  // [[doremiSqlCtes]] verbatim, so plan and audit can never disagree
  // with the mixture they apply. 100 TB: the fit's cost (q275's, flat
  // octaves) plus a D-sized rollup — nothing else.
  // --------------------------------------------------------------------
  private def doremiApplyQ: Q =
    Q("q277_mixture_apply",
      (s, d) => {
        import s.implicits._
        import graft.Rounding.dround
        val last = doremiTrajectory(s, d, reuse = true)
          .filter(_._1 == DoremiSteps.toLong)
        val nTotal = last.map(_._3).sum
        last.map { case (_, src, nTok, _, a) =>
          (src, nTok,
            dround(nTok.toDouble / nTotal, 6), a,
            dround(a * nTotal.toDouble / nTok, 6),
            math.floor(a * nTotal + 0.5).toLong)
        }.toDF("source", "n_tokens", "token_share", "alpha",
            "sampling_rate", "expected_tokens")
          .orderBy("source")
      },
      Some {
        s"""WITH $doremiSqlCtes
           |SELECT source, ndx.n AS n_tokens,
           |  ${sqlRound("CAST(ndx.n AS DOUBLE) / ntt", 6)} AS token_share,
           |  alpha,
           |  ${sqlRound("alpha * ntt / ndx.n", 6)} AS sampling_rate,
           |  CAST(floor(alpha * ntt + 0.5) AS BIGINT) AS expected_tokens
           |FROM al$DoremiSteps JOIN ndx USING (source) CROSS JOIN vn
           |ORDER BY source""".stripMargin
      })

  /** Epochs audited by q278 — fixed (hyperparameter, not a corpus
    * statistic): E+1 orders, E consecutive-pair correlations. */
  private val ShuffleEpochs = 4

  // --------------------------------------------------------------------
  // q278: epoch-shuffle decorrelation audit — deterministic seeded
  // shuffling (order_e(doc) = sort by hash(epoch, doc_id)) is how
  // reproducible training dataloaders permute a corpus each epoch
  // (hash-keyed reshuffling, public knowledge: the tf.data /
  // webdataset-style deterministic shuffle). A BROKEN shuffle — seed
  // reused across epochs, hash ignoring the epoch, or a stable sort on
  // a constant key — feeds the model near-identical batch order every
  // epoch, which quietly degrades training; the audit catches it as
  // rank correlation ≈ 1 between consecutive epochs. Per (source,
  // epoch e): the exact Spearman ρ between the epoch-(e−1) and
  // epoch-e orders via the q274 integer-rank identity (Σd² BIGINT —
  // exact on both engines; ρ published at 6 dp). Ranks are per-source
  // (the q274 window shape): the audit parallelizes across sources and
  // each (source, epoch) order is a true permutation because the sort
  // key (hash, doc_id) is total. 100 TB: E+1 per-source sorts of a
  // 2-column projection plus a source-sized rollup — E is fixed, so
  // the whole audit is a constant number of linear passes.
  // --------------------------------------------------------------------
  private def shuffleAuditQ: Q = {
    def epochKey(e: Int): Column =
      TextOps.md5Hash60(concat(lit(s"ep$e:"), col("doc_id").cast("string")))
    Q("q278_epoch_shuffle_audit",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d).select(col("source"), col("doc_id"))
        val ranked = (0 to ShuffleEpochs).foldLeft(base) { (df, e) =>
          df.withColumn(s"r$e", row_number().over(
            Window.partitionBy("source").orderBy(epochKey(e), col("doc_id"))))
        }
        (1 to ShuffleEpochs).map { e =>
          ranked.select(col("source"), lit(e.toLong).as("epoch"),
            ((col(s"r${e - 1}") - col(s"r$e")) *
              (col(s"r${e - 1}") - col(s"r$e"))).cast("long").as("d2"))
        }.reduce(_ unionAll _)
          .groupBy("source", "epoch")
          .agg(count(lit(1)).as("n_docs"), sum("d2").as("d2_sum"))
          .filter(col("n_docs") >= 2)
          .select(col("source"), col("epoch"), col("n_docs"), col("d2_sum"),
            pround(lit(1.0) - lit(6.0) * col("d2_sum").cast("double") /
              (col("n_docs").cast("double") *
                (col("n_docs") * col("n_docs") - 1).cast("double")), 6)
              .as("spearman_rho"))
          .orderBy("source", "epoch")
      },
      Some {
        def key(e: Int) = sqlHash60(s"'ep$e:' || CAST(doc_id AS VARCHAR)")
        val ranks = (0 to ShuffleEpochs).map(e =>
          s"""    row_number() OVER (PARTITION BY source
             |      ORDER BY ${key(e)}, doc_id) AS r$e""".stripMargin)
          .mkString(",\n")
        val pairs = (1 to ShuffleEpochs).map(e =>
          s"""SELECT source, CAST($e AS BIGINT) AS epoch,
             |  CAST((r${e - 1} - r$e) * (r${e - 1} - r$e) AS BIGINT) AS d2
             |FROM rks""".stripMargin)
          .mkString("\nUNION ALL ")
        s"""WITH rks AS MATERIALIZED (SELECT source, doc_id,
           |$ranks
           |  FROM documents),
           |pr AS ($pairs)
           |SELECT source, epoch, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(d2) AS BIGINT) AS d2_sum,
           |  ${sqlRound(
             "1.0 - 6.0 * CAST(sum(d2) AS DOUBLE) / (CAST(count(*) AS DOUBLE) * CAST(count(*) * count(*) - 1 AS DOUBLE))",
             6)} AS spearman_rho
           |FROM pr GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY source, epoch""".stripMargin
      })
  }

  // --------------------------------------------------------------------
  // q279: DSIR data selection — importance resampling over hashed
  // n-gram features (Xie et al. 2023, "Data Selection for Language
  // Models via Importance Resampling", public knowledge). q213 fits
  // the importance WEIGHTS (lang-targeted, score-per-doc output); this
  // query completes the method with the step the paper is named for —
  // the budgeted SELECTION against a source-domain target. Where DoReMi
  // (q275) learns per-DOMAIN mixture weights, DSIR selects individual
  // EXAMPLES: fit two add-1-smoothed multinomials over a FIXED hashed
  // feature space — p_target from the target domain, p_raw from the
  // whole corpus — and score every candidate document by its log
  // importance weight Σ_b c_b·(ln p_t(b) − ln p_r(b)), then keep the
  // top-K. All three knobs are hyperparameters (the fixed-budget
  // discipline): the target domain is a user choice, B fixes the model
  // size independent of vocabulary growth (the paper's own hashing
  // trick), and K is the selection budget. Determinism: the paper's
  // Gumbel-noise resampling is replaced by the deterministic top-K
  // with doc_id tiebreak — the temperature→0 limit — so both engines
  // rank identical BIGINT scores identically. Quantization: the
  // per-bucket log-ratio is floored to µnat BIGINTs ONCE (model-side),
  // so every per-doc score is an exact integer sum — order-free under
  // any shuffle. 100 TB: one tokenize pass aggregating straight into B
  // cells for the fit (map-side combine, constant driver fetch), one
  // scoring pass joining the B-row broadcast model and summing per doc
  // (N cells), and a TakeOrdered(K) — two linear scans whose aggregate
  // state is B and N cells respectively, never N×B.
  // --------------------------------------------------------------------
  private[graft] val DsirTarget = "src0"
  private[graft] val DsirBuckets = 1024
  private[graft] val DsirK = 100

  /** One exploded (doc, source, bucket) token stream — NO per-(doc,
    * bucket) count intermediate. The fit needs only per-BUCKET sums
    * (B cells) and the scorer only per-DOC sums (N cells), so the
    * (doc, bucket) partial aggregate would add a ~uniq-buckets-per-doc
    * × N group state for nothing: measured at the 30× octave it
    * spilled the hash aggregate and turned a linear plan into a 20×
    * wall (PLANS.md round 14) — aggregate to the consumer's own
    * granularity directly and both passes stay in-memory map-side.
    * Factored over an arbitrary documents frame so the streaming gate
    * (q295) scores micro-batches through the same expression.
    */
  private[graft] def dsirBucketedOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("w"))
      .withColumn("b", pmod(TextOps.md5Hash60(col("w")), lit(DsirBuckets.toLong)))

  private def dsirBucketed(s: SparkSession, d: String): DataFrame =
    dsirBucketedOf(Tables.documents(s, d))

  /** The fitted DSIR model: per-bucket µnat log importance ratios
    * (Xie et al. 2023's hashed-n-gram importance weights, q279's exact
    * math). One B-sized aggregation, constant driver fetch.
    */
  private[graft] def dsirModelQ(s: SparkSession, d: String): Array[Long] = {
    val agg = dsirBucketed(s, d).groupBy("b").agg(
        count(lit(1)).as("cr"),
        sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("ct"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val nr = agg.valuesIterator.map(_._1).sum
    val nt = agg.valuesIterator.map(_._2).sum
    Array.tabulate(DsirBuckets) { b =>
      val (cr, ct) = agg.getOrElse(b.toLong, (0L, 0L))
      math.floor(
        (math.log((ct + 1.0) / (nt + DsirBuckets).toDouble) -
          math.log((cr + 1.0) / (nr + DsirBuckets).toDouble)) * 1e6 + 0.5).toLong
    }
  }

  private def dsirModelDf(s: SparkSession, model: Array[Long]): DataFrame = {
    import s.implicits._
    model.zipWithIndex.map { case (ll, b) => (b.toLong, ll) }.toSeq
      .toDF("b", "ll")
  }

  private def dsirQ: Q = {
    Q("q279_dsir_select",
      (s, d) => {
        val bt = dsirBucketed(s, d)
        // Fit pass: one B-sized aggregation (raw + target counts per
        // bucket in the same job), constant-size driver fetch.
        val model = dsirModelDf(s, dsirModelQ(s, d))
        // Scoring pass: broadcast the B-row model, per-token lookup,
        // integer sum per doc (Σ_t ll(b_t) ≡ Σ_b c_b·ll_b exactly),
        // TakeOrdered(K); the rank window runs on K rows only.
        val top = bt.filter(col("source") =!= DsirTarget)
          .join(broadcast(model), "b")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_tokens"), sum(col("ll")).as("logw_unats"))
          .orderBy(col("logw_unats").desc, col("doc_id").asc)
          .limit(DsirK)
        top.withColumn("rank", row_number().over(
            Window.orderBy(col("logw_unats").desc, col("doc_id").asc)).cast("long"))
          .select("rank", "doc_id", "source", "n_tokens", "logw_unats")
          .orderBy("rank")
      },
      Some {
        s"""WITH $dsirScoreSqlCtes,
           |top AS (SELECT * FROM sc
           |  ORDER BY logw_unats DESC, doc_id ASC LIMIT $DsirK)
           |SELECT CAST(row_number() OVER (ORDER BY logw_unats DESC, doc_id ASC)
           |    AS BIGINT) AS rank,
           |  doc_id, source, n_tokens, logw_unats
           |FROM top ORDER BY rank""".stripMargin
      })
  }

  /** DuckDB DSIR fit+score chain (q279's, factored so q295's on-arrival
    * gate nests the SAME model): ends at `sc(doc_id, source, n_tokens,
    * logw_unats)` over non-target docs.
    */
  private[graft] val dsirScoreSqlCtes: String = {
    val B = DsirBuckets
    s"""tk AS (SELECT doc_id, source, unnest($sqlToks) AS w FROM documents),
       |bt AS MATERIALIZED (SELECT doc_id, source,
       |    ${sqlHash60("w")} % $B AS b, CAST(count(*) AS BIGINT) AS c
       |  FROM tk GROUP BY 1, 2, 3),
       |ag AS MATERIALIZED (SELECT b, CAST(sum(c) AS BIGINT) AS cr,
       |    CAST(sum(CASE WHEN source = '$DsirTarget' THEN c ELSE 0 END)
       |      AS BIGINT) AS ct
       |  FROM bt GROUP BY 1),
       |nn AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
       |    CAST(sum(ct) AS BIGINT) AS nt FROM ag),
       |grid AS (SELECT CAST(range AS BIGINT) AS b FROM range($B)),
       |mdl AS MATERIALIZED (SELECT g.b,
       |    CAST(floor((ln((coalesce(ct, 0) + 1.0) / (nt + $B)) -
       |                ln((coalesce(cr, 0) + 1.0) / (nr + $B))) * 1e6 + 0.5)
       |      AS BIGINT) AS ll
       |  FROM grid g LEFT JOIN ag USING (b) CROSS JOIN nn),
       |sc AS MATERIALIZED (SELECT doc_id, source,
       |    CAST(sum(c) AS BIGINT) AS n_tokens,
       |    CAST(sum(c * ll) AS BIGINT) AS logw_unats
       |  FROM bt JOIN mdl USING (b)
       |  WHERE source <> '$DsirTarget' GROUP BY 1, 2)""".stripMargin
  }

  /** The on-arrival keep threshold τ in µnats: the K-th best DSIR score
    * over the reference corpus's non-target docs (q279's own budget
    * boundary), or the minimum score when fewer than K docs exist (the
    * gate then keeps everything — the SQL twin's coalesce path). Fails
    * loudly when NO scorable non-target doc exists, symmetrically with
    * the oracle's error() branch.
    */
  private[graft] def dsirThresholdQ(s: SparkSession, d: String,
      model: Array[Long]): Long = {
    val scores = dsirBucketed(s, d).filter(col("source") =!= DsirTarget)
      .join(broadcast(dsirModelDf(s, model)), "b")
      .groupBy("doc_id")
      .agg(sum(col("ll")).as("logw"))
      .orderBy(col("logw").desc, col("doc_id").asc)
      .limit(DsirK)
      .select("logw").collect()
    require(scores.nonEmpty,
      "q295: no scorable non-target docs — the DSIR gate threshold is undefined")
    scores.last.getLong(0)
  }

  // --------------------------------------------------------------------
  // q295: streaming DSIR importance gate (round-15 verdict #4) — the
  // importance-resampling half of selection applied ON ARRIVAL. q289
  // gates quality in flight; this gates DOMAIN RELEVANCE: the B-bucket
  // DSIR model (q279's fit) and its budget threshold τ are fitted once
  // against the reference corpus, broadcast into the stream, and every
  // arriving non-target doc gets its exact µnat importance weight and a
  // keep decision logw ≥ τ. THRESHOLD semantics, deliberately: a global
  // top-K cannot be decided on arrival, but the K-th score of the
  // reference corpus is a FIXED number, so the gate is per-doc local ⇒
  // stateless ⇒ batch-composition-invariant ⇒ the exact final-state
  // oracle below (on ties at τ the gate keeps every tied doc — a
  // superset of q279's doc_id-tiebroken top-K; documented, and exactly
  // mirrored by the SQL). Idempotent batchId-keyed sink + loud counter
  // reconciliation, the q289 replay discipline. 100 TB: per batch, one
  // broadcast join + batch-sized aggregation.
  // --------------------------------------------------------------------
  private def dsirStreamGateQ: Q =
    Q("q295_stream_dsir_gate",
      (s, d) => {
        import graft.streaming.StreamHarness
        val model = dsirModelQ(s, d)
        val tau = dsirThresholdQ(s, d, model)
        StreamHarness.runGate(StreamHarness.documentStream(s, d), "q295",
            Seq("doc_id", "source", "n_tokens", "logw_unats", "kept")) { batch =>
          dsirBucketedOf(batch.filter(col("source") =!= DsirTarget))
            .join(broadcast(dsirModelDf(s, model)), "b")
            .groupBy("doc_id", "source")
            .agg(count(lit(1)).as("n_tokens"), sum(col("ll")).as("logw_unats"))
            .withColumn("kept", col("logw_unats") >= tau)
        }
      },
      Some {
        s"""WITH $dsirScoreSqlCtes,
           |tau AS (SELECT CASE
           |    WHEN (SELECT count(*) FROM sc) = 0
           |      THEN CAST(error('q295: no scorable non-target docs')
           |        AS BIGINT)
           |    ELSE coalesce(
           |      (SELECT logw_unats FROM sc
           |       ORDER BY logw_unats DESC, doc_id ASC
           |       LIMIT 1 OFFSET ${DsirK - 1}),
           |      (SELECT min(logw_unats) FROM sc)) END AS tq)
           |SELECT sc.doc_id, sc.source, sc.n_tokens, sc.logw_unats,
           |  sc.logw_unats >= tau.tq AS kept
           |FROM sc CROSS JOIN tau
           |ORDER BY sc.doc_id""".stripMargin
      })

  // --------------------------------------------------------------------
  // q281: Neyman-allocation stratified eval split (Neyman 1934, public
  // knowledge — the optimal-variance allocation of classical survey
  // sampling). Building an eval set by uniform per-source quotas wastes
  // budget on homogeneous sources; Neyman allocates n_h ∝ N_h·σ_h —
  // more eval docs where the quality signal VARIES — which minimizes
  // the variance of the stratified corpus-quality estimate at a fixed
  // budget. σ_h is the population std of the q44 quality score; the
  // budget B is a hyperparameter (fixed-budget discipline: the eval set
  // does not grow with the corpus). The realized pick is the
  // deterministic hash-rank sample (the q113/q219 salt pattern), so
  // both engines select the identical doc set. Parity: scores enter as
  // exact µ-unit BIGINTs (the 6-dp score re-quantized), σ comes off two
  // integer sums (identical IEEE division/sqrt both sides), the weight
  // N_h·σ_h is floored to BIGINT before the D-sized allocation math.
  // 100 TB: one quality-scan aggregation (D cells), a constant driver
  // allocation step, and one rank-filter pass — the per-source windows
  // parallelize across sources and the output is D rows.
  // --------------------------------------------------------------------
  private val NeymanBudget = 100L

  private def neymanQ: Q = {
    def quantized(s: SparkSession, d: String): DataFrame =
      TextOps.qualityScore(Tables.documents(s, d), "text")
        .select(col("doc_id"), col("source"),
          floor(col("quality_score") * 1e6 + 0.5).cast("long").as("qu"))
    Q("q281_neyman_split",
      (s, d) => {
        import s.implicits._
        import graft.Rounding.dround
        val qq = quantized(s, d)
        // One D-cell aggregation; the allocation itself is driver math
        // over D rows (D = source count, constant).
        val st = qq.groupBy("source")
          .agg(count(lit(1)).as("n"), sum("qu").as("s1"),
            sum(col("qu") * col("qu")).as("s2"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1)
        val withSig = st.map { case (src, n, s1, s2) =>
          val mean = s1.toDouble / n
          val sig = math.sqrt(math.max(s2.toDouble / n - mean * mean, 0.0))
          (src, n, sig, math.floor(n * sig + 0.5).toLong)
        }
        val sumW = withSig.map(_._4).sum
        val dCount = withSig.length
        val al = withSig.toSeq.map { case (src, n, sig, w) =>
          val raw =
            if (sumW > 0) NeymanBudget.toDouble * w / sumW
            else NeymanBudget.toDouble / dCount
          (src, n, dround(sig / 1e6, 6), w,
            math.min(n, math.floor(raw + 0.5).toLong))
        }.toDF("source", "n_docs", "sigma_q", "weight", "alloc_docs")
        // Realized pick: per-source hash-rank windows, then the D-sized
        // sample rollup joined back to the allocation table.
        val rk = qq.withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(
            TextOps.md5Hash60(concat(lit("neyman:"), col("doc_id").cast("string"))),
            col("doc_id"))))
        val sm = rk.join(broadcast(al.select("source", "alloc_docs")), "source")
          .filter(col("rn") <= col("alloc_docs"))
          .groupBy("source")
          .agg(count(lit(1)).as("sn"), sum("qu").as("sq"))
        al.join(sm, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("sigma_q"), col("weight"),
            col("alloc_docs"),
            pround(col("sq").cast("double") / col("sn") / lit(1e6), 6)
              .as("sample_mean_q"))
          .orderBy("source")
      },
      Some {
        s"""WITH qsrc AS (${PipelineQueries.sqlQuality("documents", Seq("source"))}),
           |qq AS MATERIALIZED (SELECT doc_id, source,
           |    CAST(floor(quality_score * 1e6 + 0.5) AS BIGINT) AS qu FROM qsrc),
           |st AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(qu) AS BIGINT) AS s1,
           |    CAST(sum(qu * qu) AS BIGINT) AS s2
           |  FROM qq GROUP BY 1),
           |sg AS (SELECT source, n,
           |    sqrt(greatest(CAST(s2 AS DOUBLE) / n -
           |      (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 0.0)) AS sig
           |  FROM st),
           |wt AS (SELECT source, n, sig,
           |    CAST(floor(n * sig + 0.5) AS BIGINT) AS w FROM sg),
           |tw AS (SELECT CAST(sum(w) AS BIGINT) AS sw,
           |    CAST(count(*) AS BIGINT) AS dc FROM wt),
           |al AS (SELECT source, n, sig, w,
           |    least(n, CAST(floor(CASE WHEN sw > 0
           |        THEN $NeymanBudget.0 * w / sw
           |        ELSE $NeymanBudget.0 / dc END + 0.5) AS BIGINT)) AS alloc
           |  FROM wt CROSS JOIN tw),
           |rk AS (SELECT doc_id, source, qu, row_number() OVER (
           |    PARTITION BY source ORDER BY
           |      ${sqlHash60("'neyman:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
           |  FROM qq),
           |sm AS (SELECT r.source, CAST(count(*) AS BIGINT) AS sn,
           |    CAST(sum(r.qu) AS BIGINT) AS sq
           |  FROM rk r JOIN al a USING (source)
           |  WHERE r.rn <= a.alloc GROUP BY 1)
           |SELECT a.source, a.n AS n_docs, ${sqlRound("a.sig / 1e6", 6)} AS sigma_q,
           |  a.w AS weight, a.alloc AS alloc_docs,
           |  CASE WHEN coalesce(sm.sn, 0) > 0
           |    THEN ${sqlRound("CAST(sm.sq AS DOUBLE) / sm.sn / 1e6", 6)}
           |  END AS sample_mean_q
           |FROM al a LEFT JOIN sm ON sm.source = a.source
           |ORDER BY a.source""".stripMargin
      })
  }

  // --------------------------------------------------------------------
  // q282: data-constrained scaling planner (Muennighoff et al. 2023,
  // "Scaling Data-Constrained Language Models", public knowledge). The
  // q277 mixture plan hands each source a token BUDGET; this planner
  // answers the question that budget raises at 100 TB: how much of it
  // is real signal once the source's UNIQUE data runs out and epochs
  // repeat? Unique tokens U are the exact-dedup survivors' tokens (the
  // q40/q117 keep-min-id fingerprint rule — repetition of exact dups is
  // what the paper's decay measures); epochs = budget/U; and the
  // effective data follows the paper's fitted exponential-decay value
  // model D' = U + U·R*·(1−e^(−R/R*)) with R = epochs−1 repetitions
  // and R* = 15.4 (the paper's fitted decay constant, pinned as a
  // hyperparameter). A budget inside the unique pool is all signal
  // (effective = budget, utilization 1); past it, utilization decays —
  // the number a mixture planner must see before up-sampling a small
  // source. Parity: budgets and U are exact BIGINTs, epochs/exp run on
  // identical IEEE doubles (the q275 exp precedent), effective tokens
  // are floored to BIGINT before the 6-dp utilization. A source whose
  // unique pool is EMPTY fails loudly ON BOTH ENGINES (require here,
  // error() in the SQL twin) rather than planning on a division by
  // zero. 100 TB: the DoReMi fit artifact (measured
  // flat) + one fingerprint-window dedup pass + a D-sized rollup.
  // --------------------------------------------------------------------
  private val RepeatDecay = 15.4

  private def dataConstrainedQ: Q =
    Q("q282_data_constrained_plan",
      (s, d) => {
        import s.implicits._
        import graft.Rounding.dround
        val last = doremiTrajectory(s, d, reuse = true)
          .filter(_._1 == DoremiSteps.toLong)
        val nTotal = last.map(_._3).sum
        val budgets = last.map { case (_, src, _, _, a) =>
          src -> math.floor(a * nTotal + 0.5).toLong
        }.toMap
        val w = Window.partitionBy("__fp").orderBy("doc_id")
        val uniq = Tables.documents(s, d)
          .withColumn("__fp", TextOps.fingerprint(col("text")))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .groupBy("source")
          .agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("u"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val rows = budgets.keys.toSeq.sorted.map { src =>
          val b = budgets(src)
          val u = uniq.getOrElse(src, 0L)
          require(u > 0, s"q282: source $src has no unique tokens after dedup")
          val ep = b.toDouble / u
          val eff =
            if (b <= u) b
            else math.floor(u + u * RepeatDecay *
              (1.0 - math.exp(-(ep - 1.0) / RepeatDecay)) + 0.5).toLong
          (src, b, u, dround(ep, 6), eff, dround(eff.toDouble / b, 6))
        }
        rows.toDF("source", "budget_tokens", "unique_tokens", "epochs",
            "effective_tokens", "utilization")
          .orderBy("source")
      },
      Some {
        s"""WITH $doremiSqlCtes,
           |dd AS (SELECT source, text FROM documents
           |  QUALIFY row_number() OVER (
           |    PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
           |    ORDER BY doc_id) = 1),
           |uq AS (SELECT source, CAST(sum(len($sqlToks)) AS BIGINT) AS u
           |  FROM dd GROUP BY 1),
           |bd AS (SELECT source, CAST(floor(alpha * ntt + 0.5) AS BIGINT) AS b
           |  FROM al$DoremiSteps JOIN ndx USING (source) CROSS JOIN vn),
           |pl AS (SELECT bd.source, bd.b, uq.u,
           |    CASE WHEN uq.u = 0
           |      THEN error('q282: source has no unique tokens after dedup')
           |      ELSE CAST(bd.b AS DOUBLE) / uq.u END AS ep
           |  FROM bd JOIN uq USING (source)),
           |ef AS (SELECT source, b, u, ep,
           |    CASE WHEN b <= u THEN b
           |      ELSE CAST(floor(u + u * $RepeatDecay *
           |        (1.0 - exp(-(ep - 1.0) / $RepeatDecay)) + 0.5) AS BIGINT)
           |    END AS eff
           |  FROM pl)
           |SELECT source, b AS budget_tokens, u AS unique_tokens,
           |  ${sqlRound("ep", 6)} AS epochs, eff AS effective_tokens,
           |  ${sqlRound("CAST(eff AS DOUBLE) / b", 6)} AS utilization
           |FROM ef ORDER BY source""".stripMargin
      })

  // --------------------------------------------------------------------
  // q284: temperature-mixture audit — the sweep that answers "do we
  // need DoReMi, or does a temperature get close enough?". Temperature
  // sampling w_h ∝ p_h^τ (Arivazhagan et al. 2019 / the mBERT exponent,
  // public knowledge) is the zero-training alternative to learned
  // mixture weights; per τ this emits the mixture's entropy, its
  // effective domain count e^H, its max weight, and the L1 distance to
  // the q275 LEARNED weights — the decision table for picking the
  // static τ that best approximates the learned mixture. The τ grid is
  // pinned to {0.25, 0.5, 1.0}: exactly the powers computable as sqrt
  // chains, which are correctly rounded by IEEE 754 on both engines —
  // a general pow(p, τ) is NOT, so a τ like 0.7 would break bit parity
  // (the q129 sqrt precedent, extended one level). Entropy and L1 sums
  // are per-term µ·1e9-quantized BIGINTs (order-free), and the
  // normalizer Σ p^τ is ALSO a quantized-BIGINT sum — a window-frame
  // sum is allowed to associate pairwise, so double-fold parity with
  // the driver would be fragile; exact integers are not. Consumer
  // discipline: the
  // token shares and the learned α come from the per-dir DoReMi
  // artifact — the audit costs ZERO corpus scans beyond the fit that
  // q275 already measured. 100 TB: D-sized driver math, output 3 rows.
  // --------------------------------------------------------------------
  private val TauGrid = Seq(0.25, 0.5, 1.0)

  private def tauAuditQ: Q =
    Q("q284_tau_mixture_audit",
      (s, d) => {
        import s.implicits._
        import graft.Rounding.dround
        val traj = doremiTrajectory(s, d, reuse = true)
        val nTok = traj.filter(_._1 == 1L).map(t => t._2 -> t._3).toMap
        val alpha = traj.filter(_._1 == DoremiSteps.toLong)
          .map(t => t._2 -> t._5).toMap
        val sources = nTok.keys.toSeq.sorted
        val ntt = sources.map(nTok).sum
        def pw(p: Double, tau: Double): Double = tau match {
          case 1.0  => p
          case 0.5  => math.sqrt(p)
          case 0.25 => math.sqrt(math.sqrt(p))
          case t => throw new IllegalArgumentException(s"non-sqrt-exact tau $t")
        }
        val rows = TauGrid.map { tau =>
          // Normalizer parity: each share p^τ is floored to a 1e-9-unit
          // BIGINT BEFORE summing, so Σ is an exact integer on both
          // engines regardless of summation order (a double fold vs a
          // window-frame sum could drift a ulp and flip a floor term).
          val svq = sources.map { src =>
            src -> math.floor(pw(nTok(src).toDouble / ntt, tau) * 1e9 + 0.5).toLong
          }
          val zq = svq.map(_._2).sum
          val w = svq.map { case (src, vq) => src -> (vq.toDouble / zq) }
          val hq = w.map { case (_, wv) =>
            math.floor(wv * math.log(wv) * 1e9 + 0.5).toLong
          }.sum
          val lq = w.map { case (src, wv) =>
            math.floor(math.abs(wv - alpha(src)) * 1e9 + 0.5).toLong
          }.sum
          val h6 = dround(-hq.toDouble / 1e9, 6)
          (tau, h6, dround(math.exp(h6), 6),
            dround(w.map(_._2).max, 6), dround(lq.toDouble / 1e9, 6))
        }
        rows.toDF("tau", "entropy_nats", "eff_domains", "max_weight",
            "l1_to_learned")
          .orderBy("tau")
      },
      Some {
        val ent = sqlRound("-CAST(hq AS DOUBLE) / 1e9", 6)
        val arms = TauGrid.map { tau =>
          val svExpr = tau match {
            case 1.0  => "pp"
            case 0.5  => "sqrt(pp)"
            case 0.25 => "sqrt(sqrt(pp))"
          }
          val t = tau.toString.replace(".", "_")
          (s"""sh$t AS (SELECT source,
              |    CAST(floor($svExpr * 1e9 + 0.5) AS BIGINT) AS svq FROM
              |    (SELECT source, CAST(n AS DOUBLE) / ntt AS pp
              |     FROM ndx CROSS JOIN vn)),
              |zw$t AS (SELECT source, CAST(svq AS DOUBLE) /
              |    CAST(sum(svq) OVER () AS DOUBLE) AS wv FROM sh$t),
              |ag$t AS (SELECT
              |    CAST(sum(CAST(floor(wv * ln(wv) * 1e9 + 0.5) AS BIGINT))
              |      AS BIGINT) AS hq,
              |    max(wv) AS mx,
              |    CAST(sum(CAST(floor(abs(wv - alpha) * 1e9 + 0.5) AS BIGINT))
              |      AS BIGINT) AS lq
              |  FROM zw$t JOIN al$DoremiSteps USING (source))""".stripMargin,
            s"""SELECT CAST($tau AS DOUBLE) AS tau, $ent AS entropy_nats,
               |  ${sqlRound(s"exp($ent)", 6)} AS eff_domains,
               |  ${sqlRound("mx", 6)} AS max_weight,
               |  ${sqlRound("CAST(lq AS DOUBLE) / 1e9", 6)} AS l1_to_learned
               |FROM ag$t""".stripMargin)
        }
        s"""WITH $doremiSqlCtes,
           |${arms.map(_._1).mkString(",\n")}
           |${arms.map(_._2).mkString("\nUNION ALL ")}
           |ORDER BY tau""".stripMargin
      })

  val all: Seq[Q] =
    clustering ++ Seq(doremiQ, doremiApplyQ, shuffleAuditQ, dsirQ, neymanQ,
      dataConstrainedQ, tauAuditQ, dsirStreamGateQ)
}
