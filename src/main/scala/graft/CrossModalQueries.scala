package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.Rounding.{dround, sqlRound}
import graft.VectorTextQueries.sqlToks
import graft.sim.Graph
import graft.text.TextOps

/** Cross-modal compositions (round-15 verdict #2/#5): the release
  * manifest that accounts for EVERY dedup tier the pipeline now has —
  * text, image, audio, video — and the policy audit that closes the
  * q291/q292 loop by measuring, per tier, whether transitive-closure
  * dedup is still affordable or the pair-local election is mandatory.
  *
  * Both queries are pure compositions of registered pieces: the Spark
  * sides reuse the tier frames ([[PipelineQueries.keepBestLosers]],
  * [[MediaQueries.imagePairs]]/audio/video), and the oracles nest the
  * SAME registered CTE chains verbatim (the q261 macro discipline), so
  * the accounting can never drift from the operators it summarizes.
  */
object CrossModalQueries {

  // --------------------------------------------------------------------
  // q293: cross-modal release manifest. q261 composes the TEXT tiers
  // only, but a release from this pipeline now also carries image
  // (q292), audio (q290-derived) and video (q297-derived — the
  // registered scale-path tier) dedup
  // decisions. Survivors = docs removed by NO tier — text keep-best
  // (q270's quality election over the banded-verified clusters) ∩ image
  // pair-local ∩ audio pair-local ∩ video pair-local. Set intersection
  // COMMUTES, so the survivor set is tier-order-independent
  // (spec-pinned); the per-tier REMOVAL accounting uses first-cause
  // attribution under the documented priority text > image > audio >
  // video (a doc caught by several tiers is charged to the first), so
  // the removed columns partition the corpus exactly:
  // kept + Σ_tier removed == total, docs and tokens alike.
  // 100 TB: each tier is its registered measured-linear path (banded
  // text tier, fingerprint band joins); the manifest adds four
  // catalog-vs-corpus left joins on doc_id and one (source)-sized
  // rollup. Output is D rows.
  // --------------------------------------------------------------------
  private def manifestQ: Q =
    Q("q293_release_manifest_multimodal",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextOps.tokenCount(col("text")).cast("long").as("nt"))
        val tl = PipelineQueries.keepBestLosers(s, d).withColumn("__t", lit(1L))
        val il = MediaQueries.imagePairLocalLosers(s, d).withColumn("__i", lit(1L))
        val al = MediaQueries.audioPairLocalLosers(s, d).withColumn("__a", lit(1L))
        val vl = MediaQueries.videoPairLocalLosers(s, d).withColumn("__v", lit(1L))
        val t = col("__t").isNotNull
        val i = col("__i").isNotNull
        val a = col("__a").isNotNull
        val v = col("__v").isNotNull
        def cnt(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        def tok(c: org.apache.spark.sql.Column) =
          sum(when(c, col("nt")).otherwise(0L))
        docs
          .join(tl, Seq("doc_id"), "left")
          .join(il, Seq("doc_id"), "left")
          .join(al, Seq("doc_id"), "left")
          .join(vl, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"),
            cnt(t).as("rm_text_docs"), tok(t).as("rm_text_tokens"),
            cnt(!t && i).as("rm_image_docs"), tok(!t && i).as("rm_image_tokens"),
            cnt(!t && !i && a).as("rm_audio_docs"),
            tok(!t && !i && a).as("rm_audio_tokens"),
            cnt(!t && !i && !a && v).as("rm_video_docs"),
            tok(!t && !i && !a && v).as("rm_video_tokens"),
            cnt(!t && !i && !a && !v).as("kept_docs"),
            tok(!t && !i && !a && !v).as("kept_tokens"))
          .orderBy("source")
      },
      Some {
        s"""WITH RECURSIVE ${PipelineQueries.bandedVerifiedSqlCtes},
           |${PipelineQueries.nbScoreSqlCtes},
           |${PipelineQueries.keepBestSqlCtes},
           |${MediaQueries.imagePairSqlCtes},
           |${MediaQueries.imageLosersSqlCte},
           |${MediaQueries.audioPairSqlCtes},
           |${MediaQueries.audioLosersSqlCte},
           |${MediaQueries.videoPairSqlCtes},
           |${MediaQueries.videoBandedSqlCtes},
           |${MediaQueries.videoLosersSqlCte},
           |mmbase AS (SELECT d.doc_id, d.source,
           |    CAST(len($sqlToks) AS BIGINT) AS nt,
           |    CASE WHEN lt.doc_id IS NOT NULL THEN 1 ELSE 0 END AS lt,
           |    CASE WHEN li.doc_id IS NOT NULL THEN 1 ELSE 0 END AS li,
           |    CASE WHEN la.doc_id IS NOT NULL THEN 1 ELSE 0 END AS la,
           |    CASE WHEN lv.doc_id IS NOT NULL THEN 1 ELSE 0 END AS lv
           |  FROM documents d
           |  LEFT JOIN tlosers lt ON lt.doc_id = d.doc_id
           |  LEFT JOIN ilosers li ON li.doc_id = d.doc_id
           |  LEFT JOIN alosers la ON la.doc_id = d.doc_id
           |  LEFT JOIN vlosers lv ON lv.doc_id = d.doc_id)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(nt) AS BIGINT) AS n_tokens,
           |  CAST(sum(lt) AS BIGINT) AS rm_text_docs,
           |  CAST(sum(lt * nt) AS BIGINT) AS rm_text_tokens,
           |  CAST(sum((1 - lt) * li) AS BIGINT) AS rm_image_docs,
           |  CAST(sum((1 - lt) * li * nt) AS BIGINT) AS rm_image_tokens,
           |  CAST(sum((1 - lt) * (1 - li) * la) AS BIGINT) AS rm_audio_docs,
           |  CAST(sum((1 - lt) * (1 - li) * la * nt) AS BIGINT)
           |    AS rm_audio_tokens,
           |  CAST(sum((1 - lt) * (1 - li) * (1 - la) * lv) AS BIGINT)
           |    AS rm_video_docs,
           |  CAST(sum((1 - lt) * (1 - li) * (1 - la) * lv * nt) AS BIGINT)
           |    AS rm_video_tokens,
           |  CAST(sum((1 - lt) * (1 - li) * (1 - la) * (1 - lv)) AS BIGINT)
           |    AS kept_docs,
           |  CAST(sum((1 - lt) * (1 - li) * (1 - la) * (1 - lv) * nt) AS BIGINT)
           |    AS kept_tokens
           |FROM mmbase GROUP BY source ORDER BY source""".stripMargin
      })

  // --------------------------------------------------------------------
  // q296: mega-cluster policy audit — the q280 consumer the round-15
  // verdict asked for. q291/q292 proved CC-vs-pair-local is a REAL scale
  // decision (214× at the 30× octave for the image tier's CC apply);
  // this audit closes the loop: per dedup tier it probes the cluster
  // structure with a BOUNDED min-label propagation (AuditRounds rounds —
  // each round is one edges⋈labels join, so the probe itself stays
  // linear at ANY cluster shape, unlike full CC which iterates to the
  // cluster diameter) and reports
  //  - whether the propagation CONVERGED within the budget (a fixed
  //    point is checked with one extra neighbor-min pass; non-convergence
  //    ⇒ clusters deeper than AuditRounds hops ⇒ exactly the mega-chain
  //    regime where full CC blows up),
  //  - the Hill tail index of the bounded-label cluster sizes at k = 20
  //    (q280's estimator and quantization, verbatim),
  //  - survivor counts under bounded-CC and under the pair-local
  //    election, and their divergence (bounded-CC losers ⊇ local losers
  //    always: any pair's larger id has a smaller neighbor),
  //  - the recommended apply policy under the documented rule:
  //    pair_local when the probe did not converge OR α̂ ≤ 2 (heavy tail
  //    ⇒ a few mega-clusters dominate the pair mass — q280's planning
  //    doctrine); cc otherwise.
  // When the probe converges the bounded labels ARE the exact CC labels,
  // so the audit's survivor divergence is the true CC-vs-local gap.
  // 100 TB: per tier, the pairs are the registered measured-linear
  // paths; on top, AuditRounds+1 join+min rounds over the edge list and
  // one cluster-sized aggregation; driver traffic is 21 + 4 cells/tier.
  // --------------------------------------------------------------------
  private[graft] val AuditRounds = 3
  private val AuditHillK = 20L

  /** Bounded min-label propagation: label(x) after r rounds = min doc_id
    * within graph distance r of x. Fixed round budget, one join + one
    * min-aggregation per round; lineage cut per round (eager
    * localCheckpoint). Each superseded round's checkpoint blocks are
    * released the moment its successor materializes, and the edges
    * checkpoint on return — only the RETURNED labels frame stays
    * resident, for the caller to release after its last consumer
    * (round-16 verdict: dereference-latency reclaim left one block per
    * round piled on the session).
    */
  private[graft] def boundedMinLabels(pairs: DataFrame, rounds: Int): DataFrame = {
    val edges = Cached.checkpoint(pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    for (r <- 1 to rounds) {
      val next = Cached.checkpoint(Graph.minLabelRound(edges, labels, "lbl")
        .select("id", "lbl"))
      if (r > 1) Cached.release(labels)
      labels = next
    }
    Cached.release(edges)
    labels
  }

  /** One audit row per tier, via driver math mirroring q280's (collect
    * is ≤ k+1 size rows + a handful of scalars).
    *
    * Action shape (round-16 verdict #3 — the original ran ~12 strictly
    * sequential jobs per tier): scalar counts that share a source frame
    * are FOLDED into one aggregation each — (n_pairs, local_losers) in
    * one pass over the pair frame, (changed, cc_losers) in one pass
    * over the final labels ⋈ neighbor-min frame, and the top-(k+1)
    * cluster sizes ride one collect with the (m, docs_in) totals via a
    * 1-row cross join — leaving per tier: 1 pair agg + the
    * AuditRounds+1 checkpoint materializations + 1 labels agg + 1
    * sizes collect. Every frame this audit checkpoints is released
    * before return.
    */
  private[graft] def tierAudit(s: SparkSession, tier: String, pairs: DataFrame,
      gauged: Long): (String, Long, Long, Long, Long, Long, Option[Double],
      Long, Long, Long, String) = {
    val p = Cached.persist(pairs.select("id_a", "id_b"))
    try {
      val pAgg = p.agg(count(lit(1)).as("np"),
        count_distinct(col("id_b")).as("ll")).collect().head
      val nPairs = pAgg.getLong(0)
      val localLosers = pAgg.getLong(1)
      val labels = boundedMinLabels(p, AuditRounds)
      try {
        // Fixed-point check: one more min-label round; any improved
        // label means clusters deeper than AuditRounds hops exist. The
        // same pass folds the bounded-CC loser count (the audited label
        // __old ≠ id).
        val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
        val lAgg = Graph.minLabelRound(edges, labels, "lbl")
          .agg(
            sum(when(col("lbl") < col("__old"), 1L).otherwise(0L)).as("chg"),
            sum(when(col("__old") =!= col("id"), 1L).otherwise(0L)).as("ccl"))
          .collect().head
        val changed = if (lAgg.isNullAt(0)) 0L else lAgg.getLong(0)
        val ccLosers = if (lAgg.isNullAt(1)) 0L else lAgg.getLong(1)
        val converged = if (changed == 0L) 1L else 0L
        val sizes = Cached.persist(labels.groupBy("lbl").agg(count(lit(1)).as("sz")))
        val (top, m, docsIn) =
          try {
            val rows = sizes.orderBy(col("sz").desc, col("lbl").asc)
              .limit(AuditHillK.toInt + 1)
              .crossJoin(sizes.agg(count(lit(1)).as("m"), sum("sz").as("di")))
              .collect()
            if (rows.isEmpty) (Array.empty[Long], 0L, 0L)
            else (rows.map(_.getLong(1)), rows.head.getLong(2),
              if (rows.head.isNullAt(3)) 0L else rows.head.getLong(3))
          } finally Cached.release(sizes)
        // q280's Hill math verbatim at the single planning k.
        val n = m + (gauged - docsIn)
        val kEff = math.min(AuditHillK, n - 1)
        val sk1 = if (kEff >= 0 && kEff + 1 <= m) top(kEff.toInt) else 1L
        val q = (1L to math.min(kEff, m)).map { i =>
          math.floor(math.log(top(i.toInt - 1).toDouble / sk1) * 1e6 + 0.5).toLong
        }.sum
        val alpha = if (q > 0) Some(dround(kEff.toDouble * 1e6 / q, 6)) else None
        val survCc = gauged - ccLosers
        val survLocal = gauged - localLosers
        val policy =
          if (converged == 0L || alpha.exists(_ <= 2.0)) "pair_local" else "cc"
        (tier, gauged, nPairs, docsIn, m, converged, alpha, survCc, survLocal,
          survLocal - survCc, policy)
      } finally Cached.release(labels)
    } finally Cached.release(p)
  }

  /** The four tier audits, run CONCURRENTLY over the shared session
    * (Spark's scheduler interleaves jobs from different threads) so a
    * consumer pays the slowest tier, not the sum — round-16 verdict #3:
    * ~40 strictly sequential driver actions serialized to 14.5 s warm.
    * Each audit builds its fingerprint frame ONCE, reads both the gauge
    * count and the pair join from it, and releases it on completion.
    * Shared by q296 (the audit rows) and q299 (the manifest check).
    */
  private[graft] def runTierAudits(s: SparkSession, d: String): Seq[(String,
      Long, Long, Long, Long, Long, Option[Double], Long, Long, Long,
      String)] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val fs = Seq(
        Future {
          val fp = MediaQueries.audioFingerprints(s, d)
          try tierAudit(s, "audio", MediaQueries.audioPairsFrom(fp),
            fp.count())
          finally Cached.release(fp)
        },
        Future {
          val fp = MediaQueries.imageFingerprints(s, d)
          try tierAudit(s, "image", MediaQueries.imagePairsFrom(fp),
            fp.count())
          finally Cached.release(fp)
        },
        Future(tierAudit(s, "text",
          PipelineQueries.bandedVerifiedPairs(s, d),
          Tables.documents(s, d).count())),
        Future {
          val fr = MediaQueries.videoFrameHashes(s, d)
          try tierAudit(s, "video", MediaQueries.videoPairsBandedOf(fr),
            fr.select("doc_id").distinct().count())
          finally Cached.release(fr)
        })
      Await.result(Future.sequence(fs), Duration.Inf)
    } finally pool.shutdown()
  }

  /** DuckDB mirror of one [[tierAudit]]: (CTE chain, per-tier row
    * SELECT). Object-scoped so q296 and q299 nest the SAME chains.
    */
  private def sqlTier(pfx: String, tier: String, pairCte: String,
        gaugedSql: String): (String, String) = {
      val R = AuditRounds
      val steps = (1 to R).map { r =>
        s"""${pfx}l$r AS MATERIALIZED (SELECT n.id,
           |    least(n.lbl, coalesce(m.mn, n.lbl)) AS lbl
           |  FROM ${pfx}l${r - 1} n LEFT JOIN (
           |    SELECT e.dst AS id, min(l.lbl) AS mn
           |    FROM ${pfx}e e JOIN ${pfx}l${r - 1} l ON l.id = e.src
           |    GROUP BY 1) m USING (id))""".stripMargin
      }.mkString(",\n")
      // Every multiply-referenced CTE is MATERIALIZED: DuckDB inlines
      // plain CTEs per reference, and the l-chain references its
      // predecessor twice per round — without materialization the pair
      // tier would be recomputed 2^R times (measured: the sf0.001
      // oracle ran minutes instead of seconds).
      val ctes =
        s"""${pfx}p AS MATERIALIZED (SELECT id_a, id_b FROM $pairCte),
           |${pfx}e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst
           |  FROM ${pfx}p
           |  UNION ALL SELECT id_b AS src, id_a AS dst FROM ${pfx}p),
           |${pfx}l0 AS MATERIALIZED (
           |  SELECT DISTINCT src AS id, src AS lbl FROM ${pfx}e),
           |$steps,
           |${pfx}chg AS (SELECT CAST(count(*) AS BIGINT) AS c
           |  FROM ${pfx}l$R n JOIN (
           |    SELECT e.dst AS id, min(l.lbl) AS mn
           |    FROM ${pfx}e e JOIN ${pfx}l$R l ON l.id = e.src
           |    GROUP BY 1) m USING (id)
           |  WHERE m.mn < n.lbl),
           |${pfx}cs AS MATERIALIZED (
           |  SELECT lbl, CAST(count(*) AS BIGINT) AS sz
           |  FROM ${pfx}l$R GROUP BY 1),
           |${pfx}g AS (SELECT CAST(($gaugedSql) AS BIGINT) AS gauged),
           |${pfx}mm AS (SELECT CAST(count(*) AS BIGINT) AS m,
           |    CAST(coalesce(sum(sz), 0) AS BIGINT) AS di FROM ${pfx}cs),
           |${pfx}ord AS (SELECT sz, CAST(row_number() OVER (
           |    ORDER BY sz DESC, lbl ASC) AS BIGINT) AS rn FROM ${pfx}cs),
           |${pfx}tl AS (SELECT g.gauged, mm.m, mm.di,
           |    mm.m + (g.gauged - mm.di) AS n,
           |    least($AuditHillK, mm.m + (g.gauged - mm.di) - 1) AS k_eff,
           |    coalesce((SELECT sz FROM ${pfx}ord
           |      WHERE rn = least($AuditHillK, mm.m + (g.gauged - mm.di) - 1)
           |        + 1), 1) AS sk1
           |  FROM ${pfx}g g CROSS JOIN ${pfx}mm mm),
           |${pfx}sm AS (SELECT CAST(coalesce(sum(
           |      CAST(floor(ln(CAST(o.sz AS DOUBLE) / t.sk1) * 1e6 + 0.5)
           |        AS BIGINT)), 0) AS BIGINT) AS q
           |  FROM ${pfx}tl t LEFT JOIN ${pfx}ord o ON o.rn <= t.k_eff)""".stripMargin
      val row =
        s"""SELECT '$tier' AS tier, t.gauged AS n_gauged,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${pfx}p) AS n_pairs,
           |  t.di AS n_in_pairs, t.m AS n_groups,
           |  CAST(CASE WHEN (SELECT c FROM ${pfx}chg) = 0 THEN 1 ELSE 0 END
           |    AS BIGINT) AS converged,
           |  CASE WHEN sm.q > 0
           |    THEN ${sqlRound("CAST(t.k_eff AS DOUBLE) * 1e6 / sm.q", 6)}
           |  END AS alpha_hat,
           |  t.gauged - (SELECT CAST(count(*) AS BIGINT) FROM ${pfx}l$R
           |    WHERE lbl <> id) AS surv_cc_bounded,
           |  t.gauged - (SELECT CAST(count(DISTINCT id_b) AS BIGINT)
           |    FROM ${pfx}p) AS surv_local,
           |  (SELECT CAST(count(*) AS BIGINT) FROM ${pfx}l$R WHERE lbl <> id)
           |    - (SELECT CAST(count(DISTINCT id_b) AS BIGINT) FROM ${pfx}p)
           |    AS divergence,
           |  CASE WHEN (SELECT c FROM ${pfx}chg) <> 0 THEN 'pair_local'
           |    WHEN sm.q > 0 AND
           |      ${sqlRound("CAST(t.k_eff AS DOUBLE) * 1e6 / sm.q", 6)} <= 2.0
           |      THEN 'pair_local'
           |    ELSE 'cc' END AS policy
           |FROM ${pfx}tl t CROSS JOIN ${pfx}sm sm""".stripMargin
      (ctes, row)
  }

  /** The four tier chains + per-tier audit rows, shared verbatim by
    * q296 (which selects them directly) and q299 (which joins them to
    * the manifest's wiring).
    */
  private def sqlAuditChains: (String, String) = {
    val (tc, tr) = sqlTier("pa_t", "text", "p",
      "SELECT count(*) FROM documents")
    val (ic, ir) = sqlTier("pa_i", "image", "ip",
      "SELECT count(*) FROM ifp")
    val (ac, ar) = sqlTier("pa_a", "audio", "ap",
      "SELECT count(*) FROM afp")
    val (vc, vr) = sqlTier("pa_v", "video", "vpb",
      "SELECT count(DISTINCT doc_id) FROM vfr")
    val ctes =
      s"""${PipelineQueries.bandedVerifiedSqlCtes},
         |${MediaQueries.imagePairSqlCtes},
         |${MediaQueries.audioPairSqlCtes},
         |${MediaQueries.videoPairSqlCtes},
         |${MediaQueries.videoBandedSqlCtes},
         |$tc,
         |$ic,
         |$ac,
         |$vc""".stripMargin
    val rows =
      s"""$tr
         |UNION ALL $ir
         |UNION ALL $ar
         |UNION ALL $vr""".stripMargin
    (ctes, rows)
  }

  private def policyAuditQ: Q =
    Q("q296_dedup_policy_audit",
      (s, d) => {
        import s.implicits._
        runTierAudits(s, d)
          .toDF("tier", "n_gauged", "n_pairs", "n_in_pairs", "n_groups",
            "converged", "alpha_hat", "surv_cc_bounded", "surv_local",
            "divergence", "policy")
          .orderBy("tier")
      },
      Some {
        val (ctes, rows) = sqlAuditChains
        s"""WITH RECURSIVE $ctes
           |$rows
           |ORDER BY tier""".stripMargin
      })

  // --------------------------------------------------------------------
  // q299: manifest-vs-audit policy check (round-16 verdict #5). q293
  // deliberately HARD-WIRES its tier mechanisms — keep-best over the
  // banded-verified CLUSTERS for text (a cluster election: transitive
  // closure semantics), pair-local losers for image/audio/video (the
  // right 100 TB default) — and q296's recommendation stays
  // informational, not a switch. This query is the audited CHECK that
  // the wiring is never in the DANGEROUS quadrant: a tier the manifest
  // resolves with a CLUSTER election while the audit reads the
  // mega-cluster regime (non-convergence within the bounded probe, or
  // heavy tail α̂ ≤ 2 ⇒ pair mass concentrated in a few mega-clusters ⇒
  // closure-based apply blows up — q291's measured 214×). On that
  // divergence BOTH engines fail loudly (require / error(), the q282
  // pattern); the conservative direction — manifest pair_local where
  // the audit would allow cc — is reported as consistent: pair-local
  // removes a subset of closure's losers and stays linear at any
  // cluster shape, so it is always SAFE, merely less aggressive.
  // 100 TB: the audit chains are the bounded-probe paths of q296; the
  // check adds a 4-row literal join. Output is 4 rows.
  // --------------------------------------------------------------------
  /** What q293 actually wires per tier: text rides
    * [[PipelineQueries.keepBestLosers]] (per-CLUSTER election over the
    * banded-verified closure), media tiers ride pair-local losers.
    * Literals here, asserted against the audit — change q293's wiring
    * and this map (and its SQL VALUES twin) must follow or q299 fails.
    */
  private val ManifestPolicy = Seq(
    "text" -> "cc", "image" -> "pair_local",
    "audio" -> "pair_local", "video" -> "pair_local")

  private def policyCheckQ: Q =
    Q("q299_policy_manifest_check",
      (s, d) => {
        import s.implicits._
        val man = ManifestPolicy.toMap
        val rows = runTierAudits(s, d).map { a =>
          val (tier, rec) = (a._1, a._11)
          val wired = man(tier)
          val consistent = !(wired == "cc" && rec == "pair_local")
          require(consistent,
            s"q299: manifest wires a cluster election on tier '$tier' " +
              "but the audit recommends pair_local (mega-cluster regime)")
          (tier, wired, rec, a._6, a._7, consistent)
        }
        rows.toDF("tier", "manifest_policy", "recommended_policy",
            "converged", "alpha_hat", "consistent")
          .orderBy("tier")
      },
      Some {
        val (ctes, rows) = sqlAuditChains
        val values = ManifestPolicy
          .map { case (t, p) => s"('$t', '$p')" }.mkString(", ")
        s"""WITH RECURSIVE $ctes,
           |aud AS ($rows),
           |man AS (SELECT * FROM (VALUES $values)
           |  m(tier, manifest_policy))
           |SELECT a.tier, m.manifest_policy, a.policy AS recommended_policy,
           |  a.converged, a.alpha_hat,
           |  CASE WHEN m.manifest_policy = 'cc' AND a.policy = 'pair_local'
           |    THEN CAST(error('q299: manifest cluster election against a '
           |      || 'pair_local recommendation on tier ' || a.tier)
           |      AS BOOLEAN)
           |    ELSE TRUE END AS consistent
           |FROM aud a JOIN man m USING (tier)
           |ORDER BY a.tier""".stripMargin
      })

  val all: Seq[Q] = Seq(manifestQ, policyAuditQ, policyCheckQ)
}
