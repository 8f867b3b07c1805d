package graft.text

import graft.{Cached, LocalTier, PipelineQueries, SparkSpec}

/** Semantic pins for q260_bpe_phrase_1k (the ≥1k-merge phrase-BPE
  * trainer). Hash-level engine/oracle parity lives in the DuckDB
  * recursive-CTE oracle; these tests pin the claims the query makes:
  * the merge count target, the adaptive stop, and the batch-safety
  * invariant (pairwise non-interference within a round) that makes
  * round-start counts exact at application time.
  */
class PhraseBpeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val traj = graft.Queries.all
    .find(_.name == "q260_bpe_phrase_1k").get.run(spark, sf)
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))

  test("learns at least 1024 merges, stopping exactly when the target is crossed") {
    assert(traj.length >= 1024, s"only ${traj.length} merges learned")
    val lastRound = traj.map(_._1).max
    val beforeLast = traj.count(_._1 < lastRound)
    assert(beforeLast < 1024,
      "loop ran a round after the target was already met (adaptive stop broken)")
  }

  test("rounds and batch indices are contiguous") {
    val rounds = traj.map(_._1).distinct.sorted
    assert(rounds.sameElements(1L to rounds.max),
      "round numbering has gaps — a round accepted nothing but continued")
    rounds.foreach { r =>
      val bks = traj.filter(_._1 == r).map(_._2).sorted
      assert(bks.sameElements(1L to bks.max), s"round $r bk gap")
    }
  }

  test("every round's batch is pairwise non-interfering (shared or created symbols)") {
    traj.groupBy(_._1).foreach { case (r, ms) =>
      val batch = ms.sortBy(_._2).map(m => (m._3, m._4))
      for (i <- batch.indices; j <- 0 until i) {
        val (pl, pr) = batch(i); val (ql, qr) = batch(j)
        val interferes = ql == pl || ql == pr || qr == pl || qr == pr ||
          (ql + "~" + qr) == pl || (ql + "~" + qr) == pr ||
          (pl + "~" + pr) == ql || (pl + "~" + pr) == qr
        assert(!interferes,
          s"round $r: merges ($ql,$qr) and ($pl,$pr) interfere — batch invariant broken")
      }
    }
  }

  test("created symbols never collide with the base vocabulary (round-12 ADVICE #1)") {
    // Base symbols are sanitized to [A-Za-z0-9]+; every created symbol
    // is '~'-joined, so it must contain '~' and can never equal a base
    // word. Bare concatenation would not satisfy this (the+rapist =
    // therapist) — the exact aliasing the separator scheme removes.
    val baseVocab = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.explode(
        graft.text.TextOps.tokens(org.apache.spark.sql.functions.col("text"))).as("w"))
      .collect().map(_.getString(0).replaceAll("[^A-Za-z0-9]", ""))
      .filter(_.nonEmpty).toSet
    traj.foreach { case (r, bk, l, rr, _) =>
      val created = l + "~" + rr
      assert(created.contains("~") && !baseVocab.contains(created),
        s"round $r bk $bk: created symbol '$created' collides with a base word")
      // Constituents are themselves base words or earlier '~'-joined
      // phrases — never a bare concatenation of two words.
      Seq(l, rr).foreach { s =>
        assert(s.contains("~") || baseVocab.contains(s),
          s"round $r bk $bk: symbol '$s' is neither a base word nor a '~'-joined phrase")
      }
    }
  }

  test("counts are positive and weakly credible (a merge's count fits the corpus)") {
    val nDocs = graft.Tables.documents(spark, sf).count()
    val maxTokens = 4096L * nDocs
    traj.foreach { case (r, bk, l, rr, c) =>
      assert(c >= 1, s"round $r bk $bk: non-positive count")
      assert(c <= maxTokens, s"round $r bk $bk: count $c exceeds corpus bound")
    }
  }

  // The BPE trainers checkpoint their seed table (`bpeWords` /
  // `phraseSeqs`) and must release it before they return, on both tiers:
  // no persisted RDD outlives the call, and the merges stay the same.

  private def withBudget[A](v: Option[String])(f: => A): A = {
    val k = LocalTier.Bpe.prop
    val old = sys.props.get(k)
    v.foreach(sys.props(k) = _)
    try f finally old match {
      case Some(o) => sys.props(k) = o
      case None => sys.props.remove(k)
    }
  }

  /** Runs `train` on the local tier and on the forced-distributed tier;
    * neither run leaves a persisted RDD behind. (The ids are compared, not
    * the count: the ContextCleaner may drop an earlier test's RDD
    * meanwhile.) */
  private def bothTiers[A](name: String)(train: => Seq[A]): Unit = {
    val sc = spark.sparkContext
    val runs = Seq(None, Some("0")).map { budget =>
      val before = sc.getPersistentRDDs.keySet
      val merges = withBudget(budget)(train)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$name (budget ${budget.getOrElse("default")}) left " +
        s"persisted RDDs ${sc.getPersistentRDDs.filter(kv => left(kv._1)).values.mkString(", ")}")
      merges
    }
    assert(runs.head.nonEmpty, s"$name learned no merges")
    assert(runs.head == runs(1), s"$name: local and distributed merges differ")
  }

  test("bpeMerges releases its seed checkpoint on both tiers") {
    bothTiers("bpeMerges")(PipelineQueries.bpeMerges(spark, sf, 6))
  }

  test("bpeBatchedMerges releases its seed checkpoint on both tiers") {
    bothTiers("bpeBatchedMerges")(PipelineQueries.bpeBatchedMerges(spark, sf, rounds = 3))
  }

  test("phraseBpeMerges releases its seed checkpoint on both tiers") {
    bothTiers("phraseBpeMerges")(PipelineQueries.phraseBpeMerges(spark, sf, levels = 2))
  }

  test("phraseBpeMergesOn leaves a caller's seed alone") {
    val seed = PipelineQueries.phraseSeqs(spark, sf)
    val rdd = Cached.checkpointRdd(seed)
    assert(rdd.isDefined)
    try {
      PipelineQueries.phraseBpeMergesOn(spark, seed, levels = 2)
      assert(spark.sparkContext.getPersistentRDDs.contains(rdd.get.id))
    } finally Cached.release(seed)
  }
}
