package graft

import org.apache.spark.sql.functions._

import graft.text.Dedup

/** Round-17 optimization: the adaptive LOCAL tiers (small-state BPE
  * trainer loops, union-find connected components, integral PageRank,
  * quantized classifier GD) must be trajectory-identical to the
  * distributed tiers they shortcut — same outputs, same order where the
  * contract pins one. The registered queries' DuckDB oracles pin
  * end-to-end equality at every SF; these tests pin the
  * local≡distributed equivalence DIRECTLY, including on shapes the bench
  * corpus may not exercise (ties, chains, batch conflicts).
  */
class LocalTierParitySpec extends SparkSpec {

  // ---------------------------------------------------------------- CC

  private def ccFixture(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("id_a", "id_b")
  }

  private def sortedLabels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("connectedComponents: local union-find ≡ distributed min-label on chains/stars/dups") {
    val fixtures = Seq(
      // 4-chain (diameter forces >1 distributed round), separate pair,
      // star, duplicate + reversed edges, self-referencing ids
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)),
      Seq((5L, 1L), (5L, 2L), (5L, 3L), (7L, 6L), (6L, 7L), (7L, 6L)),
      Seq((100L, 42L), (42L, 100L), (9L, 9L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L))
    )
    fixtures.foreach { fx =>
      val df = ccFixture(fx)
      val local = sortedLabels(Dedup.connectedComponents(df))
      val edges = df.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(df.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
      val dist = sortedLabels(Dedup.connectedComponentsDistributed(edges))
      assert(local == dist, s"fixture $fx")
      // and the local result is exactly what union-find says
      val uf = Dedup.unionFindMin(fx.toArray).toSeq.sorted
      assert(local == uf, s"fixture $fx vs raw union-find")
    }
  }

  test("connectedComponents local tier returns a LocalRelation (no distributed jobs downstream)") {
    val df = ccFixture(Seq((1L, 2L), (2L, 3L)))
    val out = Dedup.connectedComponents(df)
    val plan = out.queryExecution.optimizedPlan.toString()
    assert(plan.contains("LocalRelation"), plan)
  }

  // --------------------------------------------------------- BPE (q221)

  private def charEnc(w: String): String = ";" + w.map(_.toString).mkString(";;") + ";"

  /** A word-type state with ties and multi-step merge dynamics. */
  private val charState: Array[(String, Long)] = Array(
    charEnc("abab") -> 5L, charEnc("abc") -> 5L, charEnc("bc") -> 3L,
    charEnc("aa") -> 2L, charEnc("a") -> 9L, charEnc("cab") -> 4L)

  private def stateDf(st: Array[(String, Long)]) = {
    import spark.implicits._
    st.toSeq.toDF("enc", "freq")
  }

  test("bpeMerges: local ≡ distributed trajectory (steps, symbols, counts) incl. exhaustion") {
    val local = PipelineQueries.bpeMergesLocal(charState, 32)
    val dist = PipelineQueries.bpeMergesDistributed(stateDf(charState), 32)
    assert(local == dist)
    assert(local.nonEmpty)
    // exhaustion: both stop short of k when pairs run out
    assert(local.size < 32)
  }

  test("bpeBatchedMerges: local ≡ distributed trajectory (rounds, batch ranks, conflicts)") {
    val local = PipelineQueries.bpeBatchedMergesLocal(charState, 8)
    val dist = PipelineQueries.bpeBatchedMergesDistributed(stateDf(charState), 8)
    assert(local == dist)
    assert(local.nonEmpty)
  }

  // ------------------------------------------------------ phrase (q260)

  private def phraseEnc(toks: String*): String = ";" + toks.mkString(";;") + ";"

  private val phraseState: Array[(String, Long)] = Array(
    phraseEnc("the", "cat", "sat", "on", "the", "mat") -> 7L,
    phraseEnc("the", "cat", "ran") -> 4L,
    phraseEnc("on", "the", "mat") -> 4L,
    phraseEnc("cat", "sat") -> 2L,
    phraseEnc("the", "the", "the") -> 3L)

  test("phraseBpeMerges: local ≡ distributed RDD trajectory") {
    val local = PipelineQueries.phraseBpeMergesLocal(phraseState)
    val dist = PipelineQueries.phraseBpeMergesDistributed(spark, stateDf(phraseState))
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("phrase-BPE delta-count invariant: boundary algebra ≡ full recount (audit on)") {
    // Round-18: the local tier maintains the pair-count map by delta
    // updates at merge-site boundaries instead of a per-round recount.
    // graft.bpe.audit=1 makes the loop recount after EVERY round and
    // require equality with the delta map — drift fails loudly. The
    // fixtures are the delta's adversarial cases: overlapping-pair runs
    // (greedy left-to-right on a^n), back-to-back merges in one batch
    // (merged-merged adjacency), a length-2 sequence collapsing to a
    // single symbol (no surviving pairs), and repeated merges of
    // already-merged symbols across rounds. Each is ALSO checked
    // against the distributed recount loop, so both the invariant and
    // the trajectory are pinned.
    val fixtures = Seq(
      // greedy overlap: runs of one symbol, odd and even lengths
      Array(phraseEnc("a", "a", "a", "a", "a") -> 5L,
        phraseEnc("a", "a", "a", "a") -> 3L,
        phraseEnc("a", "a") -> 2L),
      // back-to-back distinct merges in one scan: p q r s with both
      // (p,q) and (r,s) frequent enough to land in one batch
      Array(phraseEnc("p", "q", "r", "s") -> 9L,
        phraseEnc("p", "q") -> 6L, phraseEnc("r", "s") -> 6L,
        phraseEnc("q", "r") -> 1L),
      // length-2 collapse + merge at sequence start/end boundaries
      Array(phraseEnc("x", "y") -> 9L,
        phraseEnc("x", "y", "z") -> 4L,
        phraseEnc("w", "x", "y") -> 4L),
      // the standard fixture, audited too
      phraseState)
    sys.props("graft.bpe.audit") = "1"
    try fixtures.foreach { st =>
      val local = PipelineQueries.phraseBpeMergesLocal(st)
      val dist = PipelineQueries.phraseBpeMergesDistributed(spark, stateDf(st))
      assert(local == dist, s"fixture ${st.take(1).mkString}")
    } finally sys.props.remove("graft.bpe.audit")
  }

  // -------------------------------------------------- PageRank (q136)

  test("pageRankFixedPoint: local ≡ distributed integral power iterations") {
    val fixtures = Seq(
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)),
      Seq((5L, 1L), (5L, 2L), (5L, 3L), (7L, 6L), (6L, 7L)),
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)))
    fixtures.foreach { fx =>
      val df = ccFixture(fx)
      val local = sortedLabels(graft.sim.Graph.pageRankFixedPoint(df, "id_a", "id_b", 5))
      val und = df.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(df.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct()
      val dist = sortedLabels(graft.sim.Graph.pageRankDistributed(spark, und, 5))
      assert(local == dist, s"fixture $fx")
    }
  }

  // ------------------------------------------------------- clf (q287)

  test("clfFit: local GD ≡ distributed GD (trajectory + final weights) on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val (trajL, wqL) = ClassifierQueries.clfFitLocal(
      ClassifierQueries.featureTableOf(Tables.documents(spark, d))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
    val (trajD, wqD) = ClassifierQueries.clfFitDistributedOn(spark,
      ClassifierQueries.featureTableOf(Tables.documents(spark, d)))
    assert(trajL == trajD)
    assert(wqL.toSeq == wqD.toSeq)
  }

  test("phraseBpeMerges on the sf0.001 corpus rides the local tier and matches the RDD loop") {
    val d = "/root/testdata/sf0.001"
    // audit on: every one of the run's rounds cross-checks the
    // delta-maintained pair counts against a full recount (round-18)
    val viaRegistry =
      try { sys.props("graft.bpe.audit") = "1"; PipelineQueries.phraseBpeMerges(spark, d) }
      finally sys.props.remove("graft.bpe.audit")
    val seed = PipelineQueries.phraseSeqs(spark, d)
    val dist = PipelineQueries.phraseBpeMergesDistributed(spark, seed)
    assert(viaRegistry == dist)
    assert(viaRegistry.size >= 1000, s"learned ${viaRegistry.size} merges")
  }

  // ---------------------------------------- forced-distributed dispatch
  // Round-18 (VERDICT r17 #2): the sf0.1 bench exercises only the LOCAL
  // tier of these operators, so a regression in the 100 TB code path
  // would otherwise be invisible. These tests zero the LocalTier
  // sys-prop budgets and drive the PUBLIC dispatch — proving the gauge
  // itself routes to the distributed tier and that the distributed
  // result still matches.

  private def withProp[A](k: String, v: String)(f: => A): A = {
    sys.props(k) = v
    try f finally sys.props.remove(k)
  }

  test("forced-distributed (budget=0): connectedComponents dispatch matches local tier") {
    val fx = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 4L))
    val df = ccFixture(fx)
    val local = sortedLabels(Dedup.connectedComponents(df))
    val dist = withProp("graft.local.cc.max.edges", "0") {
      sortedLabels(Dedup.connectedComponents(df))
    }
    assert(local == dist)
  }

  test("forced-distributed (budget=0): pageRankFixedPoint dispatch matches local tier") {
    val fx = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val df = ccFixture(fx)
    val local = sortedLabels(graft.sim.Graph.pageRankFixedPoint(df, "id_a", "id_b", 5))
    val dist = withProp("graft.local.pr.max.edges", "0") {
      sortedLabels(graft.sim.Graph.pageRankFixedPoint(df, "id_a", "id_b", 5))
    }
    assert(local == dist)
  }

  test("forced-distributed (budget=0): pageRankFixedPoint releases each superseded round's checkpoint") {
    val df = ccFixture(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)))
    val local = sortedLabels(graft.sim.Graph.pageRankFixedPoint(df, "id_a", "id_b", 5))
    val before = spark.sparkContext.getPersistentRDDs.size
    val ranks = withProp("graft.local.pr.max.edges", "0") {
      graft.sim.Graph.pageRankFixedPoint(df, "id_a", "id_b", 5)
    }
    // only the returned ranks checkpoint may stay resident
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1, s"persisted RDDs $before -> $after")
    assert(sortedLabels(ranks) == local)
    org.apache.spark.sql.graft.CheckpointRelease.release(ranks)
  }

  test("forced-distributed (budget=0): phraseBpeMerges dispatch matches local tier") {
    val local = PipelineQueries.phraseBpeMergesLocal(phraseState)
    val dist = withProp("graft.local.bpe.max.rows", "0") {
      import spark.implicits._
      PipelineQueries.phraseBpeMergesOn(spark, phraseState.toSeq.toDF("enc", "freq"))
    }
    assert(local == dist)
  }

  test("forced-distributed (budget=0): clf fit dispatch matches local tier on sf0.001") {
    val d = "/root/testdata/sf0.001"
    val local = ClassifierQueries.clfFitLocal(
      ClassifierQueries.featureTableOf(Tables.documents(spark, d))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))))
    // budget=1: the gauge runs (persist + count), finds the table over
    // budget, and hands the PERSISTED frame to the distributed loop —
    // exercising the round-18 reuse path end to end.
    val dist = withProp("graft.local.clf.max.cells", "1") {
      ClassifierQueries.clfFitRun(spark, d)
    }
    assert(local._1 == dist._1)
    assert(local._2.toSeq == dist._2.toSeq)
  }

  // Deep-diameter bound (ADVICE r17): the distributed min-label loop
  // propagates the component minimum one hop per round, so a component
  // with diameter > maxIter−1 cannot converge within the cap. The local
  // union-find is exact at any diameter; the distributed tier must fail
  // LOUDLY rather than silently return non-minimum labels — and must
  // match the local tier exactly when maxIter covers the diameter.
  test("connectedComponents: 30-node chain — local exact, distributed loud at maxIter=25, equal at maxIter=40") {
    val chain = (1L until 30L).map(i => (i, i + 1))
    val df = ccFixture(chain)
    val local = sortedLabels(Dedup.connectedComponents(df))
    assert(local.forall(_._2 == 1L))
    def und = df.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(df.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsDistributed(und, maxIter = 25)
    }
    assert(e.getMessage.contains("did not converge"))
    val dist = sortedLabels(Dedup.connectedComponentsDistributed(und, maxIter = 40))
    assert(local == dist)
  }
}
