package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.text.Dedup

/** Boundary behaviour of the one local-vs-distributed dispatch
  * ([[LocalTier]]): how a budget is read, where the gauge comparison
  * flips, and what the decision record says.
  */
class LocalTierSpec extends SparkSpec {

  private def withProp[A](k: String, v: Option[String])(f: => A): A = {
    def set(x: Option[String]): Unit = x match {
      case Some(s) => sys.props(k) = s
      case None => sys.props.remove(k)
    }
    val old = sys.props.get(k)
    set(v)
    try f finally set(old)
  }

  private def tiny = {
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("x")
  }

  /** Runs one dispatch of `tiny` under `tier`'s budget `v`; returns the
    * collected row count (None = distributed) and how often the gauge ran. */
  private def dispatch(tier: LocalTier.Tier, v: Option[String],
      gauge: LocalTier.Gauge = LocalTier.Gauge(3L)): (Option[Int], Int) = {
    val gauged = new AtomicInteger(0)
    val out = withProp(tier.prop, v) {
      LocalTier.collect(tier, tiny) { gauged.incrementAndGet(); gauge }(rows => Some(rows.length))
    }
    (out, gauged.get)
  }

  test("the four budgets keep their prop names and defaults") {
    assert(LocalTier.All.map(t => t.prop -> t.default) == Seq(
      "graft.local.cc.max.edges" -> (1L << 20),
      "graft.local.pr.max.edges" -> (1L << 20),
      "graft.local.bpe.max.rows" -> 2000000L,
      "graft.local.clf.max.cells" -> (4L << 20)))
  }

  test("budget: unset or non-numeric ⇒ default; 0 or negative ⇒ local tier disabled, gauge not run") {
    LocalTier.All.foreach { t =>
      assert(withProp(t.prop, None)(t.budget) == t.default)
      assert(withProp(t.prop, Some("lots"))(t.budget) == t.default)
      assert(withProp(t.prop, Some("1.5"))(t.budget) == t.default)
      assert(withProp(t.prop, Some("7"))(t.budget) == 7L)
      assert(dispatch(t, None) == (Some(3), 1), t.prop)
      assert(dispatch(t, Some("lots")) == (Some(3), 1), t.prop)
      assert(dispatch(t, Some("0")) == (None, 0), t.prop)
      assert(dispatch(t, Some("-4")) == (None, 0), t.prop)
    }
  }

  test("gauge fits at exactly perBudget × budget, not one past; chars capped at MaxChars") {
    // CC/PR budget undirected pairs and gauge directed edges (2×)
    assert(dispatch(LocalTier.Cc, Some("2"), LocalTier.Gauge(4L))._1.isDefined)
    assert(dispatch(LocalTier.Cc, Some("2"), LocalTier.Gauge(5L))._1.isEmpty)
    assert(dispatch(LocalTier.Clf, Some("4"), LocalTier.Gauge(4L))._1.isDefined)
    assert(dispatch(LocalTier.Clf, Some("4"), LocalTier.Gauge(5L))._1.isEmpty)
    assert(dispatch(LocalTier.Bpe, None, LocalTier.Gauge(3L, LocalTier.MaxChars))._1.isDefined)
    assert(dispatch(LocalTier.Bpe, None, LocalTier.Gauge(3L, LocalTier.MaxChars + 1))._1.isEmpty)
  }

  test("drain returns the last decision per operator once, with its gauge") {
    LocalTier.drain()
    dispatch(LocalTier.Bpe, Some("0"))
    dispatch(LocalTier.Bpe, Some("10"))
    dispatch(LocalTier.Clf, Some("2"))
    assert(LocalTier.drain() == Seq(
      "bpe" -> LocalTier.Decision(local = true, 3L),
      "clf" -> LocalTier.Decision(local = false, 3L)))
    assert(LocalTier.drain().isEmpty)
    dispatch(LocalTier.Cc, Some("0"))
    assert(LocalTier.drain() == Seq("cc" -> LocalTier.Decision(local = false, -1L)))
  }

  // Three disjoint pairs: 6 distinct directed edges, so the local tier
  // holds at budget 3 (6 ≤ 2·3) and not at budget 2.
  private def threePairs = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 1L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
  }

  private def labels(budget: String): (Seq[(Long, Long)], Int, LocalTier.Decision) = {
    val rounds = new AtomicInteger(0)
    LocalTier.drain()
    val out = withProp(LocalTier.Cc.prop, Some(budget)) {
      Dedup.connectedComponents(threePairs, roundsOut = rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    }
    (out, rounds.get, LocalTier.drain().toMap.apply("cc"))
  }

  test("connectedComponents: 2×budget distinct directed edges takes the local tier; one fewer budget does not") {
    val expected = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L), (6L, 5L))
    val (atBudget, roundsAt, tierAt) = labels("3")
    assert(atBudget == expected)
    assert(roundsAt == 1)
    assert(tierAt == LocalTier.Decision(local = true, 6L))
    val (over, roundsOver, tierOver) = labels("2")
    assert(over == expected)
    assert(roundsOver > 1)
    assert(tierOver == LocalTier.Decision(local = false, 6L))
  }

  test("BPE: a trainer state exactly at the rows budget is collected; one row over stays distributed") {
    import spark.implicits._
    val enc = (ts: String) => ";" + ts.map(_.toString).mkString(";;") + ";"
    val state = Seq(enc("abab") -> 5L, enc("abc") -> 4L, enc("bc") -> 3L).toDF("enc", "freq")
    def run(budget: String) = {
      LocalTier.drain()
      val merges = withProp(LocalTier.Bpe.prop, Some(budget)) {
        PipelineQueries.phraseBpeMergesOn(spark, state)
      }
      (merges, LocalTier.drain().toMap.apply("bpe"))
    }
    val (local, atBudget) = run("3")
    assert(atBudget == LocalTier.Decision(local = true, 3L))
    val (dist, over) = run("2")
    assert(over == LocalTier.Decision(local = false, 3L))
    assert(local == dist && local.nonEmpty)
  }
}
