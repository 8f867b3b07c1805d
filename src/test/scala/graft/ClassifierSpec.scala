package graft

/** Laws + full independent recompute for the learned quality classifier
  * (q287/q288). The recompute re-derives the ENTIRE training trajectory
  * in pure driver Scala — JDK md5 bucketing, integer dot products, the
  * same quantization chain — so the distributed fit's every epoch is
  * pinned, not just the aggregate stats.
  */
class ClassifierSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    Queries.all.find(_.name == name).get.run(spark, sf).collect()

  private val B = ClassifierQueries.ClfBuckets
  private val E = ClassifierQueries.ClfEpochs
  private val Lr = ClassifierQueries.ClfLr

  /** Same 60-bit md5 hash as TextOps.md5Hash60 (q279 spec precedent). */
  private def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Pure-Scala refit: per-doc bucket counts (+ bias pseudo-bucket B),
    * E full-batch epochs. Returns (trajectory, final weights, final
    * per-doc margins).
    */
  private def refit(): (Seq[(Long, Long, Long, Long, Long, Long, Long)],
      Array[Long], Map[Long, (String, Long)]) = {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val feats: Map[Long, (String, Map[Long, Long])] = docs.map {
      case (id, src, text) =>
        val counts = text.split("\\s+").filter(_.nonEmpty)
          .map(w => h60(w.toLowerCase) % B)
          .groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
        id -> (src, counts + (B.toLong -> 1L))
    }.toMap
    val n = docs.length.toLong
    var w = new Array[Long](B + 1)
    val traj = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long, Long, Long)]()
    var margins = Map.empty[Long, (String, Long)]
    for (e <- 1 to E) {
      margins = feats.map { case (id, (src, cs)) =>
        id -> (src, cs.map { case (b, c) => w(b.toInt) * c }.sum)
      }
      val per = margins.map { case (_, (src, m)) =>
        val y = if (src == ClassifierQueries.ClfTarget) 1L else 0L
        val mp = m.toDouble / 1e6
        val gq = math.floor((1.0 / (1.0 + math.exp(-mp)) - y) * 1e6 + 0.5).toLong
        // Stable xent, same expression as the engine and the SQL twin:
        // max(m,0) + ln(1+e^-|m|) never overflows (ln(1+e^m) does at
        // m ≈ 709) — the three sides must share the EXACT double chain.
        val xq = math.floor((math.max(mp, 0.0) +
          math.log(1.0 + math.exp(-math.abs(mp))) - y * mp) * 1e6 + 0.5).toLong
        (y, gq, xq)
      }.toSeq
      val xent = per.map(_._3).sum
      val nPos = per.map(_._1).sum
      val grad = new Array[Long](B + 1)
      feats.foreach { case (id, (src, cs)) =>
        val y = if (src == ClassifierQueries.ClfTarget) 1L else 0L
        val mp = margins(id)._2.toDouble / 1e6
        val gq = math.floor((1.0 / (1.0 + math.exp(-mp)) - y) * 1e6 + 0.5).toLong
        cs.foreach { case (b, c) => grad(b.toInt) += gq * c }
      }
      w = w.zipWithIndex.map { case (wv, b) =>
        wv - math.floor(Lr * grad(b).toDouble / n + 0.5).toLong
      }
      traj += ((e.toLong, xent, nPos, n - nPos, w(B),
        w.view.take(B).map(math.abs).sum, w.view.take(B).count(_ != 0L).toLong))
    }
    // final-weight margins for the q288 cross-check
    margins = feats.map { case (id, (src, cs)) =>
      id -> (src, cs.map { case (b, c) => w(b.toInt) * c }.sum)
    }
    (traj.toSeq, w, margins)
  }

  test("q287: trajectory laws and full epoch-by-epoch recompute") {
    val rows = run("q287_quality_classifier")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.map(_._1).toSeq == (1L to E.toLong), "steps not dense 1..E")
    val n = rows.head._2 + rows.head._3
    rows.foreach { case (_, p, g, _, _, _, _) =>
      assert(p + g == n, "class counts drifted across epochs") }
    // Step 1 runs at zero weights: every doc's xent is exactly
    // floor(ln 2 · 1e6 + 0.5) = 693147 µnats.
    assert(rows.head._4 == 693147L * n, s"step-1 xent ${rows.head._4}")
    // Full-batch descent at the tuned lr: strictly decreasing.
    rows.map(_._4).sliding(2).filter(_.length == 2).foreach { p =>
      assert(p(1) < p(0), s"xent not decreasing: ${p(0)} -> ${p(1)}")
    }
    // Margin sanity: the stable xent form is overflow-proof at ANY
    // margin, but |m| staying small is still the health signal that the
    // fixed-budget fit hasn't blown up.
    val (traj, w, margins) = refit()
    margins.values.foreach { case (_, m) =>
      assert(math.abs(m.toDouble / 1e6) < 30.0, s"margin $m near overflow") }
    // The engine's distributed trajectory == the pure-Scala refit,
    // field for field, every epoch.
    assert(rows.map(r => (r._1, r._4, r._2, r._3, r._5, r._6, r._7)) ===
      traj.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7)),
      s"trajectory mismatch:\nengine=$rows\nrefit =$traj")
    assert(w.exists(_ != 0L), "refit learned nothing")
  }

  test("q288: keep rates recomputed from margins; NB side from the registered scorer") {
    // Retention pin is a DELTA (round-16 verdict #1a): an absolute
    // getPersistentRDDs count is cross-suite order-dependent — blocks
    // other suites' queries left for the ContextCleaner make it flaky in
    // full-suite runs even when THIS test leaks nothing. Snapshot the
    // resident ids at entry and pin only what this test adds.
    val residentBefore = spark.sparkContext.getPersistentRDDs.keySet
    val rows = run("q288_quality_clf_agreement")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    val (_, _, margins) = refit()
    val n = margins.size.toLong
    val nPos = margins.values.count(_._1 == ClassifierQueries.ClfTarget).toLong
    val thrQ = math.floor(math.log(nPos.toDouble / (n - nPos)) * 1e6 + 0.5).toLong
    val nb = PipelineQueries.nbDocScores(spark, sf)
      .select("doc_id", "score_q").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (src, nDocs, ckr, nkr, agr) =>
      val ids = margins.collect { case (id, (s, m)) if s == src => (id, m) }.toSeq
      assert(ids.length.toLong == nDocs, s"$src: doc count")
      def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
      val ck = ids.count(_._2 >= thrQ)
      val nk = ids.count(i => nb(i._1) >= 0L)
      val ag = ids.count(i => (i._2 >= thrQ) == (nb(i._1) >= 0L))
      assert(approx(ckr, r6(ck.toDouble / nDocs), 1e-9), s"$src clf_keep_rate")
      assert(approx(nkr, r6(nk.toDouble / nDocs), 1e-9), s"$src nb_keep_rate")
      assert(approx(agr, r6(ag.toDouble / nDocs), 1e-9), s"$src agreement")
    }
    // The filter is non-degenerate on this corpus: keeps something,
    // drops something, and the two models agree above chance overall.
    val total = rows.map(_._2).sum
    val kept = rows.map(r => r._3 * r._2).sum
    assert(kept > 0 && kept < total, s"degenerate keep mass $kept/$total")
    // Documented retention (round-15 verdict hygiene (b)): q288's NB
    // side rides nbDocScores, whose tokenize pass is localCheckpointed —
    // the block stays resident while the MOST RECENT execution's plan is
    // referenced and is reclaimed by the ContextCleaner on dereference
    // (cleaner latency, not a CacheManager leak — PLANS.md "Round-15
    // leak sweep", GC-settled). Pin the bound: after a GC settle, at most one
    // checkpoint block remains from this test's q288 run.
    System.gc(); Thread.sleep(1000)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- residentBefore
    assert(added.size <= 2,
      s"q288 added ${added.size} persistent blocks ($added); expected <=2 " +
        "(the NB localCheckpoints of q288's scorer and this test's own " +
        "nbDocScores call, each released on dereference)")
  }

  test("q289: stream gate final state equals the batch scorer doc-for-doc") {
    val rows = run("q289_stream_quality_gate")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    val (_, _, margins) = refit()
    val n = margins.size.toLong
    val nPos = margins.values.count(_._1 == ClassifierQueries.ClfTarget).toLong
    val thrQ = math.floor(math.log(nPos.toDouble / (n - nPos)) * 1e6 + 0.5).toLong
    assert(rows.length == margins.size, "gate dropped or duplicated docs")
    rows.foreach { case (id, src, m, kept) =>
      val (rSrc, rM) = margins(id)
      assert(src == rSrc && m == rM, s"doc $id: margin $m != refit $rM")
      assert(kept == (m >= thrQ), s"doc $id: gate decision != threshold test")
    }
  }
}
