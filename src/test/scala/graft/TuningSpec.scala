package graft

/** Semantic pins for the round-13 family (q263–q269). Hash-level
  * engine/oracle parity lives in the DuckDB oracles; these tests pin
  * the LAWS each query's semantics promise — the properties a user of
  * the operator would rely on, independent of the corpus.
  */
class TuningSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) =
    Queries.all.find(_.name == name).get.run(spark, sf).collect()

  test("q263: Lloyd trajectory conserves mass and never increases total inertia") {
    val rows = run("q263_kmeans_lloyd")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val n = Tables.embeddings(spark, sf).count()
    val byIter = rows.groupBy(_._1)
    assert(byIter.keySet == Set(1L, 2L, 3L))
    byIter.foreach { case (it, rs) =>
      assert(rs.map(_._3).sum == n, s"iter $it: cluster sizes don't sum to corpus")
    }
    // Lloyd's descent property: each assign+re-estimate step can only
    // lower the total within-cluster mass. Centroid rounding perturbs
    // at the 1e-6 scale — allow one micro-unit per vector of slack.
    val totals = (1 to 3).map(i => byIter(i.toLong).map(_._4).sum)
    assert(totals(1) <= totals(0) + n && totals(2) <= totals(1) + n,
      s"inertia not descending: $totals")
    // Drift is reported against the PREVIOUS iteration's centroids and
    // must shrink as the fit converges on this corpus.
    val shifts = (1 to 3).map(i => byIter(i.toLong).map(_._5).sum)
    assert(shifts(2) <= shifts(0), s"centroid drift grew across rounds: $shifts")
  }

  test("q264: CountMin estimates never underestimate and agree with a recount") {
    import org.apache.spark.sql.functions._
    val rows = run("q264_countmin_audit")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 31) // full vocab of the synthetic corpus < 64
    rows.foreach { case (tok, exact, est, over) =>
      assert(est >= exact, s"'$tok': CMS underestimated ($est < $exact)")
      assert(over == est - exact, s"'$tok': overcount column inconsistent")
    }
    val top = rows.maxBy(_._2)
    val recount = Tables.documents(spark, sf)
      .select(explode(graft.text.TextOps.tokens(col("text"))).as("w"))
      .filter(col("w") === top._1).count()
    assert(recount == top._2, s"top token exact count ${top._2} != recount $recount")
  }

  test("q265: the S-curve table is monotone in b and crosses 1/2 at s50") {
    val rows = run("q265_lsh_plan")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
    rows.foreach { case (b, r, sig, s50, _, _, _, _) =>
      assert(sig == b * r && sig <= 128)
      assert(s50 > 0.0 && s50 < 1.0)
      // P(s50) = 1 − (1 − s50^r)^b must be 1/2 by construction (s50 is
      // published at 6 dp → tolerance loosened accordingly).
      val p = 1.0 - math.pow(1.0 - math.pow(s50, r.toDouble), b.toDouble)
      assert(math.abs(p - 0.5) < 1e-3, s"(b=$b,r=$r): P(s50)=$p")
    }
    // More bands at fixed rows ⇒ curve shifts left: s50 strictly drops.
    rows.groupBy(_._2).foreach { case (r, rs) =>
      val byB = rs.sortBy(_._1).map(_._4)
      assert(byB.zip(byB.tail).forall { case (a, c) => c < a },
        s"r=$r: s50 not decreasing in b")
    }
  }

  test("q266: recall and scan cost are monotone in nprobe; recall@full-probe is high") {
    // Leak pin (round-13 advice): q266 must not leave a corpus-sized
    // cache behind after its plan is consumed — new persisted RDDs
    // after the run means the MEMORY_AND_DISK leak is back.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = run("q266_ivf_probe_sweep")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q266 leaked persisted RDDs: $leaked")
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(rows.map(_._2).distinct.length == 1, "query budget differs across rows")
    val recalls = rows.map(_._3)
    val fracs = rows.map(_._4)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a },
      s"recall not monotone in nprobe: ${recalls.toSeq}")
    assert(fracs.zip(fracs.tail).forall { case (a, b) => b >= a },
      s"scan cost not monotone in nprobe: ${fracs.toSeq}")
    assert(fracs.forall(f => f > 0.0 && f <= 1.0))
    // Probing 8 of 10 lists must recover most of the exact top-10.
    assert(recalls.last >= 0.8, s"recall@nprobe=8 is ${recalls.last}")
  }

  test("q268: Parkinson and Rogers–Satchell are non-negative; Parkinson matches a driver recount") {
    import org.apache.spark.sql.functions._
    val rows = run("q268_realized_vol")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, nDays, pk, _, rs) =>
      assert(nDays >= 1)
      // H ≥ L always ⇒ ln(H/L)² ≥ 0; H ≥ C,O and L ≤ C,O ⇒ the RS
      // product terms are both ≥ 0 — Garman–Klass alone may go negative
      // on drift-heavy days.
      assert(pk >= 0.0, s"user $u: negative Parkinson $pk")
      assert(rs >= 0.0, s"user $u: negative Rogers–Satchell $rs")
    }
    // Independent recount for the first user straight from raw events
    // (drives the same daily-bar definition by hand).
    val u0 = rows.head._1
    val evs = Tables.events(spark, sf)
      .filter(col("user_id") === u0 && col("value").isNotNull && col("ts").isNotNull)
      .select(unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val daily = evs.groupBy(t => math.ceil(t._1 / 86400e6).toLong * 86400)
      .values.map { es =>
        val sorted = es.sortBy(_._1)
        (sorted.head._2, es.map(_._2).max, es.map(_._2).min, sorted.last._2)
      }.filter(_._3 > 0).toSeq
    val pkTerms = daily.map { case (_, h, l, _) =>
      math.floor(math.pow(math.log(h / l), 2) / (4 * math.log(2)) * 1e9 + 0.5).toLong
    }
    val expect = math.floor(pkTerms.sum.toDouble / pkTerms.length / 1e9 * 1e6 + 0.5) / 1e6
    assert(rows.head._2 == pkTerms.length.toLong, "n_days mismatch vs recount")
    assert(approx(rows.head._3, expect, 1e-9), s"parkinson ${rows.head._3} != $expect")
  }

  test("q269: novelty mass conserves the distinct-gram count and the first doc is fully novel") {
    import org.apache.spark.sql.functions._
    val rows = run("q269_ngram_novelty")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    rows.foreach { case (doc, ng, nn, nov) =>
      assert(nn <= ng, s"doc $doc: more novel grams than grams")
      assert(nov >= 0.0 && nov <= 1.0)
    }
    // Every distinct gram hash is first-seen in exactly one document ⇒
    // Σ n_novel = |distinct gram hashes in the corpus|.
    val distinctGrams = Tables.documents(spark, sf)
      .select(explode(array_distinct(
        graft.text.TextOps.wordShingles(col("text"), 3))).as("g"))
      .select(graft.text.TextOps.md5Hash60(col("g")).as("h"))
      .distinct().count()
    assert(rows.map(_._3).sum == distinctGrams,
      s"novelty mass ${rows.map(_._3).sum} != distinct grams $distinctGrams")
    // The lowest doc_id that has grams can only contain first-seen ones.
    val firstDoc = rows.minBy(_._1)
    assert(firstDoc._4 == 1.0, s"first doc novelty ${firstDoc._4} != 1.0")
  }

  test("q271: balance audit partitions the corpus and loads average to 1") {
    val rows = run("q271_ivf_balance")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == (0L until 10L))
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == n, "list populations don't partition the corpus")
    rows.foreach { case (l, nv, frac, load) =>
      assert(nv >= 0 && frac >= 0.0 && frac <= 1.0)
      assert(approx(load, frac * 10.0, 1e-5), s"list $l: load != k*frac")
    }
    // Mean load is 1.0 by construction (Σ n·k/total over k lists = k).
    assert(approx(rows.map(_._4).sum / 10.0, 1.0, 1e-4))
  }

  test("q272: digit scaffold is total, fractions sum to 1, expectations are Benford's") {
    import org.apache.spark.sql.functions._
    val rows = run("q272_benford")
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))
    assert(rows.map(_._1).toSeq == (1L to 9L))
    // Conservation (round-13 advice): EVERY positive value contributes
    // to exactly one digit cell — the 1..9 clamp means a float-log10
    // edge case folds into an adjacent digit instead of being silently
    // dropped by the scaffold join, so Σ n_obs equals the raw positive
    // row count exactly (not just "fractions ≈ 1").
    val positives = Tables.events(spark, sf)
      .filter(col("value").isNotNull && col("value") > 0).count()
    assert(rows.map(_._2).sum == positives,
      s"digit mass ${rows.map(_._2).sum} != positive rows $positives")
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4, "observed fractions don't sum to 1")
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4, "Benford fractions don't sum to 1")
    rows.foreach { case (d, n, _, bf, chi2) =>
      assert(n >= 0 && chi2 >= 0.0)
      assert(approx(bf, math.log10(1.0 + 1.0 / d), 1e-5),
        s"digit $d: expectation $bf isn't log10(1+1/$d)")
    }
    // First digits of real magnitudes are monotone-decreasing under
    // Benford; the EXPECTATION column must be, whatever the data does.
    val bfs = rows.map(_._4)
    assert(bfs.zip(bfs.tail).forall { case (a, b) => b < a })
  }

  test("LloydFit.lookup: explicit dir never falls back to another dir's fit") {
    val lloyd = TuningQueries.LloydRuns
    lloyd.clear()
    try {
      val fit = (Seq((1L, 0L, 1L, 0L, 0L)), Seq((0L, Array(1.0))))
      lloyd.put("/data/a", fit)
      assert(lloyd.lookup(Some("/data/a")).isDefined)
      // Single-fit convenience applies ONLY without a dump context.
      assert(lloyd.lookup(None).isDefined)
      // An explicit-but-unmatched dir must MISS (loud oracle error
      // branch), not silently embed /data/a's centroids.
      assert(lloyd.lookup(Some("/data/other")).isEmpty,
        "mismatched explicit dir fell back to another dir's fit")
    } finally lloyd.clear()
  }

  test("q275: DoReMi trajectory — simplex weights, clipped excess, EG direction, no leak") {
    import org.apache.spark.sql.functions._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val rows = run("q275_doremi_mixture")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"q275 leaked persisted RDDs: $leaked")
    val byStep = rows.groupBy(_._1)
    assert(byStep.keySet == Set(1L, 2L, 3L, 4L))
    val dCount = byStep(1L).size
    byStep.foreach { case (t, rs) =>
      assert(rs.size == dCount, s"step $t: domain set changed mid-trajectory")
      // Weights live on the (rounded) simplex: Σα = 1 within D half-grid
      // units, every α above the smoothing floor s/D and below 1.
      val sum = rs.map(_._5).sum
      assert(math.abs(sum - 1.0) <= dCount * 5e-7 + 1e-9,
        s"step $t: Σα = $sum")
      rs.foreach { case (_, src, nTok, ex, a) =>
        assert(ex >= 0L, s"step $t $src: clipped excess is negative")
        assert(nTok > 0L)
        assert(a >= 0.1 / dCount - 1e-6 && a < 1.0,
          s"step $t $src: α=$a escapes (smoothing floor, 1)")
      }
    }
    // n_tokens is the raw per-source token count — recount one source.
    val (src0, nTok0) = (rows.head._2, rows.head._3)
    val recount = Tables.documents(spark, sf)
      .filter(col("source") === src0)
      .select(explode(graft.text.TextOps.tokens(col("text")))).count()
    assert(nTok0 == recount, s"$src0: n_tokens $nTok0 != recount $recount")
    // Exponentiated-gradient direction at step 1 (uniform start): the
    // strictly-max-excess domain must end step 1 with the max weight.
    val s1 = byStep(1L)
    val maxEx = s1.map(_._4).max
    if (s1.count(_._4 == maxEx) == 1) {
      val exArg = s1.maxBy(_._4)._2
      val aArg = s1.maxBy(_._5)._2
      assert(exArg == aArg,
        s"step 1: max-excess domain $exArg did not get max weight ($aArg did)")
    }
  }

  test("q277: mixture apply — budget conserved, rates consistent, pinned to q275 step-T") {
    val plan = run("q277_mixture_apply")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    val q275 = run("q275_doremi_mixture")
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(4)))
    val lastStep = q275.map(_._1).max
    val finalW = q275.filter(_._1 == lastStep).map(t => t._2 -> t._3).toMap
    assert(plan.map(_._1).toSet == finalW.keySet, "source sets differ")
    val n = plan.map(_._2).sum
    plan.foreach { case (src, nTok, share, a, rate, exp) =>
      // Composition pin: the plan applies EXACTLY the learned weights.
      assert(a == finalW(src), s"$src: plan α $a != q275 final ${finalW(src)}")
      assert(approx(share, math.floor(nTok.toDouble / n * 1e6 + 0.5) / 1e6, 1e-9))
      assert(approx(rate, math.floor(a * n / nTok * 1e6 + 0.5) / 1e6, 1e-9))
      assert(exp == math.floor(a * n + 0.5).toLong)
      assert(rate > 0.0)
    }
    // Shares and weights are both (rounded) simplexes ⇒ the planned
    // token budget conserves the corpus within rounding.
    assert(math.abs(plan.map(_._3).sum - 1.0) <= plan.size * 5e-7 + 1e-9)
    assert(math.abs(plan.map(_._6).sum - n).toDouble <=
      plan.size * (1.0 + n * 5e-7), "planned budget drifts from corpus size")
  }

  test("q278: shuffle audit — epoch coverage, exact rank identity, hash orders decorrelated") {
    import org.apache.spark.sql.functions._
    val rows = run("q278_epoch_shuffle_audit")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    val perSource = Tables.documents(spark, sf)
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val audited = perSource.filter(_._2 >= 2)
    assert(rows.groupBy(_._1).keySet == audited.keySet)
    rows.foreach { case (src, ep, n, d2, rho) =>
      assert(ep >= 1 && ep <= 4)
      assert(n == audited(src), s"$src: n_docs $n != corpus ${audited(src)}")
      // Both orders are permutations of 1..n ⇒ Σd² ∈ [0, (n³−n)/3].
      assert(d2 >= 0 && d2 <= (n * n * n - n) / 3, s"$src ep$ep: d2 out of range")
      val expect = 1.0 - 6.0 * d2.toDouble / (n.toDouble * (n.toDouble * n - 1))
      assert(approx(rho, math.floor(expect * 1e6 + 0.5) / 1e6, 1e-9),
        s"$src ep$ep: rho inconsistent with d2")
      assert(rho >= -1.0 && rho <= 1.0)
    }
    // The point of the audit: epoch-keyed hash orders are DECORRELATED.
    // |ρ| of independent permutations concentrates at ~1/√(n−1); a
    // broken shuffle (epoch ignored) would measure ρ = 1.0 exactly.
    rows.foreach { case (src, ep, n, _, rho) =>
      val bound = math.min(0.99, 6.0 / math.sqrt(n.toDouble - 1))
      assert(math.abs(rho) <= bound,
        s"$src ep$ep: |rho|=$rho suspiciously correlated (n=$n)")
    }
  }

  test("q279: DSIR selection — budget, ordering, target exclusion, independent score recompute") {
    val rows = run("q279_dsir_select")
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
    // Fixed selection budget: the corpus has more than K non-target docs,
    // so exactly K rows come back with dense ranks 1..K.
    assert(rows.length == 100, s"expected K=100 rows, got ${rows.length}")
    assert(rows.map(_._1).toSeq == (1L to 100L), "ranks not dense 1..K")
    // Total order: scores non-increasing, doc_id ascending within ties,
    // no doc selected twice, and the target domain is never selected.
    // Guarded like the q281 law below: sliding(2) over a <2-row result
    // yields a 1-element window — filter it instead of MatchError-ing.
    rows.sliding(2).filter(_.length == 2).foreach {
      case Array((_, d1, _, _, w1), (_, d2, _, _, w2)) =>
        assert(w1 > w2 || (w1 == w2 && d1 < d2), "selection order broken")
    }
    assert(rows.map(_._2).distinct.length == rows.length)
    assert(rows.forall(_._3 != "src0"), "target-domain doc selected")
    // Independent recompute of the full DSIR scoring (pure Scala: JDK md5,
    // whitespace split, add-1 hashed unigram models) for the top-ranked
    // doc — pins the hash, the bucketing, the smoothing, and the µnat
    // quantization against the engine's distributed plan.
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = {
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def buckets(text: String): Seq[Long] =
      text.split("\\s+").filter(_.nonEmpty).toSeq.map(w => h60(w) % 1024L)
    val tgt = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    val raw = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    docs.foreach { case (_, src, text) =>
      buckets(text).foreach { b =>
        raw(b) += 1; if (src == "src0") tgt(b) += 1
      }
    }
    val (nr, nt) = (raw.values.sum, tgt.values.sum)
    def ll(b: Long): Long = math.floor(
      (math.log((tgt(b) + 1.0) / (nt + 1024).toDouble) -
        math.log((raw(b) + 1.0) / (nr + 1024).toDouble)) * 1e6 + 0.5).toLong
    val (_, topDoc, _, topN, topW) = rows.head
    val (_, _, topText) = docs.find(_._1 == topDoc).get
    val bs = buckets(topText)
    assert(bs.length.toLong == topN, s"token count $topN != recount ${bs.length}")
    assert(bs.map(ll).sum == topW, s"score $topW != independent recompute")
    // And the top doc really is the arg-max over all non-target docs.
    val best = docs.filter(d => d._2 != "src0" && d._3.split("\\s+").exists(_.nonEmpty))
      .map { case (id, _, text) => (buckets(text).map(ll).sum, id) }
      .max(Ordering.Tuple2(Ordering.Long, Ordering.Long.reverse))
    assert(best._2 == topDoc && best._1 == topW, s"rank-1 doc is not arg-max: $best")
  }

  test("q281: Neyman split — budget conserved, allocation monotone in weight, sample independently recomputed") {
    import org.apache.spark.sql.functions._
    val rows = run("q281_neyman_split")
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    val nSources = Tables.documents(spark, sf).select("source").distinct().count()
    assert(rows.length == nSources, "a source is missing from the allocation")
    val d = rows.length
    // Largest-remainder-free rounding: per-source floor(x+0.5) keeps the
    // realized budget within D/2 of the target.
    val totalAlloc = rows.map(_._5).sum
    assert(math.abs(totalAlloc - 100L) <= d / 2 + 1,
      s"allocated $totalAlloc docs against budget 100")
    // More variance·mass ⇒ at least as much budget (floor is monotone).
    // sliding(2) on a single-source corpus yields one 1-element window;
    // filter it out so the law degrades gracefully instead of MatchError.
    rows.sortBy(_._4).sliding(2).filter(_.length == 2).foreach {
      case Array(a, b) =>
        assert(a._5 <= b._5 || a._5 == a._2 || b._5 == b._2,
          s"allocation not monotone in weight: $a vs $b")
    }
    rows.foreach { case (src, n, sig, w, alloc, mean) =>
      assert(alloc <= n, s"$src: allocated more than the stratum holds")
      assert(sig >= 0.0 && w >= 0L)
      mean.foreach(m => assert(m >= 0.0 && m <= 1.0, s"$src: sample mean $m"))
      assert(mean.isDefined == (alloc > 0L), s"$src: mean/alloc mismatch")
    }
    // Independent recompute of one stratum end-to-end: σ and the realized
    // hash-rank sample via the engine's own scored corpus but JDK md5 +
    // pure-Scala order — pins the quantization, the weight, and the pick.
    val scored = graft.text.TextOps
      .qualityScore(Tables.documents(spark, sf), "text")
      .select(col("doc_id"), col("source"),
        floor(col("quality_score") * 1e6 + 0.5).cast("long").as("qu"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val (src0, n0, sig0, w0, alloc0, mean0) = rows.head
    val qs = scored.filter(_._2 == src0)
    val mean = qs.map(_._3).sum.toDouble / qs.length
    val sigU = math.sqrt(math.max(
      qs.map(q => q._3 * q._3).sum.toDouble / qs.length - mean * mean, 0.0))
    assert(n0 == qs.length)
    assert(approx(sig0, math.floor(sigU / 1e6 * 1e6 + 0.5) / 1e6, 1e-9))
    assert(w0 == math.floor(qs.length * sigU + 0.5).toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    if (alloc0 > 0) {
      val picked = qs.sortBy(q => (h60(s"neyman:${q._1}"), q._1)).take(alloc0.toInt)
      val expMean = math.floor(
        picked.map(_._3).sum.toDouble / picked.length / 1e6 * 1e6 + 0.5) / 1e6
      assert(mean0.exists(approx(_, expMean, 1e-9)),
        s"$src0: sample mean ${mean0} != recomputed pick $expMean")
    }
  }

  test("q282: data-constrained plan — pinned to q277 budgets, decay laws, dedup bound") {
    val plan = run("q282_data_constrained_plan")
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5)))
    val budgets = run("q277_mixture_apply")
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    assert(plan.map(_._1).toSet == budgets.keySet, "source sets differ")
    // Unique tokens can never exceed the raw corpus tokens of the source.
    val rawTok = run("q275_doremi_mixture")
      .filter(_.getLong(0) == 1L).map(r => r.getString(1) -> r.getLong(2)).toMap
    plan.foreach { case (src, b, u, ep, eff, util) =>
      // Composition pin: budget is EXACTLY q277's expected_tokens.
      assert(b == budgets(src), s"$src: budget $b != q277 ${budgets(src)}")
      assert(u > 0 && u <= rawTok(src), s"$src: unique tokens out of bounds")
      assert(approx(ep, math.floor(b.toDouble / u * 1e6 + 0.5) / 1e6, 1e-9))
      // Value laws from the decay model: effective tokens are bounded by
      // the budget on the fresh side and by U·(1+R*) asymptotically, and
      // utilization is consistent and ≤ 1.
      if (b <= u) assert(eff == b, s"$src: fresh budget not fully effective")
      else {
        assert(eff >= u, s"$src: repetition made data vanish")
        assert(eff <= b, s"$src: effective exceeds trained budget")
        assert(eff <= math.ceil(u * (1.0 + 15.4)).toLong,
          s"$src: effective exceeds the decay asymptote")
        val expect = math.floor(u + u * 15.4 *
          (1.0 - math.exp(-(b.toDouble / u - 1.0) / 15.4)) + 0.5).toLong
        assert(eff == expect, s"$src: effective $eff != recompute $expect")
      }
      assert(approx(util, math.floor(eff.toDouble / b * 1e6 + 0.5) / 1e6, 1e-9))
      assert(util > 0.0 && util <= 1.0, s"$src: utilization $util")
    }
  }

  test("q284: tau sweep — flattening law, exp(H) consistency, tau=1 arm recomputed from q275") {
    val rows = run("q284_tau_mixture_audit")
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq == Seq(0.25, 0.5, 1.0), "tau grid changed")
    val q275 = run("q275_doremi_mixture")
    val nTok = q275.filter(_.getLong(0) == 1L)
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val lastStep = q275.map(_.getLong(0)).max
    val alpha = q275.filter(_.getLong(0) == lastStep)
      .map(r => r.getString(1) -> r.getDouble(4)).toMap
    val d = nTok.size
    rows.foreach { case (tau, h, eff, mx, l1) =>
      assert(h >= 0.0 && h <= math.log(d.toDouble) + 1e-6,
        s"tau=$tau: entropy $h outside [0, ln D]")
      assert(approx(eff, math.floor(math.exp(h) * 1e6 + 0.5) / 1e6, 1e-9),
        s"tau=$tau: eff_domains inconsistent with entropy")
      assert(mx >= 1.0 / d - 1e-6 && mx <= 1.0, s"tau=$tau: max weight $mx")
      assert(l1 >= 0.0 && l1 <= 2.0 + 1e-9, s"tau=$tau: L1 $l1 outside [0, 2]")
    }
    // Flattening law: lower temperature exponent ⇒ flatter mixture ⇒
    // entropy non-increasing and max weight non-decreasing in tau.
    assert(rows(0)._2 >= rows(1)._2 - 1e-6 && rows(1)._2 >= rows(2)._2 - 1e-6,
      "entropy not monotone in tau")
    assert(rows(0)._4 <= rows(1)._4 + 1e-6 && rows(1)._4 <= rows(2)._4 + 1e-6,
      "max weight not monotone in tau")
    // Independent recompute of the tau = 1 arm straight from q275's raw
    // token counts — pins the share fold, both quantized sums, and the
    // rounding chain.
    val sources = nTok.keys.toSeq.sorted
    val ntt = sources.map(nTok).sum
    val svq = sources.map { src =>
      src -> math.floor(nTok(src).toDouble / ntt * 1e9 + 0.5).toLong
    }
    val zq = svq.map(_._2).sum
    val w = svq.map { case (src, vq) => src -> vq.toDouble / zq }
    val hq = w.map { case (_, wv) =>
      math.floor(wv * math.log(wv) * 1e9 + 0.5).toLong }.sum
    val lq = w.map { case (src, wv) =>
      math.floor(math.abs(wv - alpha(src)) * 1e9 + 0.5).toLong }.sum
    val h6 = math.floor(-hq.toDouble / 1e9 * 1e6 + 0.5) / 1e6
    val arm1 = rows.find(_._1 == 1.0).get
    assert(approx(arm1._2, h6, 1e-9), "tau=1 entropy != recompute")
    assert(approx(arm1._4,
      math.floor(w.map(_._2).max * 1e6 + 0.5) / 1e6, 1e-9))
    assert(approx(arm1._5, math.floor(lq.toDouble / 1e9 * 1e6 + 0.5) / 1e6, 1e-9),
      "tau=1 L1 != recompute")
  }

  test("q267: OOV output covers only eval splits and its rates are consistent") {
    val rows = run("q267_oov_rate")
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, split, nTok, nOov, rate, nTyp, nOovTyp, typeRate) =>
      assert(split == "val" || split == "test", s"unexpected split '$split'")
      assert(nOov <= nTok && nOovTyp <= nTyp)
      assert(approx(rate, nOov.toDouble / nTok, 1e-5))
      assert(approx(typeRate, nOovTyp.toDouble / nTyp, 1e-5))
    }
  }

  test("q295: stream DSIR gate — final state matches the batch scorer, threshold is q279's budget boundary") {
    val gate = run("q295_stream_dsir_gate")
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val top = run("q279_dsir_select")
      .map(r => (r.getLong(1), r.getLong(3), r.getLong(4)))
    // τ = the K-th best reference score (q279's own boundary).
    val tau = top.last._3
    // The gate covers exactly the scorable non-target docs; no target
    // docs slip through, no doc appears twice (idempotent replay sink).
    assert(gate.forall(_._2 != "src0"), "target-domain doc in the gate")
    assert(gate.map(_._1).distinct.length == gate.length, "duplicated docs")
    // Decision law: kept ⇔ logw ≥ τ, doc for doc.
    gate.foreach { case (id, _, _, w, kept) =>
      assert(kept == (w >= tau), s"doc $id: kept=$kept but logw=$w vs tau=$tau")
    }
    // Threshold semantics: the kept set is q279's top-K plus any ties
    // at τ — a superset of the budget pick, never smaller.
    val keptIds = gate.filter(_._5).map(_._1).toSet
    top.foreach { case (id, _, _) =>
      assert(keptIds.contains(id), s"q279-selected doc $id dropped by the gate")
    }
    assert(keptIds.size >= top.length)
    (keptIds.size - top.length) match {
      case extra => assert(extra == gate.count(g => g._4 == tau && g._5) -
        top.count(_._3 == tau), "kept excess is not exactly the tie mass")
    }
    // Scores and token counts agree with the batch scorer on the
    // selected overlap (stream scoring == batch scoring, value-exact).
    val byId = gate.map(g => g._1 -> (g._3, g._4)).toMap
    top.foreach { case (id, nt, w) =>
      assert(byId(id) == ((nt, w)), s"doc $id: stream score != batch score")
    }
  }
}
